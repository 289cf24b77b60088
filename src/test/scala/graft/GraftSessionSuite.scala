package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** One session factory: the shared test session carries the scored
  * engine's settings, and no main-scope code builds a session any
  * other way. */
class GraftSessionSuite extends SparkTestBase {

  test("the shared test session carries GraftSession's settings") {
    val conf = spark.conf
    assert(conf.get("spark.sql.codegen.cache.maxEntries") == "5000")
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.adaptive.enabled") == "true")
    assert(conf.get("spark.sql.adaptive.coalescePartitions.minPartitionSize") == "1m")
    assert(conf.get("spark.shuffle.sort.bypassMergeThreshold") == "200")
    assert(conf.get("spark.sql.shuffle.partitions") == "4")
  }

  test("GraftSession.scala holds the only SparkSession.builder( call in src/main") {
    val root = Paths.get("src", "main", "scala")
    assert(Files.isDirectory(root), s"run from the project root: no $root")
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList
    val calls: List[(Path, String)] = files.flatMap { f =>
      Files.readAllLines(f).asScala.map(_.trim)
        .filterNot(l => l.startsWith("//") || l.startsWith("*") || l.startsWith("/*"))
        .filter(_.contains("SparkSession.builder("))
        .map(f.getFileName -> _)
    }
    assert(calls.map(_._1.toString) == List("GraftSession.scala"),
      s"session builders outside GraftSession:\n${calls.mkString("\n")}")
  }
}
