package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

/** Writes `SparkEntry.oracleSql` — the DuckDB statement that defines
  * each query's expected result — as one JSON object to the given file.
  * Usage: OracleSql <out.json> */
object OracleSql {
  def main(args: Array[String]): Unit =
    Files.write(Paths.get(args(0)), Json.obj(graft.SparkEntry.oracleSql.toSeq
      .sortBy(_._1).map { case (k, v) => k -> Json.str(v) }).getBytes(UTF_8))
}
