package graft.tools

import graft.{GraftSession, SparkEntry}
import org.apache.spark.GraftSparkHooks
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{ExplainMode, FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One tracing surface for "what did this query run, and where did its
  * time go". Every mode builds declared queries fresh through
  * [[SparkEntry.queries]] on the caller's session and returns one text
  * block per query:
  *
  *  - `plan`: `explain("formatted")` — the plans/rNN/ evidence files;
  *  - `codegen`: the generated Java, for per-row expression claims
  *    (plan dumps show operator shape, this shows the row loop);
  *  - `executed`: the AQE-final tree after one run, `numOutputRows`
  *    per node — which join/aggregate actually carries the rows;
  *  - `stages`: plan_s (fresh build through physical planning) and
  *    exec_s (one run of that plan) after a warm run, with tasks, wall
  *    and summed executor run time per stage;
  *  - `stacks`: the hottest 5-frame executor-thread stack signatures,
  *    sampled every 20 ms over [[StackRuns]] runs;
  *  - `multiscan`: queries whose AQE-final plan scans one parquet root
  *    more than once (a shared frame forked below an exchange); every
  *    declared query when none is named.
  *
  * Each figure is one run: repeated timing belongs to Bench and
  * perfbench, whose protocols handle warm-up and noise.
  *
  * Usage: runMain graft.tools.Trace <mode> <sfDir> <outDir|-> [query...]
  * writes `<outDir>/<query>_<mode>.txt` per query (multiscan:
  * `all_multiscan.txt`), or prints to stdout when outDir is `-`.
  */
object Trace {
  private val Modes =
    Seq("plan", "codegen", "executed", "stages", "stacks", "multiscan")
  private val StackRuns = 12

  def run(spark: SparkSession, mode: String, sfDir: String,
      names: Seq[String]): Seq[(String, String)] = {
    require(Modes.contains(mode),
      s"unknown mode '$mode' (one of ${Modes.mkString(", ")})")
    require(names.nonEmpty || mode == "multiscan",
      s"mode '$mode' needs at least one query name")
    def build(name: String): DataFrame = SparkEntry.queries(name)(spark, sfDir)
    mode match {
      case "plan" => names.map(n => n -> explain(build(n), "formatted"))
      case "codegen" =>
        // AQE wraps the tree in AdaptiveSparkPlan, which the codegen
        // explain mode cannot traverse before execution — dumps come out
        // empty. The generated row loop is identical either way.
        val prev = spark.conf.get("spark.sql.adaptive.enabled")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        try names.map(n => n -> explain(build(n), "codegen"))
        finally spark.conf.set("spark.sql.adaptive.enabled", prev)
      case "executed" => names.map(n => n -> executed(build(n)))
      case "stages" => names.map(n => n -> stages(spark, () => build(n)))
      case "stacks" => names.map(n => n -> stacks(() => build(n)))
      case "multiscan" =>
        val all = if (names.isEmpty) SparkEntry.queries.keys.toSeq.sorted else names
        Seq("all" -> multiscan(all, build))
    }
  }

  private def explain(df: DataFrame, mode: String): String =
    df.queryExecution.explainString(ExplainMode.fromString(mode))

  /** Runs the query's full plan — `toRdd`, not `count()`, which would
    * let the optimizer prune the projections a per-row map pays for —
    * and returns the plan that ran, AQE-final. */
  private def execute(df: DataFrame): SparkPlan = {
    df.queryExecution.toRdd.count()
    df.queryExecution.executedPlan
  }

  /** Pre-order walk of an executed plan through AQE's wrappers (the
    * adaptive root and its query stages) to the operators that ran. A
    * reused exchange is a leaf, so a reused subtree is not seen twice. */
  private def walk(p: SparkPlan, depth: Int = 0)(
      visit: (SparkPlan, Int) => Unit): Unit = p match {
    case a: AdaptiveSparkPlanExec => walk(a.executedPlan, depth)(visit)
    case q: QueryStageExec => walk(q.plan, depth)(visit)
    case _ =>
      visit(p, depth)
      p.children.foreach(walk(_, depth + 1)(visit))
  }

  private def executed(df: DataFrame): String = {
    val sb = new StringBuilder
    walk(execute(df)) { (p, d) =>
      val rows = p.metrics.get("numOutputRows").map(_.value.toString).getOrElse("-")
      sb ++= s"${"  " * d}${p.nodeName} rows=$rows\n"
    }
    sb.toString
  }

  private def stages(spark: SparkSession, build: () => DataFrame): String = {
    execute(build()) // warm: codegen, JIT, fit-once scratch tables
    val t0 = System.nanoTime()
    val df = build()
    df.queryExecution.executedPlan
    val planS = (System.nanoTime() - t0) / 1e9
    val done = new java.util.concurrent.ConcurrentLinkedQueue[(Int, String)]
    val listener = new SparkListener {
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        val i = s.stageInfo
        val wall = (for (a <- i.completionTime; b <- i.submissionTime)
          yield (a - b) / 1000.0).getOrElse(-1.0)
        val run = i.taskMetrics.executorRunTime / 1000.0
        done.add(i.stageId -> (f"  stage ${i.stageId}%4d tasks=${i.numTasks}%4d " +
          f"wall_s=$wall%7.3f exec_run_s=$run%8.3f  ${i.name.take(90)}"))
      }
    }
    val sc = spark.sparkContext
    GraftSparkHooks.drainListenerBus(sc) // no warm-run stage may land here
    sc.addSparkListener(listener)
    val t1 = System.nanoTime()
    try execute(df)
    finally {
      GraftSparkHooks.drainListenerBus(sc)
      sc.removeSparkListener(listener)
    }
    val execS = (System.nanoTime() - t1) / 1e9
    val lines = done.asScala.toSeq.sortBy(_._1).map(_._2)
    (f"plan_s=$planS%.3f exec_s=$execS%.3f stages=${lines.size}" +: lines)
      .mkString("", "\n", "\n")
  }

  private def stacks(build: () => DataFrame): String = {
    execute(build()) // warm
    val counts = mutable.Map.empty[String, Int].withDefaultValue(0)
    @volatile var go = true
    val sampler = new Thread(() => {
      while (go) {
        Thread.getAllStackTraces.asScala.foreach { case (t, st) =>
          if (t.getName.startsWith("Executor task launch worker") && st.nonEmpty) {
            val sig = st.take(5)
              .map(f => f.getClassName + "." + f.getMethodName).mkString(" <- ")
            counts.synchronized { counts(sig) += 1 }
          }
        }
        Thread.sleep(20)
      }
    })
    sampler.setDaemon(true)
    sampler.start()
    try (1 to StackRuns).foreach(_ => execute(build()))
    finally { go = false; sampler.join(5000) }
    counts.synchronized(counts.toSeq).sortBy(-_._2).take(20)
      .map { case (sig, n) => f"$n%5d  $sig\n" }.mkString
  }

  private def multiscan(names: Seq[String], build: String => DataFrame): String = {
    var skipped = 0
    val flagged = names.flatMap { name =>
      try {
        val roots = mutable.Map.empty[String, Int].withDefaultValue(0)
        walk(execute(build(name))) {
          // Key on the full root-path set: a basename conflates distinct
          // tables whose directories share a final component.
          case (s: FileSourceScanExec, _) =>
            roots(s.relation.location.rootPaths.map(_.toString).sorted.mkString(",")) += 1
          case _ =>
        }
        val dups = roots.filter(_._2 > 1)
        if (dups.isEmpty) None
        else Some(s"MULTISCAN $name ${dups.map { case (f, n) => s"$f:$n" }.mkString(" ")}")
      } catch { case e: Exception =>
        skipped += 1
        Some(s"SKIP $name ${e.getClass.getSimpleName}")
      }
    }
    (flagged :+ s"multiscan: ${names.size} queries, ${flagged.size - skipped} " +
      s"flagged, $skipped skipped").mkString("", "\n", "\n")
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      s"usage: Trace <${Modes.mkString("|")}> <sfDir> <outDir|-> [query ...]")
    val Array(mode, sfDir, outDir) = args.take(3)
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val out = run(spark, mode, sfDir, args.drop(3).toSeq)
    if (outDir == "-") out.foreach { case (name, txt) => print(s"==== $name\n$txt") }
    else {
      Files.createDirectories(Paths.get(outDir))
      out.foreach { case (name, txt) =>
        val f = Paths.get(outDir, s"${name}_$mode.txt")
        Files.writeString(f, txt)
        println(s"[trace] wrote $f")
      }
    }
    spark.stop()
  }
}
