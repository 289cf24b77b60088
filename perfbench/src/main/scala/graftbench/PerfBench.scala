package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark process for one workload run: one closed-loop client sends
  * the workload's queries through graft's public entry points — a fresh
  * `SparkEntry.queries` build, or the memoized `api.Prepared.df` — and
  * runs the DataFrame `count()` action on each.
  *
  * Protocol: session, one untimed warm pass that writes every query's
  * full result as parquet for the oracle check and runs its count once
  * (paying fits, codegen and JIT), then timed passes until `--seconds`
  * have elapsed; the seed permutes the query order of every pass. With
  * `--trace 1` every timed pass is traced. After the timed window it
  * times Bench's calibration kernels.
  *
  * Writes `result.json` (and `spans.jsonl` when traced) into `--out`;
  * run.py turns them into the printed metrics.
  *
  * Usage: PerfBench --mode fresh|prepared --sf DIR --queries q1,q2,...
  *   --seed N --seconds S --trace 0|1 --out DIR [--min-passes N]
  *   [--fail-query Q]
  */
object PerfBench {
  /** The 18 query families SparkEntry assembles, by owning module. */
  val families: Seq[(String, Set[String])] = Seq(
    "Scans" -> graft.operators.Scans.queries.keySet,
    "Joins" -> graft.operators.Joins.queries.keySet,
    "Aggregates" -> graft.operators.Aggregates.queries.keySet,
    "SortSet" -> graft.operators.SortSet.queries.keySet,
    "Graph" -> graft.operators.Graph.queries.keySet,
    "Windows" -> graft.operators.Windows.queries.keySet,
    "Scalars" -> graft.functions.Scalars.queries.keySet,
    "Udfs" -> graft.functions.Udfs.queries.keySet,
    "Events" -> graft.streaming.Events.queries.keySet,
    "StreamDemo" -> graft.streaming.StreamDemo.queries.keySet,
    "Dedup" -> graft.llm.Dedup.queries.keySet,
    "Similarity" -> graft.llm.Similarity.queries.keySet,
    "TextStats" -> graft.llm.TextStats.queries.keySet,
    "TextHash" -> graft.llm.TextHash.queries.keySet,
    "LangId" -> graft.llm.LangId.queries.keySet,
    "Ann" -> graft.llm.Ann.queries.keySet,
    "Multimodal" -> graft.llm.Multimodal.queries.keySet,
    "Curation" -> graft.llm.Curation.queries.keySet)
  lazy val familyOf: Map[String, String] =
    families.flatMap { case (f, qs) => qs.map(_ -> f) }.toMap.withDefaultValue("other")

  final case class Conf(mode: String, sf: String, queries: Seq[String],
      seed: Long, seconds: Double, trace: Boolean, out: Path, minPasses: Int,
      failQuery: Option[String])

  def parse(args: Array[String]): Conf = {
    require(args.length % 2 == 0, "arguments come as --key value pairs")
    val m = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val c = Conf(m("mode"), m("sf"), m("queries").split(",").toSeq.filter(_.nonEmpty),
      m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      Paths.get(m("out")), m.getOrElse("min-passes", "1").toInt, m.get("fail-query"))
    require(Set("fresh", "prepared")(c.mode), s"unknown mode ${c.mode}")
    require(c.queries.nonEmpty, "empty query list")
    c
  }

  private def secsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Cumulative guest steal time in jiffies (/proc/stat column 8, read
    * the way graft.Bench reads it); -1 when unreadable. */
  private def stealJiffies(): Long = try {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().find(_.startsWith("cpu ")).map(_.trim.split("\\s+"))
      .filter(_.length > 8).map(_(8).toLong).getOrElse(-1L)
    finally src.close()
  } catch { case _: Exception => -1L }

  private def processCpuNs(): Long = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
    case _ => -1L
  }
  private def jitMs(): Long = Option(ManagementFactory.getCompilationMXBean)
    .filter(_.isCompilationTimeMonitoringSupported).map(_.getTotalCompilationTime)
    .getOrElse(-1L)
  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  private def loadavg(): Double =
    ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  def main(args: Array[String]): Unit = {
    val c = parse(args)
    val unknown = c.queries.filterNot(graft.SparkEntry.queries.contains)
    if (unknown.nonEmpty) {
      System.err.println(s"[perfbench] unknown queries: ${unknown.mkString(",")}")
      sys.exit(2)
    }
    Files.createDirectories(c.out)
    val cpus = Runtime.getRuntime.availableProcessors
    val localDir = c.out.resolve("spark-local").toAbsolutePath
    // Session settings mirror graft.Bench.main, except spark.local.dir,
    // which stays inside the run's output directory.
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1m")
      .config("spark.local.dir", localDir.toString)
      .config("spark.shuffle.sort.bypassMergeThreshold", "200")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def build(name: String): DataFrame = {
      if (c.failQuery.contains(name))
        throw new IllegalStateException(s"injected failure in $name")
      if (c.mode == "fresh") graft.SparkEntry.queries(name)(spark, c.sf)
      else graft.api.Prepared.df(spark, c.sf, name)
    }
    val failures = mutable.LinkedHashMap.empty[String, String]
    def fail(name: String, e: Throwable): Unit = failures.getOrElseUpdate(name,
      s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"): Unit
    val rng = new scala.util.Random(c.seed)

    // Untimed warm pass: every query writes its full result for the oracle
    // check, then runs the timed action once, so fits, codegen of the
    // counted plans and most JIT are paid before timing.
    // Prepared plans are pinned for the whole run: api.Prepared holds
    // them weakly, and a collection between passes would otherwise
    // inject a rebuild into a timed sample.
    val checkDir = c.out.resolve("check")
    val warmBuildS = mutable.Map.empty[String, Double]
    val warmS = mutable.LinkedHashMap.empty[String, Double]
    val pinned = mutable.ArrayBuffer.empty[DataFrame]
    for (name <- rng.shuffle(c.queries)) {
      val t0 = System.nanoTime()
      try {
        val df = build(name)
        warmBuildS(name) = secsSince(t0)
        if (c.mode == "prepared") pinned += df
        df.write.mode("overwrite").parquet(checkDir.resolve(name).toString)
        df.count()
      } catch { case e: Throwable => fail(name, e) }
      warmS(name) = secsSince(t0)
    }
    // Fit cost, traced runs only: a first build pays every FitOnce fill
    // and streaming backlog, a repeat build pays neither.
    val fitS = if (!c.trace) Double.NaN else c.queries.flatMap { name =>
      warmBuildS.get(name).map { first =>
        val t0 = System.nanoTime()
        try { graft.SparkEntry.queries(name)(spark, c.sf); math.max(0.0, first - secsSince(t0)) }
        catch { case _: Throwable => 0.0 }
      }
    }.sum
    val setupS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    // Set-up attribution: these counters start at zero with the process.
    val setupLayers = Seq(
      "codegen_compiles" -> org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME.getCount.toString,
      "codegen_s" -> Json.num(org.apache.spark.sql.catalyst.expressions.codegen
        .CodeGenerator.compileTime / 1e9),
      "jit_s" -> Json.num(jitMs() / 1e3), "gc_s" -> Json.num(gcMs() / 1e3))

    // Timed window.
    val tracer = if (c.trace) Some(new Tracer(spark, familyOf)) else None
    val runSpan = tracer.map(_.newId()).getOrElse(0)
    val run0 = tracer.map(_.nowMs).getOrElse(0.0)
    val passes = mutable.ArrayBuffer.empty[String]
    var attempted = 0; var failed = 0
    val window0 = System.nanoTime()
    var pass = 0
    while (pass < c.minPasses || secsSince(window0) < c.seconds) {
      pass += 1
      val passSpan = tracer.map(_.newId()).getOrElse(0)
      val p0ms = tracer.map(_.nowMs).getOrElse(0.0)
      tracer.foreach(_.attach())
      val steal0 = stealJiffies(); val cpu0 = processCpuNs()
      val jit0 = jitMs(); val gc0 = gcMs()
      val p0 = System.nanoTime()
      val lat = rng.shuffle(c.queries).map { name =>
        attempted += 1
        val t0 = System.nanoTime()
        val ok = try {
          tracer match {
            case Some(t) => t.query(pass, passSpan, name)(build(name))(_.count())
            case None => build(name).count()
          }
          true
        } catch { case e: Throwable => fail(name, e); failed += 1; false }
        name -> (if (ok) Json.num(secsSince(t0)) else "null")
      }
      val wall = secsSince(p0)
      val steal1 = stealJiffies()
      val cpu = (processCpuNs() - cpu0) / 1e9
      val jit = (jitMs() - jit0) / 1e3; val gc = (gcMs() - gc0) / 1e3
      tracer.foreach { t =>
        t.detach()
        t.put(passSpan, runSpan, "pass", s"pass $pass", "", p0ms, t.nowMs)
      }
      passes += Json.obj(Seq("pass" -> pass.toString,
        "wall_s" -> Json.num(wall), "cpu_s" -> Json.num(cpu),
        "steal_jiffies" -> (if (steal0 < 0 || steal1 < 0) "null" else (steal1 - steal0).toString),
        "jit_s" -> Json.num(jit), "gc_s" -> Json.num(gc),
        "queries" -> Json.obj(lat)))
    }
    tracer.foreach(t => t.put(runSpan, 0, "run", "timed window", "", run0, t.nowMs))
    java.lang.ref.Reference.reachabilityFence(pinned)
    // Live heap: in use after full collections at the end of the timed
    // window. The peak used heap tracks when the collector happens to run
    // (it read 328-1122 MB on identical heavy_x10 runs). A trivial action
    // first, because the session keeps the last query's state alive (runs
    // ending with llm_ngram_jaccard read 59 MB more); collections then
    // repeat until the figure settles, because Spark's ContextCleaner drops
    // broadcast and shuffle blocks only after a collection has found their
    // owners unreachable.
    spark.range(1).count()
    org.apache.spark.GraftSparkHooks.drainListenerBus(spark.sparkContext)
    def heapUsed(): Long = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }
    var live = heapUsed(); var prev = Long.MaxValue; var rounds = 1
    while (rounds < 5 && live < prev - prev / 50) {
      Thread.sleep(500)
      prev = live; live = heapUsed(); rounds += 1
    }
    val liveHeapMb = live / (1024.0 * 1024.0)

    // Run context, measured outside the timed window.
    val loadEnd = loadavg()
    val calibS = try graft.Bench.calibKernel() catch { case _: Throwable => -1.0 }
    val calibMemS = try graft.Bench.calibMemKernel() catch { case _: Throwable => -1.0 }

    val conf = (spark.sparkContext.getConf.getAll.toMap ++ spark.conf.getAll)
      .toSeq.sortBy(_._1).map { case (k, v) => k -> Json.str(v) }

    val result = Json.obj(Seq(
      "mode" -> Json.str(c.mode), "seed" -> c.seed.toString,
      "setup_s" -> Json.num(setupS), "fit_s" -> Json.num(fitS),
      "setup_layers" -> Json.obj(setupLayers),
      "live_heap_mb" -> Json.num(liveHeapMb),
      "warm_s" -> Json.obj(warmS.map { case (k, v) => k -> Json.num(v) }),
      "attempted" -> attempted.toString, "failed" -> failed.toString,
      "failures" -> Json.obj(failures.map { case (k, v) => k -> Json.str(v) }),
      "passes" -> Json.arr(passes),
      "rows" -> Json.arr(tracer.toSeq.flatMap(_.rows.map(Json.obj(_)))),
      "context" -> Json.obj(Seq(
        "nproc" -> cpus.toString,
        "loadavg_end" -> Json.num(loadEnd),
        "calib_s" -> Json.num(calibS), "calib_mem_s" -> Json.num(calibMemS),
        "java" -> Json.str(System.getProperty("java.version")),
        "max_heap_mb" -> Json.num(Runtime.getRuntime.maxMemory / (1024.0 * 1024.0)),
        "spark_conf" -> Json.obj(conf)))))
    Files.write(c.out.resolve("result.json"), result.getBytes(UTF_8))
    tracer.foreach(t => Files.write(c.out.resolve("spans.jsonl"),
      t.spansJsonl.toSeq.asJava, UTF_8))
    spark.stop()
  }
}
