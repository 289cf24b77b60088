package graft

import org.apache.spark.sql.SparkSession

/** The one way graft builds a session: the settings the scored
  * [[Bench]] sweep runs under, shared by Verify, PlanDump, the tools
  * and the test suite, so every caller checks and measures the same
  * engine. Callers add only what is theirs (an app name, Verify's
  * starved-spill config) on the returned builder. */
object GraftSession {

  /** Executor slots: `SPARK_GRAFT_CPUS`, default 4. Kept as the raw
    * string because Bench records it verbatim in its artifact. */
  val cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  def builder(cpus: String = GraftSession.cpus): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // AQE on: the at-scale behavior (runtime skew split, partition
      // coalescing). r2 measured it on beating off (27.6 vs 30.4 s);
      // DeterminismSuite pins that turning it off changes timing only.
      .config("spark.sql.adaptive.enabled", "true")
      // Size the generated-class cache to the workload (static conf,
      // default 100 entries): a 167-query sweep cycles far more than
      // 100 generated classes, so by the time a query's SECOND timed
      // pass arrives its classes are evicted and every stage pays
      // janino recompilation again. graph_pagerank — the widest plan,
      // ~9 jobs per run — read 2.4–2.8 s inside every full sweep vs
      // 1.3–1.6 s isolated for two rounds straight; with the cache
      // sized to the sweep the in-sweep number IS the isolated number
      // (NOTES "Bench state by round" r11: before 1.97/1.70/1.50 s,
      // after-166-queries 1.44/1.25/1.31 s at 5000 entries vs 2.66 s
      // first-run-after at the default). Same knob a long-lived
      // production session serving a wide query mix would set.
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      // AQE's partition-coalescing floor stays at the 1m DEFAULT — a
      // deliberate, measured decision, not an oversight. A five-sweep
      // A/B (NOTES r12: full-inventory runs at 1m / 256kb / 128kb /
      // 64kb) showed lowering the floor re-parallelizes small-shuffle
      // queries (total 35.0 -> 32.2-33.5 s) but taxes every ITERATIVE
      // plan with per-iteration task-launch overhead (graph_pagerank
      // 1.34 -> 1.8-2.6 s, win_islands and ev_funnel regress at 64kb)
      // — a regression trade, not a win. The one query whose gap was
      // structural (llm_ann_ivf_probe: pair-cost quadratic in cell
      // size, input bytes linear, so byte-based coalescing serialized
      // ~800 k dot products onto one core) is fixed where it belongs,
      // in the operator (Ann.spreadByCell).
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1m")
      // Shuffle scratch on the job-scoped fast tier (/dev/shm when
      // writable — same policy, and same cleanup hook, as
      // Tables.scratchDir): the ×100 crossover profile showed tiny
      // shuffles dominated by DiskBlockObjectWriter file create/open/
      // delete on disk-backed /tmp (bypass writer: numPartitions files
      // per map task), ~3.5× the samples of the aggregation itself on
      // ev_tumbling. A cluster deployment points local.dir at local
      // SSD for exactly this reason; durable outputs never live here.
      .config("spark.local.dir", sys.env.getOrElse("SPARK_GRAFT_LOCAL_DIR",
        Tables.scratchDir("graft_shuffle_").toString))
      // Shuffle writer choice at the 200 DEFAULT: bypass writes
      // numPartitions files per map task, sort writes one data+index
      // pair. Lowering it to 8 won a micro-benchmark by 15% but cost
      // the full sweep 11% (NOTES r14) — never trade the inventory for
      // a shape.
      .config("spark.shuffle.sort.bypassMergeThreshold", "200")
      // Same session TZ everywhere: timestamp-literal filters must
      // select the same rows in the timed sweep as in the scored
      // correctness run, or a non-UTC box would time different work.
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
}
