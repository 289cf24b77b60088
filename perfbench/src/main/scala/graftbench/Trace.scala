package graftbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Span tracer for the traced run. It listens from outside the engine:
  * a SparkListener (jobs, stages, task metrics), a QueryExecutionListener
  * (the QueryPlanningTracker phases of every action), a
  * StreamingQueryListener (micro-batch progress) and Spark's static
  * codegen counters. Events are attributed to the query that was
  * running: after each query the listener bus is drained, so everything
  * buffered belongs to it.
  *
  * Spans form the tree run -> pass -> query -> {build, exec} -> {plan
  * phase, job} -> stage; every span of one query carries the same qid.
  * They are kept in memory and written once, at exit. */
final class Tracer(spark: SparkSession, familyOf: String => String) {
  import Tracer._
  private val nano0 = System.nanoTime()
  private val ms0 = System.currentTimeMillis().toDouble
  /** Wall clock in epoch ms with sub-ms resolution, comparable to the
    * epoch-ms timestamps Spark puts on its events. */
  def nowMs: Double = ms0 + (System.nanoTime() - nano0) / 1e6

  private val spans = ArrayBuffer.empty[Span]
  private var nextId = 0
  /** Reserves a span id, for a span whose children are recorded first. */
  def newId(): Int = { nextId += 1; nextId }
  def put(id: Int, parent: Int, kind: String, name: String, qid: String,
      start: Double, end: Double): Int = {
    spans += Span(id, parent, kind, name, qid, start, end)
    id
  }
  def span(parent: Int, kind: String, name: String, qid: String,
      start: Double, end: Double): Int =
    put(newId(), parent, kind, name, qid, start, end)

  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stages = new java.util.concurrent.ConcurrentLinkedQueue[StageRec]()
  private val tasks = new java.util.concurrent.ConcurrentLinkedQueue[TaskRec]()
  private val plans = new java.util.concurrent.ConcurrentLinkedQueue[PlanRec]()
  private val progress =
    new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Long]]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobs.put(e.jobId, new JobRec(e.jobId, e.time, e.stageIds)): Unit
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = e.stageInfo
      stages.add(StageRec(s.stageId, s.attemptNumber(),
        s.submissionTime.getOrElse(-1L), s.completionTime.getOrElse(-1L))): Unit
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        val sw = m.shuffleWriteMetrics; val sr = m.shuffleReadMetrics
        tasks.add(TaskRec(e.stageId, e.taskInfo.launchTime, e.taskInfo.finishTime,
          m.executorRunTime, m.executorCpuTime, sw.bytesWritten, sw.recordsWritten,
          sw.writeTime, sr.totalBytesRead, sr.fetchWaitTime,
          m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
          m.outputMetrics.bytesWritten, m.diskBytesSpilled,
          m.peakExecutionMemory)): Unit
      }
    }
  }
  private val planListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit =
      plans.add(PlanRec(qe.tracker.phases.map { case (k, p) =>
        k -> (p.startTimeMs, p.endTimeMs) })): Unit
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }
  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e.progress.durationMs.asScala.map { case (k, v) =>
        k -> v.longValue }.toMap): Unit
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(planListener)
    spark.streams.addListener(streamListener)
  }
  def detach(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(planListener)
    spark.streams.removeListener(streamListener)
  }
  private def drain(): Unit =
    org.apache.spark.GraftSparkHooks.drainListenerBus(spark.sparkContext)

  /** One row per traced query: the per-query layer table. */
  val rows = ArrayBuffer.empty[Seq[(String, String)]]

  private def take[A](q: java.util.concurrent.ConcurrentLinkedQueue[A]): Seq[A] = {
    val out = ArrayBuffer.empty[A]
    var a = q.poll()
    while (a != null) { out += a; a = q.poll() }
    out.toSeq
  }

  /** Runs one query (build, then the action) as a traced span tree under
    * `passSpan`; returns the action's result. Exceptions propagate after
    * the spans and the row are recorded. */
  def query[A](pass: Int, passSpan: Int, name: String)(build: => DataFrame)(
      exec: DataFrame => A): A = {
    val qid = s"p$pass:$name"
    val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val compileNs0 = CodeGenerator.compileTime
    val q0 = nowMs
    var b1 = q0; var e1 = q0
    try {
      val df = build
      b1 = nowMs
      val r = exec(df)
      e1 = nowMs
      r
    } finally {
      if (e1 == q0) e1 = nowMs
      if (b1 == q0) b1 = e1
      drain()
      finish(pass, passSpan, name, qid, q0, b1, e1,
        CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0,
        CodeGenerator.compileTime - compileNs0)
    }
  }

  private def finish(pass: Int, passSpan: Int, name: String, qid: String,
      q0: Double, b1: Double, e1: Double, compiles: Long, compileNs: Long): Unit = {
    val qSpan = span(passSpan, "query", name, qid, q0, e1)
    val bSpan = span(qSpan, "build", name, qid, q0, b1)
    val xSpan = span(qSpan, "exec", name, qid, b1, e1)
    def parentOf(startMs: Double) = if (startMs >= b1) xSpan else bSpan
    val done = jobs.values.asScala.filter(_.end >= 0).toSeq.sortBy(_.id)
    done.foreach(j => jobs.remove(j.id))
    val stageRecs = take(stages)
    val taskRecs = take(tasks)
    val planRecs = take(plans)
    val progRecs = take(progress)
    val jobOfStage = done.flatMap(j => j.stages.map(_ -> j)).toMap
    val jobSpan = done.map { j =>
      j.id -> span(parentOf(j.start.toDouble), "job", s"job ${j.id}", qid,
        j.start.toDouble, j.end.toDouble)
    }.toMap
    stageRecs.foreach { s =>
      val parent = jobOfStage.get(s.id).map(j => jobSpan(j.id)).getOrElse(xSpan)
      span(parent, "stage", s"stage ${s.id}.${s.attempt}", qid,
        s.submit.toDouble, s.done.toDouble)
    }
    def phase(k: String) = planRecs.flatMap(_.phases.get(k))
    Seq("analysis", "optimization", "planning").foreach { k =>
      phase(k).foreach { case (s, e) =>
        span(parentOf(s.toDouble), s"plan.$k", name, qid, s.toDouble, e.toDouble) }
    }
    // Exec-window idle time: wall inside the action with no task running.
    val ivs = taskRecs.map(t => (math.max(t.launch.toDouble, b1),
      math.min(t.finish.toDouble, e1))).filter(iv => iv._2 > iv._1).sortBy(_._1)
    var covered = 0.0; var curS = Double.NaN; var curE = Double.NaN
    ivs.foreach { case (s, e) =>
      if (curE.isNaN || s > curE) {
        if (!curE.isNaN) covered += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curE.isNaN) covered += curE - curS
    def sumL(f: TaskRec => Long) = taskRecs.iterator.map(f).sum
    def phaseS(k: String) = phase(k).map { case (s, e) => e - s }.sum / 1e3
    def progS(k: String) = progRecs.flatMap(_.get(k)).sum / 1e3
    rows += Seq(
      "pass" -> pass.toString, "query" -> Json.str(name),
      "module" -> Json.str(familyOf(name)),
      "build_s" -> Json.num((b1 - q0) / 1e3), "exec_s" -> Json.num((e1 - b1) / 1e3),
      "jobs" -> done.size.toString, "stages" -> stageRecs.size.toString,
      "tasks" -> taskRecs.size.toString,
      "run_s" -> Json.num(sumL(_.runMs) / 1e3),
      "cpu_s" -> Json.num(sumL(_.cpuNs) / 1e9),
      "task_overhead_s" -> Json.num(
        sumL(t => t.finish - t.launch - t.runMs) / 1e3),
      "idle_s" -> Json.num(math.max(0.0, (e1 - b1) - covered) / 1e3),
      "shuffle_write_bytes" -> sumL(_.shWriteBytes).toString,
      "shuffle_read_bytes" -> sumL(_.shReadBytes).toString,
      "shuffle_records" -> sumL(_.shWriteRecords).toString,
      "shuffle_write_s" -> Json.num(sumL(_.shWriteNs) / 1e9),
      "fetch_wait_s" -> Json.num(sumL(_.fetchWaitMs) / 1e3),
      "scan_bytes" -> sumL(_.inBytes).toString,
      "scan_records" -> sumL(_.inRecords).toString,
      "spill_bytes" -> sumL(_.spillBytes).toString,
      "peak_exec_bytes" -> taskRecs.map(_.peakExec).maxOption.getOrElse(0L).toString,
      "write_bytes" -> sumL(_.outBytes).toString,
      "analysis_s" -> Json.num(phaseS("analysis")),
      "optimization_s" -> Json.num(phaseS("optimization")),
      "planning_s" -> Json.num(phaseS("planning")),
      "compiles" -> compiles.toString,
      "compile_s" -> Json.num(compileNs / 1e9),
      "stream_batches" -> progRecs.size.toString,
      "trigger_s" -> Json.num(progS("triggerExecution")),
      "add_batch_s" -> Json.num(progS("addBatch")),
      "commit_s" -> Json.num(progS("commitOffsets")))
  }

  def spansJsonl: Iterator[String] = spans.iterator.map { s =>
    Json.obj(Seq("id" -> s.id.toString, "parent" -> s.parent.toString,
      "kind" -> Json.str(s.kind), "name" -> Json.str(s.name),
      "qid" -> Json.str(s.qid), "start_ms" -> Json.num(s.start),
      "end_ms" -> Json.num(s.end)))
  }
}

object Tracer {
  final case class Span(id: Int, parent: Int, kind: String, name: String,
      qid: String, start: Double, end: Double)
  private final class JobRec(val id: Int, val start: Long, val stages: Seq[Int]) {
    @volatile var end: Long = -1L
  }
  private final case class StageRec(id: Int, attempt: Int, submit: Long, done: Long)
  private final case class TaskRec(stage: Int, launch: Long, finish: Long,
      runMs: Long, cpuNs: Long, shWriteBytes: Long, shWriteRecords: Long,
      shWriteNs: Long, shReadBytes: Long, fetchWaitMs: Long, inBytes: Long,
      inRecords: Long, outBytes: Long, spillBytes: Long, peakExec: Long)
  private final case class PlanRec(phases: Map[String, (Long, Long)])
}
