package graft

import graft.tools.Trace

/** Trace runs on an existing session and each mode produces the text
  * its readers rely on. */
class TraceSuite extends SparkTestBase {
  private val q = "agg_q1_pricing"

  test("Trace plan writes the formatted physical plan") {
    val Seq((name, txt)) = Trace.run(spark, "plan", sf, Seq(q))
    assert(name == q)
    assert(txt.contains("== Physical Plan =="), txt)
  }

  test("Trace executed prints the AQE-final tree with row counts") {
    val Seq((_, txt)) = Trace.run(spark, "executed", sf, Seq(q))
    assert("rows=\\d+".r.findFirstIn(txt).nonEmpty, txt)
    assert(!txt.contains("AdaptiveSparkPlan"), s"walker must unwrap AQE:\n$txt")
  }

  test("Trace stages reports plan/exec seconds and the run's stages") {
    val Seq((_, txt)) = Trace.run(spark, "stages", sf, Seq(q))
    val head = "plan_s=[0-9.]+ exec_s=[0-9.]+ stages=(\\d+)".r
    val n = head.findPrefixMatchOf(txt).map(_.group(1).toInt)
    assert(n.exists(_ >= 1), txt)
    assert(txt.linesIterator.count(_.trim.startsWith("stage ")) == n.get, txt)
  }

  test("Trace multiscan reports a single-scan query as clean") {
    val Seq((_, txt)) = Trace.run(spark, "multiscan", sf, Seq(q))
    assert(txt.trim == "multiscan: 1 queries, 0 flagged, 0 skipped", txt)
  }
}
