package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** Spot-checks against cross-engine-verified goldens captured in
  * BASELINE.md (sf0.1) and this session's DuckDB probes (sf0.01).
  */
class GoldenSuite extends SparkTestBase {
  private val sf1 = sfSibling("sf0.1")

  test("q1 group (A,F) matches the cross-engine golden at sf0.1") {
    // DuckDB-verified for this query's exact shape (shipdate filter):
    // SUM(qty)=1,374,753, COUNT=53,824.
    val r = operators.Aggregates.aggQ1Pricing(spark, sf1)
      .filter(col("l_returnflag") === "A" && col("l_linestatus") === "F")
      .select("sum_qty", "count_order").head()
    assert(r.getDouble(0) == 1374753.0)
    assert(r.getLong(1) == 53824L)
  }

  test("q5 top nation is NATION_7 with golden revenue at sf0.1") {
    val r = operators.Joins.join5WayQ5(spark, sf1).head()
    assert(r.getString(0) == "NATION_7")
    assert(math.abs(r.getDouble(1) - 5.58237339357e7) < 0.01)
  }

  test("30-min sessionization finds 95,465 sessions at sf0.1") {
    assert(streaming.Events.evSession(spark, sf1).count() == 95465L)
  }

  test("tumbling 1h windows: 3,600 hour buckets at sf0.1") {
    val hours = streaming.Events.evTumbling(spark, sf1)
      .select(countDistinct(col("hour_start"))).head().getLong(0)
    assert(hours == 720L || hours == 3600L,
      s"expected 720 distinct hours (30 days) or 3600 groups, got $hours")
  }

  test("exact dedup: 4,992 distinct texts of 5,000 at sf0.1") {
    assert(llm.Dedup.exactDedup(spark, sf1).count() == 4992L)
  }

  test("round-4 sf0.1 goldens: dedup keep / simhash pairs / custom sessions") {
    // DuckDB-oracle-verified at sf0.1 this round (tools/check.py):
    // 4,761 of 5,000 docs survive near-dup canonicalization; 3,134
    // pairs sit within Hamming 3 on this low-entropy corpus; the
    // custom-state sessionizer emits exactly the session_window count.
    assert(llm.Dedup.dedupKeep(spark, sf1).count() == 4761L)
    assert(llm.TextHash.simhashNearDup(spark, sf1).count() == 3134L)
    assert(streaming.StreamDemo.customSessionStream(spark, sf1).count() == 95391L)
  }

  test("round-5 sf0.1 goldens: funnel / islands / buckets / packs / upsert") {
    // DuckDB-oracle-verified at sf0.1 this round (tools/check.py full
    // sweep). The events corpus is dense enough that every one of the
    // 1,500 users completes view -> click -> purchase in order.
    val f = streaming.Events.evFunnel(spark, sf1).head()
    assert((f.getLong(0), f.getLong(1), f.getLong(2), f.getLong(3)) ==
      ((1500L, 1500L, 1500L, 1500L)))
    assert(operators.Windows.winIslands(spark, sf1).count() == 5584L)
    val b = operators.Joins.joinBucketed(spark, sf1).head()
    assert(b.getString(0) == "1-URGENT" && b.getLong(1) == 120566L)
    assert(math.abs(b.getDouble(2) - 6.0787561747656e9) < 0.01)
    val packs = llm.Curation.packBuild(spark, sf1)
    assert(packs.count() == 535L)
    assert(packs.filter(col("source") === "src0" && col("pack_id") === 0L)
      .head().getString(4) == "4672759d2c07448d5e4d3919503c3e31")
    assert(operators.Scans.scanUpsertMerge(spark, sf1).count() == 135714L)
    assert(llm.Curation.weightedSample(spark, sf1).count() == 3478L)
    val r0 = streaming.Events.evRetentionCohort(spark, sf1).head()
    assert(r0.getLong(1) == 0L && r0.getLong(2) == 1338L)
  }

  test("continued-round-5 sf0.1 goldens: new joins / events / windows") {
    // DuckDB-verified this session (tools/check.py three-SF sweep +
    // direct probes on the oracle SQL).
    val naaj = operators.Joins.joinNullAwareAnti(spark, sf1).collect()
    assert(naaj.map(r => r.getString(0) -> r.getLong(1)).toSeq ==
      Seq("A" -> 88338L, "N" -> 88324L, "R" -> 87789L))
    val z = streaming.Events.evZscoreOutlier(spark, sf1).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(z == Map("click" -> 340L, "error" -> 361L, "purchase" -> 353L,
      "signup" -> 383L, "view" -> 357L))
    assert(streaming.Events.evNextPattern(spark, sf1).count() == 170L)
    val d = operators.Joins.joinDppPrune(spark, sf1).collect()
    assert(d.length == 5 && d.head.getString(0) == "NATION_12" &&
      d.head.getLong(1) == 39L)
    // First event (id 0): EWMA seed row is 128·vc by construction.
    val e0 = operators.Windows.winEwma(spark, sf1).head()
    assert(e0.getLong(0) == 0L && e0.getLong(3) == 374656L &&
      e0.getLong(3) == 128L * e0.getLong(2))
    val cm = operators.Aggregates.aggCountMin(spark, sf1).collect()
    assert(cm.length == 5 && cm.forall(r =>
      r.getBoolean(2) && r.getBoolean(3)), "CMS contracts must hold")
    assert(streaming.StreamDemo.upsertStream(spark, sf1).count() == 1500L)
  }

  test("round-6 sf0.1 goldens: pair degree / interval overlap / scd2 / argmax") {
    // DuckDB-oracle-verified at sf0.1 this round (tools/check.py).
    val pd = llm.Dedup.pairDegree(spark, sf1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(pd == Map(1L -> 444L, 2L -> 21L, 3L -> 4L))
    val io = operators.Joins.joinIntervalOverlap(spark, sf1).collect()
    assert(io.length == 80 && io.head.getLong(1) == 17940L)
    assert(streaming.Events.evScd2(spark, sf1).count() == 80440L)
    val am = operators.Aggregates.aggArgmax(spark, sf1).collect()
    assert(am.map(_.getLong(1)).toSeq ==
      Seq(6414L, 13521L, 13315L, 13978L, 4796L))
  }

  test("continued-round-6 sf0.1 goldens: markov / attribution / wau / rfm / moments / pmi") {
    // DuckDB-oracle-verified at sf0.1 this round (tools/check.py).
    val mk = streaming.Events.evMarkovTransition(spark, sf1).collect()
    assert(mk.length == 25)
    assert(mk.head.getString(0) == "click" && mk.head.getString(1) == "click"
      && mk.head.getLong(2) == 3800L)
    assert(math.abs(mk.head.getDouble(3) - 0.194274) < 1e-6)
    val at = streaming.Events.evAttribution(spark, sf1).collect()
    assert(at.length == 20084)
    assert(at.count(_.isNullAt(2)) == 368) // purchases with no prior touch
    val wau = streaming.Events.evRollingWau(spark, sf1).collect()
    assert(wau.length == 30 && wau.head.getLong(1) == 1338L
      && wau.map(_.getLong(1)).max == 1500L)
    val rfm = operators.Windows.winRfmSegment(spark, sf1).collect()
    assert(rfm.length == 14999)
    assert(rfm.count(_.getString(4) == "111") == 946)
    assert(rfm.head.getLong(3) == 445432982L && rfm.head.getString(4) == "211")
    val sk = operators.Aggregates.aggSkewKurt(spark, sf1).collect()
    assert(sk.map(_.getString(0)).toSeq == Seq("A", "N", "R"))
    assert(math.abs(sk.head.getFloat(2) - 0.0034372f) < 1e-6)
    assert(math.abs(sk.head.getFloat(3) - (-1.2013837f)) < 1e-6)
    val pmi = graft.api.GraftOps.pmiBigrams(
      Tables.documents(spark, sf1), "text", 5L, 40).collect()
    assert(pmi.length == 40)
    assert(pmi.head.getString(0) == "dup" && pmi.head.getString(1) == "dup")
    assert(math.abs(pmi.head.getFloat(5) - 3.0543351f) < 1e-6)
  }

  test("continued-round-6 sf0.1 goldens: graph census / pagerank / entropy / heavy hitters") {
    // DuckDB-oracle-verified at sf0.1 this round (tools/check.py).
    val tc = operators.Graph.graphTriangles(spark, sf1).head()
    assert(tc.getLong(0) == 1196000L && tc.getLong(1) == 147816257L
      && tc.getLong(2) == 1884488L)
    assert(math.abs(tc.getFloat(3) - 0.0382466f) < 1e-6)
    val pr = operators.Graph.graphPagerank(spark, sf1).collect()
    assert(pr.length == 20)
    assert(pr.head.getLong(0) == 8437L && pr.head.getLong(1) == 1727900644080L)
    val en = graft.api.GraftOps.tokenEntropy(
      Tables.documents(spark, sf1), "doc_id", "text").collect()
    assert(en.length == 5000)
    assert(en.head.getLong(1) == 54L && en.head.getLong(2) == 26L)
    assert(math.abs(en.head.getFloat(3) - 3.1177456f) < 1e-6)
    val hh = operators.Aggregates.aggHeavyHitters(spark, sf1).collect()
    assert(hh.length == 1 && hh.head.getString(0) == "en"
      && hh.head.getLong(1) == 2059L
      && hh.head.getBoolean(2) && hh.head.getBoolean(3))
  }

  test("round-10 sf0.1 golden: graph_pagerank full top-20 (exact µ-rank units)") {
    // DuckDB-verified this round by running the graph_pagerank oracle
    // SQL directly at sf0.1 — the only heavy iterative query that had
    // no full sf0.1 golden (r6–r8 advice). Integer µ-rank discipline
    // means EXACT equality, all 20 (part, pr_micro) rows in order.
    val got = operators.Graph.graphPagerank(spark, sf1).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val want = Seq(
      (8437L, 1727900644080L), (3965L, 1719394908919L),
      (5610L, 1717828431571L), (16661L, 1699774084663L),
      (8845L, 1696878746524L), (1249L, 1696074285350L),
      (18001L, 1692964863561L), (19511L, 1682289995986L),
      (11635L, 1670687530410L), (6656L, 1656075041392L),
      (12312L, 1648246883862L), (15805L, 1647868940191L),
      (9715L, 1647572287238L), (9128L, 1640702679195L),
      (1430L, 1636175974978L), (14246L, 1635887628225L),
      (9627L, 1627658182124L), (16108L, 1627267060182L),
      (7935L, 1613106723511L), (17247L, 1612405609578L))
    assert(got == want)
  }

  test("round-6 sf0.1 golden: topk_limit top-10 order keys and head revenue") {
    // DuckDB-verified this round on the oracle SQL (cross-engine): the
    // Q3 top-10 by revenue with o_orderkey tiebreak. Pins the
    // broadcast-dim rework of q3Revenue beyond the driver's hash gate.
    val rows = operators.SortSet.topkLimit(spark, sf1).collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(37019L, 148150L, 2522L,
      80692L, 21757L, 116882L, 6400L, 100430L, 66293L, 40009L))
    assert(math.abs(rows.head.getDouble(2) - 919319.2189) < 1e-4)
  }

  test("top cosine pair is (425, 1198, 0.600856) at sf0.1") {
    val r = llm.Similarity.knnCosine(spark, sf1).head()
    assert(r.getLong(0) == 425L && r.getLong(1) == 1198L)
    assert(math.abs(r.getDouble(2) - 0.600856) < 1e-6)
  }

  test("kernel knn top-10 equals the brute-force cross-join top-10") {
    // Independent brute-force reference (the round-1 plan shape).
    val e = Tables.embeddings(spark, sf01)
      .withColumn("nrm", sqrt(expr("graft_dot(embedding, embedding)")))
    val a = e.select(col("vec_id").as("x"), col("embedding").as("ea"), col("nrm").as("na"))
    val b = e.select(col("vec_id").as("y"), col("embedding").as("eb"), col("nrm").as("nb"))
    val brute = a.crossJoin(b).filter(col("x") < col("y"))
      .select(col("x"), col("y"),
        round(expr("graft_dot(ea, eb)") / (col("na") * col("nb")), 6).as("sim"))
      .orderBy(desc("sim"), asc("x"), asc("y")).limit(10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val kernel = llm.Similarity.knnCosine(spark, sf01)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(kernel == brute, s"kernel $kernel != brute $brute")
  }

  test("exactly one customer without orders at sf0.1") {
    assert(operators.Joins.joinAnti(spark, sf1).count() == 1L)
  }

  test("near-dedup finds the planted J>=0.9 pairs and LSH equals exact") {
    // At sf0.01 the planted near-dup pairs sit at J≈0.98; verified
    // against the exact all-pairs DuckDB oracle by tools/check.py.
    val pairs = llm.Dedup.nearDedup(spark, sf01).collect()
    assert(pairs.length >= 10, s"expected >=10 near-dup pairs, got ${pairs.length}")
    assert(pairs.forall(_.getDouble(5) >= 0.9))
  }

  test("ANN-LSH and IVF pairs are subsets of exact cosine near-dups") {
    val exact = llm.Ann.cosNearDup(spark, sf01).select("x", "y").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ann = llm.Ann.annLsh(spark, sf01).select("x", "y").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ann.subsetOf(exact), "LSH returned a pair the exact scan lacks")
    val ivf = llm.Ann.annIvf(spark, sf01).select("x", "y").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ivf.subsetOf(exact), "IVF returned a pair the exact scan lacks")
  }

  test("trained-IVF recall: >= 60% of exact near-dup pairs, all contained") {
    // The k-means-trained quantizer must place most genuinely-near
    // pairs in one cell. k=10 / 2 Lloyd iterations / hash-sampled init
    // measures 9/14 single-probe and 14/14 2-probe at sf0.01 — the
    // best of the k × init sweep (NOTES r4). Containment is
    // structural (same similarity arithmetic + threshold as the exact
    // scan), recall is the trained-quantizer quality bar.
    val exact = llm.Ann.cosNearDup(spark, sf01).select("x", "y").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = llm.Ann.annIvf(spark, sf01).select("x", "y").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ivf.subsetOf(exact), "IVF returned a pair the exact scan lacks")
    assert(exact.nonEmpty && ivf.size * 10 >= exact.size * 6,
      s"trained-IVF recall ${ivf.size}/${exact.size} below 0.6")
    // Multi-probe (2 cells) must dominate single-probe and reach 0.8
    // recall: boundary vectors stop missing cross-cell neighbors.
    val probe = llm.Ann.annIvfProbe(spark, sf01).select("x", "y").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(probe.subsetOf(exact), "probe-IVF returned a non-exact pair")
    assert(ivf.subsetOf(probe), "probe-2 lost a probe-1 pair")
    assert(probe.size * 10 >= exact.size * 8,
      s"probe-IVF recall ${probe.size}/${exact.size} below 0.8")
  }

  test("simhash near-dup captures >= 80% of the planted J>=0.9 pairs") {
    // SimHash is a coarser sketch than MinHash: at Hamming <= 3 it
    // captures 23/25 of the planted word-shingle pairs at sf0.01 (two
    // planted pairs land at distance 4+) plus token-bag collisions the
    // Jaccard pipeline doesn't flag — both expected behaviors of the
    // fingerprint. The oracle pins exactness; this pins usefulness.
    val planted = llm.Dedup.nearDedup(spark, sf01).select("x", "y").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val rows = llm.TextHash.simhashNearDup(spark, sf01).collect()
    rows.foreach(r => assert(r.getLong(2) <= 3, "pair beyond the Hamming bound"))
    val pairs = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((planted & pairs).size * 10 >= planted.size * 8,
      s"simhash captured ${(planted & pairs).size}/${planted.size} planted pairs")
  }

  test("IVF top-k serving: candidate-subset sims, recall >= 1/3 of exact") {
    // Per (query, rank) the IVF sim can never exceed the exact sim
    // (candidates are a subset of the corpus), and on this
    // near-uniform corpus 2-probe top-3 recall measures 12/30 — true
    // top-k neighbors of a random vector scatter across cells, which
    // is exactly why probe count is the serving-time recall knob.
    val exact = llm.Similarity.knnBatch(spark, sf01).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    val ivf = llm.Ann.annIvfTopk(spark, sf01).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(ivf.length == 30, s"expected 10 queries x top-3, got ${ivf.length}")
    ivf.foreach { case (qid, rn, _, sim) =>
      assert(sim <= exact((qid, rn))._2 + 1e-9,
        s"IVF sim beats exact at (qid=$qid, rn=$rn)")
    }
    val hit = ivf.count { case (qid, rn, nbr, _) =>
      exact.exists { case ((q, _), (n, _)) => q == qid && n == nbr } }
    assert(hit * 3 >= ivf.length,
      s"IVF top-k recall $hit/${ivf.length} below 1/3")
  }

  test("char-n-gram Jaccard finds the planted near-dup pairs") {
    val word = llm.Dedup.nearDedup(spark, sf01).select("x", "y").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ngram = llm.Dedup.ngramJaccard(spark, sf01).select("x", "y").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ngram == word, s"char-gram pairs $ngram != word-shingle pairs $word")
  }

  test("pagerank top-20 at sf0.1 matches the DuckDB-verified golden") {
    // Oracle-verified this round (tools/check.py): the exact µ-rank
    // recurrence makes every value a deterministic BIGINT, so the pin
    // is exact — top part, its rank mass, and the top-20 total.
    val rows = operators.Graph.graphPagerank(spark, sf1).collect()
    assert(rows.length == 20)
    assert(rows.head.getLong(0) == 8437L && rows.head.getLong(1) == 1727900644080L)
    assert(rows.map(_.getLong(1)).sum == 33296760501540L)
  }

  test("q5 at sf0.1 matches the DuckDB-verified golden after the fact-stream restructure") {
    // Revenue per ASIA nation, DuckDB-verified against the blessed
    // oracle SQL this round. Exact-decimal sums cast to double at the
    // end (D7/D11), so the pin is reproducible to the last ulp; it
    // freezes the r8 join reorder (fact streams, gated dim builds)
    // at bench scale, beyond the sf0.01 oracle gate.
    val rows = operators.Joins.join5WayQ5(spark, sf1).collect()
      .map(r => (r.getString(0), r.getDouble(1)))
    assert(rows.toSeq == Seq(
      "NATION_7" -> 55823733.9357, "NATION_17" -> 52341318.5366,
      "NATION_12" -> 46379781.2935, "NATION_2" -> 43896702.7253,
      "NATION_22" -> 43700962.2633), s"q5 drifted: ${rows.toSeq}")
  }

  test("q3 top-k at sf0.1 matches the DuckDB-verified golden after the gate change") {
    // Same protection as the q5 pin, for the other restructured fold:
    // top-10 order keys + revenues from the blessed oracle SQL, and
    // topk_offset = rows 6-15 of the identical ordering (the overlap
    // of the two pins audits the pagination contract directly).
    val limit = operators.SortSet.topkLimit(spark, sf1).collect()
      .map(r => (r.getLong(0), r.getDouble(2)))
    assert(limit.toSeq == Seq(
      37019L -> 919319.2189, 148150L -> 789255.224, 2522L -> 731983.3608,
      80692L -> 729472.7886, 21757L -> 727906.7402, 116882L -> 721695.4729,
      6400L -> 713594.5863, 100430L -> 704623.7338, 66293L -> 700565.1636,
      40009L -> 692753.3069), s"topk_limit drifted: ${limit.toSeq}")
    val offset = operators.SortSet.topkOffset(spark, sf1).collect()
      .map(r => (r.getLong(0), r.getDouble(2)))
    assert(offset.take(5).toSeq == limit.drop(5).toSeq,
      "page 2 must overlap page 1 on rows 6-10 of the same ordering")
    assert(offset.last == (108931L -> 662405.8685),
      s"topk_offset tail drifted: ${offset.toSeq}")
  }

  test("approx_count_distinct within rsd bound of exact at both sfs") {
    for (d <- Seq(sf01, sf1)) {
      val rows = operators.Aggregates.aggApproxDistinct(spark, d).collect()
      assert(rows.nonEmpty)
      rows.foreach { r =>
        assert(r.getLong(1) > 0)
        assert(r.getBoolean(2), s"sketch out of rsd bound for ${r.getString(0)} at $d")
      }
    }
  }
}
