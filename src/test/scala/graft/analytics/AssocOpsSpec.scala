package graft.analytics

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** The round-8 continuation additions: Spearman ranks, JS drift,
  * target encoding, equal-frequency bins, t-closeness, AMS F2,
  * Nelson-Aalen, degree assortativity, hubness. Every fixture is
  * hand-computed; partition invariance pinned where state merges. */
class AssocOpsSpec extends SparkTestBase {

  test("spearmanByGroup: perfect monotone = 1, anti-monotone = -1, " +
       "average ranks make tied columns correlate exactly, " +
       "zero-variance group is null") {
    import spark.implicits._
    val df = Seq(
      // "up": y strictly increasing in x (values not linear — Pearson
      // on raw values would be < 1, ranks give exactly 1)
      ("up", 1.0, 1.0), ("up", 2.0, 10.0), ("up", 3.0, 11.0),
      ("up", 4.0, 1000.0),
      // "dn": strictly decreasing
      ("dn", 1.0, 9.0), ("dn", 2.0, 7.0), ("dn", 3.0, 1.0),
      // "tie": identical tie structure in x and y -> identical rank
      //        vectors -> rho exactly 1 (average-rank handling)
      ("tie", 1.0, 2.0), ("tie", 2.0, 3.0), ("tie", 2.0, 3.0),
      ("tie", 3.0, 9.0),
      // "flat": x constant -> zero rank variance -> null
      ("flat", 5.0, 1.0), ("flat", 5.0, 2.0))
      .toDF("g", "x", "y")
    val out = Stats.spearmanByGroup(df, "g", "x", "y",
        xScale = 1L, yScale = 1L)
      .collect().map(r => r.getString(0) ->
        (if (r.isNullAt(2)) null else r.getDouble(2))).toMap
    assert(out("up") == 1.0)
    assert(out("dn") == -1.0)
    assert(out("tie") == 1.0)
    assert(out("flat") == null)
  }

  test("jsDrift: identical mixes = 0, disjoint supports = 1 (log2), " +
       "one-sided category contributes a bounded term") {
    import spark.implicits._
    def js(rows: Seq[(String, Long)]): (Double, Long) = {
      val df = rows.toDF("cat", "uid")
      val r = Stats.jsDrift(df, "cat",
        refPred = col("uid") % 2 === 0,
        curPred = col("uid") % 2 === 1).collect().head
      (r.getDouble(3), r.getLong(2))
    }
    // identical distributions on both sides
    val (same, nSame) = js(Seq(("a", 0L), ("a", 1L), ("b", 2L),
      ("b", 3L)))
    assert(same == 0.0 && nSame == 2L)
    // disjoint supports: JS = 1 bit exactly
    val (disj, nDisj) = js(Seq(("a", 0L), ("a", 2L), ("b", 1L),
      ("b", 3L)))
    assert(disj == 1.0 && nDisj == 2L)
    // hand case: ref = {a}, cur = {a: 1/2, b: 1/2}
    //   m(a) = 3/4, m(b) = 1/4
    //   JS = [1*ln(4/3) + (1/2)*ln(2/3) + (1/2)*ln(2)] / 2 / ln2
    val (mix, _) = js(Seq(("a", 0L), ("a", 2L), ("a", 1L), ("b", 3L)))
    val expected = math.floor((1.0 * math.log(1.0 / 0.75) +
      0.5 * math.log(0.5 / 0.75) + 0.5 * math.log(0.5 / 0.25)) /
      2.0 / math.log(2.0) * 1e9 + 0.5) / 1e9
    assert(math.abs(mix - math.floor(expected * 1e6 + 0.5) / 1e6) < 1e-9)
  }

  test("targetEncode: m-estimate shrinks small categories toward the " +
       "prior, null categories excluded") {
    import spark.implicits._
    val df = Seq(("A", 1), ("A", 1), ("A", 1), ("A", 0), ("B", 0),
      (null.asInstanceOf[String], 1)).toDF("cat", "y")
    val out = Selection.targetEncode(df, col("cat"), col("y"), m = 1.0)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(5))).toMap
    // prior = 3/5 = 0.6 (null category excluded from the fit)
    assert(out("A") == ((4L, 3L, 0.72)))  // (3 + 1*0.6) / (4 + 1)
    assert(out("B") == ((1L, 0L, 0.3)))   // (0 + 0.6) / 2
    assert(!out.contains(null))
  }

  test("equalFreqBins: ties stay whole in one bin, counts balance " +
       "when values are distinct") {
    import spark.implicits._
    // 8 rows, k=2: value 1 has cnt 4 (cdf .5 -> bin 1), rest bin 2
    val skewed = Seq(1, 1, 1, 1, 2, 3, 4, 5).toDF("v")
    val bins = Stats.equalFreqBins(skewed, "v", k = 2, scale = 1L)
      .orderBy("bin")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3),
        r.getDouble(4)))
    assert(bins === Seq((1L, 4L, 1.0, 1.0), (2L, 4L, 2.0, 5.0)))
    // 10 distinct values, k=5 -> 2 rows per bin
    val even = (1 to 10).toDF("v")
    val counts = Stats.equalFreqBins(even, "v", k = 5, scale = 1L)
      .orderBy("bin").collect().map(r => r.getLong(1))
    assert(counts === Seq(2L, 2L, 2L, 2L, 2L))
  }

  test("gridCumSum consumers: the FORCED two-level prefix-sum branch " +
       "returns tables identical to the single-window default for " +
       "equalFreqBins and kruskalWallis (the 100 TB path the size " +
       "gate skips at test volumes)") {
    import spark.implicits._
    // 400 rows over a 60-value grid across 16 partitions, with ties
    val rows = (0 until 400).map(i => (i * 7919) % 60 + (i % 3))
    val df = rows.toDF("v").repartition(16)
    val kw = (0 until 400).map(i => (s"g${i % 4}", ((i * 31) % 23).toDouble))
      .toDF("g", "v").repartition(16)
    def both() = (Stats.equalFreqBins(df, "v", k = 7, scale = 1L)
        .orderBy("bin").collect().map(_.toString).toSeq,
      Stats.kruskalWallis(kw, "g", "v", valueScale = 1L)
        .collect().map(_.toString).toSeq)
    val ((defBins, defKw), gD) = gatesOf(both())
    assert(gD === Map("cumsum" -> (2L, 0L)), "default gate: single task")
    val ((distBins, distKw), gX) =
      gatesOf(withConf("spark.graft.gate.cumsum" -> "0")(both()))
    assert(gX === Map("cumsum" -> (0L, 2L)), "gate 0: distributed")
    assert(distBins === defBins,
      "equalFreqBins branches must produce identical bins")
    assert(distKw === defKw,
      "kruskalWallis branches must produce identical statistics")
  }

  test("tCloseness: a class mirroring the global mix scores 0, a " +
       "single-value class scores the hand TVD, null sensitive " +
       "values excluded") {
    import spark.implicits._
    // global: A 3, B 3; class c1 = {A,A,B,B} (tvd ~ |1/2-1/2| = 0),
    // class c2 = {A} (tvd = (|1-1/2| + |0-1/2|)/2 = 1/2),
    // class c3 = {B} (same by symmetry); null sens row dropped
    val df = Seq(("c1", "A"), ("c1", "A"), ("c1", "B"), ("c1", "B"),
      ("c2", "A"), ("c3", "B"),
      ("c3", null.asInstanceOf[String])).toDF("q", "s")
    val out = DataAudit.tCloseness(df, t = 0.3, sensitiveCol = "s", "q")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getBoolean(3))).toMap
    assert(out("c1") == ((4L, 0.0, false)))
    assert(out("c2") == ((1L, 0.5, true)))
    assert(out("c3") == ((1L, 0.5, true)))
  }

  test("amsF2: exact side is sum(cnt^2), estimators are partition-" +
       "invariant and unbiased-shaped (positive, finite)") {
    import spark.implicits._
    val rows = Seq("a", "a", "a", "b", "b", "c").map(Tuple1(_))
    def run(parts: Int) =
      Sketches.amsF2(rows.toDF("k").repartition(parts), "k")
        .collect().head
    val r1 = run(1); val r4 = run(4)
    // exact F2 = 9 + 4 + 1 = 14 over 3 keys
    assert(r1.getLong(1) == 3L && r1.getLong(2) == 14L)
    assert(r1.getDouble(3) > 0.0 && !r1.getDouble(3).isNaN)
    // the sketch state is integer sums: partitioning cannot move it
    assert(r1.toSeq == r4.toSeq)
  }

  test("nelsonAalen: hand-computed hazard steps, censored tail kept " +
       "in the risk set, only churn rows emitted") {
    import spark.implicits._
    import java.sql.Timestamp
    def ts(day: Int) = Timestamp.valueOf(f"2026-01-$day%02d 12:00:00")
    // u1: day 1 only -> t=0 observed; u2: days 1..3 -> t=2 observed;
    // u3: days 1..10 -> t=9, ends at feed max -> CENSORED
    val df = (Seq((1L, ts(1))) ++ Seq((2L, ts(1)), (2L, ts(3))) ++
      Seq((3L, ts(1)), (3L, ts(10)))).toDF("u", "t")
    val out = Events.nelsonAalen(df, "u", "t").orderBy("t_days")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(5)))
    def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    val h1 = math.floor(1.0 / 3.0 * 1e9 + 0.5) / 1e9
    val h2 = h1 + 0.5
    assert(out === Seq(
      (0L, 3L, 1L, r6(h1), r6(math.exp(-h1))),
      (2L, 2L, 1L, r6(h2), r6(math.exp(-h2)))))
  }

  test("degreeAssortativity: star = -1, path P4 = -0.5, regular " +
       "graph (zero degree variance) = null") {
    import spark.implicits._
    def assort(edges: Seq[(Long, Long)]): (Long, Long, Option[Double]) = {
      val r = Graph.degreeAssortativity(edges.toDF("a", "b"), "a", "b")
        .collect().head
      (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))
    }
    assert(assort(Seq((0L, 1L), (0L, 2L), (0L, 3L))) ===
      ((4L, 3L, Some(-1.0))))
    assert(assort(Seq((0L, 1L), (1L, 2L), (2L, 3L))) ===
      ((4L, 3L, Some(-0.5))))
    // 4-cycle: every degree 2
    assert(assort(Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 0L))) ===
      ((4L, 4L, None)))
    // a self-loop is dropped BEFORE symmetrizing: P4 + loop on node 1
    // scores exactly P4 (a loop survives symmetrize+distinct as ONE
    // directed edge, making m2 odd — the truncate-vs-round n_edges
    // divergence the filter exists to prevent)
    assert(assort(Seq((0L, 1L), (1L, 2L), (2L, 3L), (1L, 1L))) ===
      ((4L, 3L, Some(-0.5))))
  }

  test("hubnessAudit: a dominant hub takes every slot; cosine ties " +
       "break to the smaller id") {
    import spark.implicits._
    // one query (id 0) pointing at (1,0); ids 1 and 2 BOTH have
    // cosine exactly 1 (scaled copies), id 3 is orthogonal
    val emb = Seq(
      (0L, Seq(1.0f, 0.0f)), (1L, Seq(2.0f, 0.0f)),
      (2L, Seq(3.0f, 0.0f)), (3L, Seq(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val top1 = Similarity.hubnessAudit(emb, "vec_id", "embedding",
        queryPred = col("vec_id") === 0, k = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(top1 === Seq((1L, 1L, 1.0))) // one vector retrieved once
    // three queries all nearest to the same hub -> k_occurrence 3
    val hub = Seq(
      (0L, Seq(1.0f, 0.0f)), (10L, Seq(1.0f, 0.0f)),
      (20L, Seq(1.0f, 0.0f)), (1L, Seq(1.0f, 0.05f)),
      (3L, Seq(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val occ = Similarity.hubnessAudit(hub, "vec_id", "embedding",
        queryPred = col("vec_id") % 10 === 0, k = 1)
      .orderBy("k_occurrence")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // ids 0/10/20 are mutual cosine-1 ties: each query's top-1 is the
    // smallest OTHER query id (0 -> 10, 10 -> 0, 20 -> 0)
    assert(occ === Seq((1L, 1L), (2L, 1L)))
  }

  test("joinSkewAudit: hand-computed distribution on a hot-key " +
       "fixture; a uniform key profile reports skew_ratio 1") {
    import spark.implicits._
    // keys: hot x 6 rows, a/b/c x 1 row each, null excluded
    val hot = (Seq.fill(6)("hot") ++ Seq("a", "b", "c") ++
      Seq(null.asInstanceOf[String])).map(Tuple1(_)).toDF("k")
    val r = DataAudit.joinSkewAudit(hot, "k").collect().head
    // n_rows 9, n_keys 4, mean 2.25, p50 (cum>=2 at cnt 1) = 1,
    // p99 (cum>=4) = 6, max 6, top10 = all rows -> share 1,
    // skew = 6/2.25
    assert(r.getLong(0) == 9L && r.getLong(1) == 4L)
    assert(r.getDouble(2) == 2.25)
    assert(r.getLong(3) == 1L && r.getLong(4) == 6L && r.getLong(5) == 6L)
    assert(r.getDouble(6) == 1.0)
    assert(r.getDouble(7) == math.floor(6.0 / 2.25 * 1e6 + 0.5) / 1e6)
    // uniform: every key exactly twice
    val uni = Seq("a", "a", "b", "b", "c", "c").map(Tuple1(_)).toDF("k")
    val u = DataAudit.joinSkewAudit(uni, "k").collect().head
    assert(u.getDouble(7) == 1.0 && u.getLong(3) == 2L)
  }

  test("cramersV: a deterministic association scores 1, an " +
       "independent grid scores 0, single-level grids null") {
    import spark.implicits._
    // perfect: a determines b on a 2x2 grid
    val perfect = Seq(("x", "p"), ("x", "p"), ("y", "q"), ("y", "q"))
      .toDF("a", "b")
    val p = Stats.cramersV(perfect, "a", "b").collect().head
    assert(p.getLong(3) == 1L)          // dof (2-1)(2-1)
    assert(p.getDouble(5) == 1.0)
    // independent: every cell equal
    val ind = Seq(("x", "p"), ("x", "q"), ("y", "p"), ("y", "q"))
      .toDF("a", "b")
    assert(Stats.cramersV(ind, "a", "b").collect().head.getDouble(5)
      == 0.0)
    // degenerate: one column level -> dof 0 -> null V
    val deg = Seq(("x", "p"), ("y", "p")).toDF("a", "b")
    assert(Stats.cramersV(deg, "a", "b").collect().head.isNullAt(5))
  }

  test("mutualInformation: independence = 0, determinism = full " +
       "entropy with NMI 1, constant column nulls NMI") {
    import spark.implicits._
    val ind = Seq(("x", "p"), ("x", "q"), ("y", "p"), ("y", "q"))
      .toDF("a", "b")
    val i = Stats.mutualInformation(ind, "a", "b").collect().head
    assert(i.getDouble(2) == 0.0 && i.getLong(1) == 4L)
    // deterministic 50/50: MI = H = ln 2, NMI = 1
    val det = Seq(("x", "p"), ("x", "p"), ("y", "q"), ("y", "q"))
      .toDF("a", "b")
    val d = Stats.mutualInformation(det, "a", "b").collect().head
    val ln2r = math.floor(math.floor(math.log(2.0) * 1e9 + 0.5) / 1e9
      * 1e6 + 0.5) / 1e6
    assert(d.getDouble(2) == ln2r && d.getDouble(3) == ln2r)
    assert(d.getDouble(5) == 1.0)
    // constant a: h_a = 0 -> nmi null, mi 0
    val const = Seq(("x", "p"), ("x", "q")).toDF("a", "b")
    val c = Stats.mutualInformation(const, "a", "b").collect().head
    assert(c.getDouble(2) == 0.0 && c.isNullAt(5))
  }

  test("simplifiedSilhouette: two tight far-apart blobs score near 1, " +
       "every cluster row carries its member count") {
    import spark.implicits._
    // k=2 on two clearly-separated 2-D blobs. Init is the 2 smallest
    // (md5(id), id) corpus vectors — md5 sorts 11 < 12 < 1 < 13 < 2 < 3
    // here — so ids are laid out to seed ONE centroid per blob (11 in
    // the far blob, 12 in the origin blob); with both seeds in one
    // blob, 2-iteration Lloyd genuinely straddles, which is what the
    // audit would then (correctly) report as near-0
    val emb = Seq(
      (12L, Seq(0.0f, 0.1f)), (2L, Seq(0.1f, 0.0f)),
      (3L, Seq(0.0f, 0.0f)), (11L, Seq(10.0f, 10.1f)),
      (13L, Seq(10.1f, 10.0f)), (1L, Seq(10.0f, 10.0f)))
      .toDF("vec_id", "embedding")
    val out = Cluster.simplifiedSilhouette(emb, "vec_id", "embedding",
        k = 2, iters = 2)
      .collect().map(r => (r.getLong(1), r.getDouble(2)))
    assert(out.map(_._1).sum == 6L)
    assert(out.forall(_._2 > 0.9),
      s"expected near-1 silhouettes, got ${out.mkString(",")}")
    // k=1 has no 'other' centroid to compare against
    intercept[IllegalArgumentException] {
      Cluster.simplifiedSilhouette(emb, "vec_id", "embedding", k = 1)
    }
  }

  test("isotonicCalibration: a rate violation pools to the pooled " +
       "average, monotone input passes through, fit never decreases") {
    import spark.implicits._
    // rates by score: 0.0, 1.0, 0.5 -> PAV pools buckets 2+3 to 0.75
    val df = Seq((1.0, 0), (1.0, 0), (2.0, 1), (2.0, 1), (3.0, 1),
      (3.0, 0)).toDF("score", "y")
    val out = Selection.isotonicCalibration(df, col("score"), col("y"),
        scale = 1L)
      .orderBy("score")
      .collect().map(r => (r.getDouble(0), r.getDouble(3),
        r.getDouble(4)))
    assert(out === Seq((1.0, 0.0, 0.0), (2.0, 1.0, 0.75),
      (3.0, 0.5, 0.75)))
    assert(out.map(_._3).sliding(2).forall(p =>
      p.length < 2 || p(0) <= p(1)))
    // already-monotone input is a fixed point
    val mono = Seq((1.0, 0), (2.0, 1), (2.0, 0), (3.0, 1))
      .toDF("score", "y")
    val m = Selection.isotonicCalibration(mono, col("score"), col("y"),
        scale = 1L)
      .orderBy("score").collect().map(r => r.getDouble(4))
    assert(m === Seq(0.0, 0.5, 1.0))
  }

  test("quantileNormalize: shifted groups land on the pooled values " +
       "at their own quantiles; a lone group maps to itself") {
    import spark.implicits._
    // A = {1, 2}, B = {3, 4}; pooled CDF: 1->.25, 2->.5, 3->.75, 4->1
    val df = Seq(("A", 1.0), ("A", 2.0), ("B", 3.0), ("B", 4.0))
      .toDF("g", "v")
    val out = Stats.quantileNormalize(df, "g", "v", scale = 1L)
      .orderBy("grp", "value")
      .collect().map(r => (r.getString(0), r.getDouble(1),
        r.getDouble(4)))
    // both groups' lower halves map to pooled 2, upper to pooled 4
    assert(out === Seq(("A", 1.0, 2.0), ("A", 2.0, 4.0),
      ("B", 3.0, 2.0), ("B", 4.0, 4.0)))
    // one group == pooled: identity mapping (equal-cdf pooled row
    // qualifies because pooled sorts after group rows at equal cdf)
    val lone = Seq(("A", 1.0), ("A", 2.0), ("A", 2.0), ("A", 5.0))
      .toDF("g", "v")
    val self = Stats.quantileNormalize(lone, "g", "v", scale = 1L)
      .collect().map(r => (r.getDouble(1), r.getDouble(4)))
    assert(self.forall(p => p._1 == p._2), self.mkString(","))
  }

  test("hillEstimator: hand-computed alpha on a geometric tail, " +
       "all-tied frequencies null alpha") {
    import spark.implicits._
    // counts 8/4/2/1 with k=3: sum_log = ln8+ln4+ln2 (each rounded to
    // 9 as the op does), alpha = 1 + 3/sum
    val text = (Seq.fill(8)("w1") ++ Seq.fill(4)("w2") ++
      Seq.fill(2)("w3") ++ Seq("w4")).mkString(" ")
    val r = TextAnalysis.hillEstimator(Seq(Tuple1(text)).toDF("text"),
        "text", k = 3)
      .collect().head
    val slog = Seq(8.0, 4.0, 2.0)
      .map(f => math.floor(math.log(f / 1.0) * 1e9 + 0.5)).sum
    assert(r.getLong(0) == 4L && r.getLong(1) == 3L &&
      r.getLong(2) == 1L)
    assert(r.getDouble(4) ==
      math.floor((1.0 + 3.0 / (slog / 1e9)) * 1e6 + 0.5) / 1e6)
    // every type once: all top frequencies tie -> sum_log 0 -> null
    val flat = TextAnalysis.hillEstimator(
        Seq(Tuple1("a b c d e")).toDF("text"), "text", k = 2)
      .collect().head
    assert(flat.isNullAt(4))
  }

  test("quantileNormalize at 10^4 groups: the FORCED distributed branch " +
       "matches the brute-force as-of reference, the only unpartitioned " +
       "window in its plan is the <= numPartitions-row pid-offset " +
       "table, and the default size-gated single-window branch returns " +
       "the identical table") {
    import spark.implicits._
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.window.WindowExec
    val nG = 10000
    val rows = (0 until nG).flatMap { gi =>
      val base = gi % 7
      Seq((s"g$gi", (base + 1).toDouble), (s"g$gi", (base + 1).toDouble),
        (s"g$gi", (base + 11).toDouble), (s"g$gi", (base + 21).toDouble))
    }
    val df = rows.toDF("g", "x").repartition(16)
    // force the distributed two-level prefix-sum branch (the 100 TB
    // path the size gate skips at test volumes)
    val (out, gX) = gatesOf(withConf("spark.graft.gate.cumsum" -> "0")(
      Stats.quantileNormalize(df, "g", "x", scale = 1L)))
    assert(gX === Map("cumsum" -> (0L, 1L)), "gate 0: distributed")
    val got = out.collect()
      .map(r => (r.getString(0), r.getDouble(1)) ->
        (r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    // brute-force reference: pooled cdf per distinct value; each
    // (group, value) maps to the FIRST pooled value whose cdf reaches
    // the group cdf — identical double arithmetic (long/long division)
    val pooled = rows.groupBy(r => math.round(r._2))
      .map { case (v, g) => v -> g.size.toLong }.toSeq.sortBy(_._1)
    val ptot = pooled.map(_._2).sum
    val pcdf = pooled.scanLeft((0L, 0L)) { case ((_, c), (v, n)) =>
      (v, c + n) }.tail.map { case (v, c) => (v, c.toDouble / ptot) }
    for ((g, vs) <- rows.groupBy(_._1)) {
      val counts = vs.groupBy(r => math.round(r._2))
        .map { case (v, l) => v -> l.size.toLong }.toSeq.sortBy(_._1)
      val tot = counts.map(_._2).sum
      var cum = 0L
      for ((v, n) <- counts) {
        cum += n
        val cdf = cum.toDouble / tot
        val want = pcdf.find(_._2 >= cdf).get._1.toDouble
        val (gn, gcdf, norm) = got((g, v.toDouble))
        assert(gn == n && norm == want,
          s"$g v=$v: got ($gn, $norm), want ($n, $want)")
        assert(gcdf == math.floor(cdf * 1e6 + 0.5) / 1e6)
      }
    }
    assert(got.size == nG * 3)
    // plan shape: the union-grid as-of window (ONE task sorting
    // groups x grid rows) must be gone — every unpartitioned WindowExec
    // left must be the per-partition offset fold, recognizable by its
    // pid sort key
    def deep[T](p: SparkPlan)(pf: PartialFunction[SparkPlan, T]): Seq[T] = {
      val stages = p.collect { case s: QueryStageExec => s.plan }
      p.collect(pf) ++ stages.flatMap(deep(_)(pf))
    }
    val root = out.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val unpart = deep(root) {
      case w: WindowExec if w.partitionSpec.isEmpty => w
    }
    assert(unpart.nonEmpty, "expected the pid-offset window")
    for (w <- unpart)
      assert(w.orderSpec.map(_.child.toString).exists(_.contains("pid")),
        s"unpartitioned window over a non-offset table:\n$w")
    // the default path (size gate admits this grid) must return the
    // identical table through its single global window
    val (viaGate, gD) = gatesOf(Stats.quantileNormalize(df, "g", "x",
        scale = 1L)
      .collect()
      .map(r => (r.getString(0), r.getDouble(1)) ->
        (r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap)
    assert(gD === Map("cumsum" -> (1L, 0L)), "default gate: single task")
    assert(viaGate == got,
      "size-gated single-window branch diverged from the distributed branch")
  }

  test("logRankTest: hand-computed hypergeometric O/E/V per churn " +
       "time; identical arms score z = 0") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    def t(d: Int) = java.sql.Timestamp.valueOf(f"2024-01-$d%02d 10:00:00")
    // feed spans days 1..5 (gmax = day 5); arm 1 = even user_id
    //  u1 arm0: days 1..2 -> t=1 churned     u2 arm1: days 1..3 -> t=2 churned
    //  u3 arm0: days 1..5 -> t=4 CENSORED    u4 arm1: day 2     -> t=0 churned
    //  u5 arm0: days 3..5 -> t=2 CENSORED    u6 arm1: days 1..5 -> t=4 CENSORED
    val ev = Seq(
      (1L, t(1)), (1L, t(2)), (2L, t(1)), (2L, t(3)),
      (3L, t(1)), (3L, t(5)), (4L, t(2)),
      (5L, t(3)), (5L, t(5)), (6L, t(1)), (6L, t(5))
    ).zipWithIndex.map { case ((u, ts), i) => (i.toLong, u, ts) }
      .toDF("event_id", "user_id", "ts")
    val r = Events.logRankTest(ev, "user_id", "ts",
        col("user_id") % 2 === 0).collect().head
    // t=0: d=1 n=6 nA=3 -> E=.5  V=.25 (the (n-d)/(n-1) factor is 1)
    // t=1: d=1 n=5 nA=2 -> E=.4  V=.24
    // t=2: d=1 n=4 nA=2 -> E=.5  V=.25   (arm0's t=2 user is censored)
    // O_A = 1(t=0) + 0(t=1) + 1(t=2) = 2; E=1.4 V=.74
    assert(r.getLong(0) === 3L && r.getLong(1) === 2L)
    assert(r.getDouble(2) === 1.4 && r.getDouble(3) === 0.74)
    val z = (2.0 - 1.4) / math.sqrt(0.74)
    assert(r.getDouble(4) === math.floor(z * 1e6 + 0.5) / 1e6)
    assert(r.getDouble(5) === math.floor(z * z * 1e6 + 0.5) / 1e6)
    assert(!r.getBoolean(6), "chi2 ~ .49 is not significant")
    // symmetric arms (every lifetime mirrored even/odd) -> O = E, z = 0
    val sym = Seq(
      (1L, t(1)), (1L, t(2)), (2L, t(1)), (2L, t(2)),
      (3L, t(1)), (3L, t(5)), (4L, t(1)), (4L, t(5))
    ).zipWithIndex.map { case ((u, ts), i) => (i.toLong, u, ts) }
      .toDF("event_id", "user_id", "ts")
    val rs = Events.logRankTest(sym, "user_id", "ts",
        col("user_id") % 2 === 0).collect().head
    assert(rs.getDouble(4) === 0.0 && !rs.getBoolean(6))
  }

  test("concentrationProfile: hand-computed HHI/entropy/effective-N; " +
       "negative-sum entities drop per entity, all-negative groups " +
       "disappear") {
    import spark.implicits._
    val df = Seq(
      // group a: entity sums 6 / 2 / 2 -> shares .6 .2 .2
      ("a", "e1", 4.0), ("a", "e1", 2.0), ("a", "e2", 2.0),
      ("a", "e3", 2.0),
      // group b: e2's sum is negative -> excluded per entity
      ("b", "e1", 5.0), ("b", "e2", -3.0),
      // group c: only entity sums negative -> whole group gone
      ("c", "e1", -2.0)
    ).toDF("g", "e", "v")
    val got = Stats.concentrationProfile(df, "g", "e", "v")
      .orderBy("grp").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getDouble(6)))
    assert(got.length === 2, "group c (all-negative) disappears")
    val hhi = 0.44 // .36 + .04 + .04
    val ent = math.floor((
      math.floor(-0.6 * math.log(0.6) * 1e9 + 0.5) +
      2 * math.floor(-0.2 * math.log(0.2) * 1e9 + 0.5)) / 1e9
      * 1e6 + 0.5) / 1e6
    assert(got(0) === (("a", 3L, 10.0, hhi, ent,
      math.floor(1.0 / hhi * 1e6 + 0.5) / 1e6, 0.6)))
    // b keeps only e1: share 1 -> HHI 1, entropy 0, effective N 1
    assert(got(1) === (("b", 1L, 5.0, 1.0, 0.0, 1.0, 1.0)))
  }

  test("mannWhitneyU: hand-computed tie-corrected z and rank-biserial; " +
       "identical arms z = 0; one-arm key nulls z") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // arm0 {1,2,3}, arm1 {2,4,5}: ranks 1, 2.5, 2.5, 4, 5, 6
    // R1 = 2.5+5+6 = 13.5, U1 = 7.5, mu = 4.5
    // sigma^2 = (9/12)(7 - 6/30) = 5.1
    val df = Seq(("k", 1.0, 0), ("k", 2.0, 0), ("k", 3.0, 0),
      ("k", 2.0, 1), ("k", 4.0, 1), ("k", 5.0, 1),
      // key with ONE arm only: no comparison to make
      ("lone", 7.0, 0), ("lone", 8.0, 0)).toDF("key", "v", "arm")
    val got = Stats.mannWhitneyU(df, "key", "v", col("arm") === 1,
        valueScale = 1L)
      .orderBy("key").collect()
    val r = got(0)
    assert(r.getString(0) === "k" && r.getLong(1) === 3L &&
      r.getLong(2) === 3L && r.getDouble(3) === 7.5)
    val z = (7.5 - 4.5) / math.sqrt(5.1)
    assert(r.getDouble(4) === math.floor(z * 1e6 + 0.5) / 1e6)
    assert(r.getDouble(5) === math.floor((15.0 / 9 - 1) * 1e6 + 0.5) / 1e6)
    assert(!r.getBoolean(6))
    assert(got(1).isNullAt(4) && !got(1).getBoolean(6), "one-arm key")
    // symmetric arms -> U1 = mu -> z = 0
    val sym = Seq(("k", 1.0, 0), ("k", 2.0, 0), ("k", 1.0, 1),
      ("k", 2.0, 1)).toDF("key", "v", "arm")
    assert(Stats.mannWhitneyU(sym, "key", "v", col("arm") === 1,
      valueScale = 1L).head().getDouble(4) === 0.0)
  }

  test("kruskalWallis: hand-computed tie-corrected H vs the " +
       "Wilson-Hilferty 0.95 chi-square bar; all-tied input nulls H_c") {
    import spark.implicits._
    // a {1,2}, b {2,3}, c {5,6}: ranks 1, 2.5, 2.5, 4, 5, 6
    // H = 12/42 * (3.5^2/2 + 6.5^2/2 + 11^2/2) - 21 = 4.071428...
    // C = 1 - 6/210; crit(dof 2) = 2 (1 - 2/18 + 1.6448536 sqrt(2/18))^3
    val df = Seq(("a", 1.0), ("a", 2.0), ("b", 2.0), ("b", 3.0),
      ("c", 5.0), ("c", 6.0)).toDF("g", "v")
    val r = Stats.kruskalWallis(df, "g", "v", valueScale = 1L).head()
    assert(r.getLong(0) === 3L && r.getLong(1) === 6L &&
      r.getLong(2) === 2L)
    assert(r.getDouble(3) === 4.071429)
    val hc = 4.071429 / (1.0 - 6.0 / 210.0)
    // the engine divides the ROUNDED h? no — it rounds h and h/c
    // separately from the same unrounded h; replay that
    val h = 12.0 / 42.0 * 87.75 - 21.0
    assert(r.getDouble(4) ===
      math.floor(h / (1.0 - 6.0 / 210.0) * 1e6 + 0.5) / 1e6)
    val crit = 2.0 * math.pow(1.0 - 2.0 / 18 +
      1.6448536269514722 * math.sqrt(2.0 / 18), 3)
    assert(r.getDouble(5) === math.floor(crit * 1e6 + 0.5) / 1e6)
    assert(!r.getBoolean(6), s"H ${r.getDouble(4)} below crit $crit")
    assert(hc > 0) // silence unused warning-by-intent
    // all rows one value: C = 0 -> tie-corrected H undefined
    val flat = Seq(("a", 1.0), ("b", 1.0), ("c", 1.0)).toDF("g", "v")
    assert(Stats.kruskalWallis(flat, "g", "v", valueScale = 1L)
      .head().isNullAt(4))
  }

  test("winsorizedMean: clamps (not drops) the tails; frac 0 is the " +
       "plain mean; partition-invariant") {
    import spark.implicits._
    // {1,2,3,4,100} at frac .2 -> k=1: clamp to [2,4] -> {2,2,3,4,4}
    val df = Seq(1.0, 2.0, 3.0, 4.0, 100.0).map(("g", _)).toDF("g", "v")
    for (p <- Seq(1, 4)) {
      val r = Stats.winsorizedMean(df.repartition(p), "g", "v",
        winsorFrac = 0.2, valueScale = 1L).head()
      assert(r.getLong(1) === 5L)
      assert(r.getDouble(2) === 2.0 && r.getDouble(3) === 4.0)
      assert(r.getDouble(4) === 3.0, s"partitions=$p")
    }
    val plain = Stats.winsorizedMean(df, "g", "v", winsorFrac = 0.0,
      valueScale = 1L).head()
    assert(plain.getDouble(4) === 22.0, "frac 0 = plain mean")
  }

  test("ratioMetricDelta: hand-computed delta-method variance on " +
       "user-level totals; per-event rows roll up per unit; " +
       "zero-denominator arm nulls z") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // arm0 units: (10,5), (20,5) -> R0 = 3, Sxx = 50, Syy = Sxy = 0,
    // var0 = 50 / (2 * 25) = 1
    // arm1 units: (30,5), (10,5) -> R1 = 4, Sxx = 200, var1 = 4
    // z = 1 / sqrt(5)
    val rows = Seq(
      // u1 split over TWO events: per-unit roll-up is part of the test
      (1L, 4.0, 2.0, 0), (1L, 6.0, 3.0, 0),
      (2L, 20.0, 5.0, 0),
      (3L, 30.0, 5.0, 1), (4L, 10.0, 5.0, 1))
      .toDF("u", "num", "den", "arm")
    val r = Events.ratioMetricDelta(rows, "u", col("arm") === 1,
        col("num"), col("den"), scale = 1L).head()
    assert(r.getLong(0) === 2L && r.getLong(1) === 2L)
    assert(r.getDouble(2) === 3.0 && r.getDouble(3) === 4.0)
    assert(r.getDouble(4) === 1.0)
    val se = math.sqrt(5.0)
    assert(r.getDouble(5) === math.floor(1.0 / se * 1e6 + 0.5) / 1e6)
    assert(r.getDouble(6) ===
      math.floor((1.0 - 1.959964 * se) * 1e6 + 0.5) / 1e6 ||
      r.getDouble(6) ===
      math.ceil((1.0 - 1.959964 * se) * 1e6 - 0.5) / 1e6)
    assert(!r.getBoolean(8))
    // an arm whose every unit has zero denominator: ratio undefined
    val degenerate = Seq((1L, 5.0, 0.0, 0), (2L, 5.0, 2.0, 1))
      .toDF("u", "num", "den", "arm")
    val d = Events.ratioMetricDelta(degenerate, "u", col("arm") === 1,
      col("num"), col("den"), scale = 1L).head()
    assert(d.isNullAt(2) && d.isNullAt(5) && !d.getBoolean(8))
  }

  test("jsDivergenceMatrix: disjoint-vocabulary pair scores exactly " +
       "ln 2, identical distributions 0, hand term for a mixed pair; " +
       "the grid completes pairs sharing nothing") {
    import spark.implicits._
    val docs = Seq(
      ("A", "x x y"), ("B", "x y"), ("C", "z"),
      ("D", "x x y") // identical distribution to A
    ).toDF("src", "text")
    val got = TextAnalysis.jsDivergenceMatrix(docs, "src", "text")
      .orderBy("key_a", "key_b").collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(got.size === 6, "4 choose 2 pairs, grid-completed")
    val ln2r = math.floor(math.log(2.0) * 1e6 + 0.5) / 1e6
    assert(got(("A", "C")) === ((0L, ln2r, 1.0)), "no shared words")
    assert(got(("A", "D"))._2 === 0.0 && got(("A", "D"))._3 === 0.0)
    // A = {x: 2/3, y: 1/3}, B = {x: 1/2, y: 1/2} — replay the scaled
    // integer fold exactly
    def term(p: Double, q: Double): Long =
      math.floor((0.5 * p * math.log(2 * p / (p + q)) +
        0.5 * q * math.log(2 * q / (p + q))) * 1e9 + 0.5).toLong
    val s = term(2.0 / 3, 0.5) + term(1.0 / 3, 0.5)
    val spa = math.floor(2.0 / 3 * 1e9 + 0.5) +
      math.floor(1.0 / 3 * 1e9 + 0.5)
    val missing = math.log(2.0) / 2 * ((1.0 - spa / 1e9) + (1.0 - 1.0))
    val want = math.floor((s / 1e9 + missing) * 1e6 + 0.5) / 1e6
    assert(got(("A", "B")) === ((2L, want,
      math.floor(want / math.log(2.0) * 1e6 + 0.5) / 1e6)))
  }
}
