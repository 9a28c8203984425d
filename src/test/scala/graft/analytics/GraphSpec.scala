package graft.analytics

import org.apache.spark.sql.functions._

import graft.SparkTestBase

class GraphSpec extends SparkTestBase {

  test("pageRank: triangle graph is its own fixed point at 1/3 each; " +
       "path graph matches a local replay; partition-invariant") {
    import spark.implicits._
    // K3: uniform is the exact fixed point — every round returns 1/3
    val k3 = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("a", "b")
    val r3 = Graph.pageRank(k3, "a", "b", iters = 10).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(r3 === Map(1L -> 0.333333, 2L -> 0.333333, 3L -> 0.333333))
    // path 1-2-3: replay the same recurrence locally
    val path = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
    var (ra, rb) = (1.0 / 3, 1.0 / 3) // rc == ra by symmetry
    for (_ <- 1 to 10) {
      val (na, nb) = (0.15 / 3 + 0.85 * (rb / 2),
        0.15 / 3 + 0.85 * (ra + ra))
      ra = na; rb = nb
    }
    for (p <- Seq(1, 7)) {
      val got = Graph.pageRank(path.repartition(p), "a", "b", iters = 10)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(math.abs(got(1L) - ra) < 2e-6 && math.abs(got(3L) - ra) < 2e-6,
        s"p=$p ends ${got(1L)} vs $ra")
      assert(math.abs(got(2L) - rb) < 2e-6, s"p=$p middle ${got(2L)} vs $rb")
      assert(math.abs(got.values.sum - 1.0) < 1e-4, "ranks sum to ~1")
    }
  }

  test("pageRank deep iteration: iters=30 checkpoints lineage (bounded " +
       "wall time), delta column observes convergence, K3 stays exact") {
    import spark.implicits._
    val k3 = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("a", "b")
    val t0 = System.nanoTime()
    val got = Graph.pageRank(k3, "a", "b", iters = 30, emitDelta = true)
      .collect()
    val secs = (System.nanoTime() - t0) / 1e9
    // 30 un-checkpointed rounds nest 30 joins deep and blow up plan
    // compilation; checkpoint-every-5 keeps the whole run seconds-flat
    assert(secs < 60.0, s"iters=30 took $secs s — lineage not truncated?")
    assert(got.map(_.getDouble(1)).forall(_ === 0.333333),
      "K3 fixed point survives checkpointing")
    // K3 is already AT the fixed point: the final-round L1 step is 0
    assert(got.map(_.getDouble(2)).forall(_ === 0.0),
      "delta = 0 at the fixed point")
    // a non-fixed-point graph has a strictly positive early delta that
    // shrinks with iteration count
    val path = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
    def l1(iters: Int): Double =
      Graph.pageRank(path, "a", "b", iters = iters, emitDelta = true)
        .agg(sum("delta")).head.getDouble(0)
    val (early, late) = (l1(2), l1(20))
    assert(early > 1e-4 && late < early / 10,
      s"L1 step should shrink: iters=2 -> $early, iters=20 -> $late")
  }

  test("triangleCounts: one triangle plus a tail — counts, degrees and " +
       "clustering hand-pinned; reversed/duplicated pairs collapse") {
    import spark.implicits._
    // {1,2,3} triangle + pendant edge 3-4; pairs deliberately include
    // a reversed duplicate (3,1) and an exact duplicate (1,2)
    val pairs = Seq((1L, 2L), (1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L))
      .toDF("a", "b")
    val got = Graph.triangleCounts(pairs, "a", "b")
      .orderBy("node").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) Double.NaN else r.getDouble(3)))
    assert(got(0) === ((1L, 2L, 1L, 1.0)))
    assert(got(1) === ((2L, 2L, 1L, 1.0)))
    assert(got(2)._1 === 3L && got(2)._2 === 3L && got(2)._3 === 1L &&
      got(2)._4 === 0.333333)
    assert(got(3)._1 === 4L && got(3)._2 === 1L && got(3)._3 === 0L &&
      got(3)._4.isNaN, "degree-1 node: null clustering")
  }

  test("degree-ordered wedges: a 1000-leaf star generates ZERO wedges " +
       "(ID-ordering would pay ~D^2/2); hub triangles still found") {
    import spark.implicits._
    // star: center 0 linked to 1..1000 — the boilerplate-template shape
    val star = (1L to 1000L).map(i => (0L, i)).toDF("a", "b")
    val edges = star
      .select(least($"a", $"b").as("a"), greatest($"a", $"b").as("b"))
      .distinct()
    val deg = edges.select($"a".as("node"))
      .union(edges.select($"b".as("node")))
      .groupBy($"node").agg(count(lit(1)).cast("long").as("deg"))
    // every edge orients leaf(deg 1) -> center(deg 1000); leaves have
    // out-degree 1, the center out-degree 0 — no node pairs two
    // out-neighbors, so the wedge table is EMPTY (ID ordering from the
    // center would emit 1000*999/2 = 499500 wedges here)
    assert(Graph.degreeOrientedWedges(edges, deg, Int.MaxValue)
      .count() === 0L)
    // glue one triangle onto the hub: 1-2 closes {0,1,2} — exactly one
    // wedge is generated (at the lower-degree corner), one triangle out
    val withTri = star.union(Seq((1L, 2L)).toDF("a", "b"))
    val got = Graph.triangleCounts(withTri, "a", "b")
      .filter($"n_triangles" > 0).orderBy("node").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq === Seq((0L, 1000L, 1L), (1L, 2L, 1L), (2L, 2L, 1L)),
      "hub triangle credited to all three corners, hub degree exact")
  }

  test("kCore: pendant chain peels one layer per round (fixed-round " +
       "contract observable); converged peel keeps exactly the 2-core") {
    import spark.implicits._
    // triangle {1,2,3} + chain 3-4-5: the 2-core is the triangle
    val g = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L))
      .toDF("a", "b")
    def run(rounds: Int) =
      Graph.kCore(g, "a", "b", k = 2, rounds = rounds)
        .orderBy("node").collect()
        .map(r => (r.getLong(0),
          if (r.isNullAt(1)) -1L else r.getLong(1), r.getInt(2)))
    // 1 round: only leaf 5 peels; 4 survives the edge filter but fails
    // the final deg >= 2 cut — membership already right, but node 3
    // still counts its edge to 4
    assert(run(1).toSeq === Seq((1L, 2L, 1), (2L, 2L, 1), (3L, 3L, 1),
      (4L, -1L, 0), (5L, -1L, 0)))
    // 2+ rounds: converged — the triangle alone, all degrees 2
    for (r <- Seq(2, 8))
      assert(run(r).toSeq === Seq((1L, 2L, 1), (2L, 2L, 1), (3L, 2L, 1),
        (4L, -1L, 0), (5L, -1L, 0)), s"rounds=$r")
  }

  test("triangleCounts maxDegree cap: wedges through over-cap hubs are " +
       "excluded (lower-bound counts), degrees stay exact") {
    import spark.implicits._
    // triangle {1,2,3} + hub 3 fanned to 10 extra leaves -> deg(3)=12
    val fan = (10L to 19L).map(i => (3L, i))
    val pairs = (Seq((1L, 2L), (2L, 3L), (1L, 3L)) ++ fan).toDF("a", "b")
    val exact = Graph.triangleCounts(pairs, "a", "b")
      .filter($"node" === 3L).head
    assert(exact.getLong(1) === 12L && exact.getLong(2) === 1L)
    // cap at 5: the edges into node 3 are dropped from wedge gen, so
    // the {1,2,3} triangle is no longer countable — but deg stays 12
    val capped = Graph.triangleCounts(pairs, "a", "b", maxDegree = 5)
      .filter($"node" === 3L).head
    assert(capped.getLong(1) === 12L && capped.getLong(2) === 0L,
      "cap trades exactness for a wedge bound; degree column unchanged")
  }

  test("adamicAdar: path scores its one open pair 1/ln(2); K3 has no " +
       "open wedges; center cap empties a star; topK ties break by ids; " +
       "partition-invariant") {
    import spark.implicits._
    // path 1-2-3: open pair (1,3) via center 2 of degree 2
    val path = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
    val got = Graph.adamicAdar(path, "a", "b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq === Seq((1L, 3L, 1L,
      math.round(1.0 / math.log(2.0) * 1e6) / 1e6)))
    // K3: every wedge closes -> nothing to predict
    val k3 = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("a", "b")
    assert(Graph.adamicAdar(k3, "a", "b").isEmpty)
    // star center 9, leaves 1..5: C(5,2)=10 open pairs at 1/ln(5) each;
    // capping the center's degree below 5 removes every wedge
    val star = (1L to 5L).map(i => (9L, i)).toDF("a", "b")
    val full = Graph.adamicAdar(star, "a", "b").collect()
    assert(full.length === 10 &&
      full.forall(_.getDouble(3) === math.round(1.0 / math.log(5.0) * 1e6) / 1e6))
    assert(Graph.adamicAdar(star, "a", "b", maxDegree = 4).isEmpty)
    // equal scores: topK must cut on the deterministic (node_a, node_b)
    // tie-break, so the kept rows are the id-smallest pairs
    val top3 = Graph.adamicAdar(star, "a", "b", topK = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(top3.toSeq === Seq((1L, 2L), (1L, 3L), (1L, 4L)))
    for (p <- Seq(1, 7)) {
      val g2 = Graph.adamicAdar(star.repartition(p), "a", "b").collect()
      assert(g2.length === 10, s"p=$p")
    }
  }

  test("labelPropagation: two bridged triangles settle into two " +
       "communities of 3; a lone edge 2-cycles so odd rounds land " +
       "swapped (the fixed-round contract); partition-invariant") {
    import spark.implicits._
    val g = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (4L, 5L), (5L, 6L), (4L, 6L), (3L, 4L)).toDF("a", "b")
    def run(df: org.apache.spark.sql.DataFrame, rounds: Int = 5) =
      Graph.labelPropagation(df, "a", "b", rounds).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    // hand replay: round-by-round mode/min updates converge by round 5
    // to label 1 on {1,2,3} and label 3 on {4,5,6}
    assert(run(g).toSeq === Seq((1L, 1L, 3L), (2L, 1L, 3L), (3L, 1L, 3L),
      (4L, 3L, 3L), (5L, 3L, 3L), (6L, 3L, 3L)))
    // single edge: synchronous LPA swaps labels every round — after an
    // odd round count the labels sit exchanged, deterministically
    val e = Seq((1L, 2L)).toDF("a", "b")
    assert(run(e, rounds = 5).toSeq === Seq((1L, 2L, 1L), (2L, 1L, 1L)))
    assert(run(e, rounds = 4).toSeq === Seq((1L, 1L, 1L), (2L, 2L, 1L)))
    for (p <- Seq(1, 7))
      assert(run(g.repartition(p)).toSeq.map(_._2).toSeq ===
        Seq(1L, 1L, 1L, 3L, 3L, 3L), s"p=$p")
  }

  test("graph family shares the edge/degree snapshots: sibling " +
       "operators over the SAME pair table hit the memo instead of " +
       "re-running the symmetrize/distinct/degree prologue") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L),
      (3L, 5L), (5L, 1L), (2L, 1L) /* duplicate orientation */)
      .toDF("a", "b")
    val e0 = (Graph.edgeMemo.hits.get(), Graph.edgeMemo.builds.get())
    val d0 = (Graph.degMemo.hits.get(), Graph.degMemo.builds.get())
    // first consumer builds both snapshots...
    val tri = Graph.triangleCounts(pairs, "a", "b")
      .orderBy("node").collect()
    assert(Graph.edgeMemo.builds.get() == e0._2 + 1
      && Graph.degMemo.builds.get() == d0._2 + 1,
      "first graph operator must snapshot edges and degrees once")
    // ...every sibling only hits
    Graph.kCore(pairs, "a", "b", k = 2, rounds = 4).collect()
    Graph.labelPropagation(pairs, "a", "b", rounds = 2).collect()
    Graph.adamicAdar(pairs, "a", "b").collect()
    Graph.degreeAssortativity(pairs, "a", "b").collect()
    Graph.pageRank(pairs, "a", "b", iters = 3).collect()
    assert(Graph.edgeMemo.builds.get() == e0._2 + 1
      && Graph.degMemo.builds.get() == d0._2 + 1,
      "siblings must not rebuild the edge/degree snapshots")
    assert(Graph.edgeMemo.hits.get() >= e0._1 + 5
      && Graph.degMemo.hits.get() >= d0._1 + 3,
      "siblings must hit the shared snapshots")
    // the duplicate (2,1) row collapsed into the canonical (1,2) edge:
    // node 1 has degree 3, exactly as an unshared distinct would give
    assert(tri.map(r => r.getLong(0) -> r.getLong(1)).toMap.apply(1L)
      === 3L)
  }

  test("pageRank reconstructs self-loops EXACTLY from the canonical " +
       "snapshot (a loop is one (x, x) row; deg counts it once)") {
    import spark.implicits._
    // 1-2 edge plus a self-loop on 2: deg(1)=1, deg(2)=2, n=2
    val g = Seq((1L, 2L), (2L, 2L)).toDF("a", "b")
    val got = Graph.pageRank(g, "a", "b", iters = 10).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // local replay of the identical recurrence
    var (r1, r2) = (0.5, 0.5)
    for (_ <- 1 to 10) {
      val (n1, n2) = (0.15 / 2 + 0.85 * (r2 / 2),
        0.15 / 2 + 0.85 * (r1 / 1 + r2 / 2))
      r1 = n1; r2 = n2
    }
    assert(math.abs(got(1L) - r1) < 2e-6 && math.abs(got(2L) - r2) < 2e-6,
      s"loop graph ranks $got vs local ($r1, $r2)")
  }

  test("iterative graph ops: driver-gated branch == distributed branch " +
       "(gate forced to 0) on a graph with loops, a hub and a chain") {
    import spark.implicits._
    // dense core {1,2,3,5} + chain to 4 + a 16-leaf hub on 4 + a
    // self-loop on 6 + a duplicate orientation — every structural
    // wrinkle the branches must agree on
    val g = (Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L),
      (3L, 5L), (5L, 1L), (6L, 6L), (2L, 1L)) ++
      (10L to 25L).map(i => (4L, i))).toDF("a", "b")
    def pr() = Graph.pageRank(g, "a", "b", iters = 7, emitDelta = true)
      .orderBy("node").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSeq
    def kc() = Graph.kCore(g, "a", "b", k = 2, rounds = 4)
      .orderBy("node").collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) -1L else r.getLong(1), r.getInt(2))).toSeq
    // a 10-node chain under rounds=3 does NOT converge — the partial
    // peel (rounds-exhausted tail, survivor-degree recompute) must
    // agree across branches too, not just the fixed-point exit
    val chain = (30L to 39L).sliding(2).map(s => (s.head, s.last))
      .toSeq.toDF("a", "b")
    def kcPartial() = Graph.kCore(chain, "a", "b", k = 2, rounds = 3)
      .orderBy("node").collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) -1L else r.getLong(1), r.getInt(2))).toSeq
    def lpa() = Graph.labelPropagation(g, "a", "b", rounds = 3)
      .orderBy("node").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val ((prD, kcD, kcpD, lpaD), gD) =
      gatesOf((pr(), kc(), kcPartial(), lpa()))
    assert(gD === Map("graph" -> (4L, 0L)), "default gate: all local")
    withConf("spark.graft.gate.graph" -> "0") {
      val ((prX, kcX, kcpX, lpaX), gX) =
        gatesOf((pr(), kc(), kcPartial(), lpa()))
      assert(gX === Map("graph" -> (0L, 4L)), "gate 0: all distributed")
      // kCore and LPA are integer/label-exact: bit-for-bit equality
      assert(kcD === kcX, s"kCore branches disagree:\n$kcD\n$kcX")
      assert(kcpD === kcpX,
        s"kCore partial-peel branches disagree:\n$kcpD\n$kcpX")
      assert(lpaD === lpaX, s"LPA branches disagree:\n$lpaD\n$lpaX")
      // pageRank folds the same arithmetic; sum order differs by ulps
      // the round-6 absorbs except exactly ON a rounding knife edge —
      // compare at one scaled-integer step of tolerance
      assert(prD.map(_._1) === prX.map(_._1))
      prD.zip(prX).foreach { case ((n, r1, d1), (_, r2, d2)) =>
        assert(math.abs(r1 - r2) <= 1.000001e-6 &&
          math.abs(d1 - d2) <= 1.000001e-9,
          s"node $n rank/delta drift: ($r1,$d1) vs ($r2,$d2)")
      }
    }
  }

  test("randomized branch differential: driver == distributed for " +
       "pageRank/kCore/LPA over seeded random graphs (loops, dup " +
       "orientations, null endpoints, stars, chains all arise)") {
    import spark.implicits._
    for (seed <- 1 to 5) {
      val rnd = new scala.util.Random(1000L + seed)
      val n = 5 + rnd.nextInt(20)
      val m = 1 + rnd.nextInt(40)
      // ~5% null endpoints, ~10% loops, duplicates free to collide
      def end(): Option[Long] =
        if (rnd.nextInt(20) == 0) None else Some(1L + rnd.nextInt(n))
      val raw = (1 to m).map { _ =>
        val a = end()
        val b = if (rnd.nextInt(10) == 0) a else end()
        (a, b)
      }
      val pairs = raw.toDF("a", "b")
      def all() = (
        Graph.pageRank(pairs, "a", "b", iters = 5).orderBy("node")
          .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq,
        Graph.kCore(pairs, "a", "b", k = 2, rounds = 3).orderBy("node")
          .collect().map(r => (r.getLong(0),
            if (r.isNullAt(1)) -1L else r.getLong(1), r.getInt(2))).toSeq,
        Graph.labelPropagation(pairs, "a", "b", rounds = 2)
          .orderBy("node").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq)
      val ((prD, kcD, lpaD), gD) = gatesOf(all())
      // pageRank gates on all edges, kCore/LPA on non-loop edges; an
      // empty size routes distributed
      val edges = raw.collect { case (Some(a), Some(b)) => (a, b) }
      val local = (if (edges.nonEmpty) 1L else 0L) +
        (if (edges.exists { case (a, b) => a != b }) 2L else 0L)
      assert(gD === Map("graph" -> (local, 3L - local)),
        s"seed=$seed default: $gD")
      withConf("spark.graft.gate.graph" -> "0") {
        val ((prX, kcX, lpaX), gX) = gatesOf(all())
        assert(gX === Map("graph" -> (0L, 3L)), s"seed=$seed gate 0: $gX")
        assert(kcD === kcX, s"seed=$seed kCore:\n$kcD\n$kcX")
        assert(lpaD === lpaX, s"seed=$seed LPA:\n$lpaD\n$lpaX")
        assert(prD.map(_._1) === prX.map(_._1), s"seed=$seed PR nodes")
        prD.zip(prX).foreach { case ((node, r1), (_, r2)) =>
          assert(math.abs(r1 - r2) <= 1.000001e-6,
            s"seed=$seed node $node rank $r1 vs $r2")
        }
      }
    }
  }

  test("pairs with a NULL endpoint are DROPPED, never collapsed: " +
       "least/greatest skip NULLs, so without the canonEdges filter a " +
       "(x, null) pair would silently become an (x, x) self-loop — a " +
       "different graph") {
    import spark.implicits._
    // triangle + one (3, null) pair + one (null, null) pair
    val g = Seq((Some(1L), Some(2L)), (Some(2L), Some(3L)),
        (Some(1L), Some(3L)), (Some(3L), None), (None: Option[Long], None))
      .toDF("a", "b")
    val clean = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("a", "b")
    // pageRank: a phantom (3, 3) self-loop would shift every rank
    val got = Graph.pageRank(g, "a", "b", iters = 5).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val want = Graph.pageRank(clean, "a", "b", iters = 5).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got == want,
      s"null-endpoint pairs must not perturb ranks: $got vs $want")
    // degrees: node 3 keeps deg 2 (no phantom loop), no null node row
    val deg = Graph.triangleCounts(g, "a", "b").collect()
      .map(r => (r.get(0), r.getLong(1))).toMap
    assert(deg(3L) == 2L && !deg.contains(null),
      s"degree table must exclude null endpoints: $deg")
  }
}
