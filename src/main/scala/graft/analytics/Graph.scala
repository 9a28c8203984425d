package graft.analytics

import Par.Mat

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, StructField}
import org.apache.spark.storage.StorageLevel

/** Link-analysis operators over pair tables (near-dup candidate pairs,
  * citation edges, co-occurrence graphs): PageRank and triangle/
  * clustering-coefficient counts — the graph view of a dedup run, where
  * a document's centrality in the duplicate graph ranks boilerplate
  * templates and a node's clustering separates tight clone clusters
  * from chains of pairwise-similar drift.
  *
  * Everything is edge-keyed joins + node-keyed aggregations — the
  * standard distributed shapes (no adjacency lists are ever collected,
  * no per-node windows), so the same plans run over 10^10 edges. The
  * canonical edge set and its degree table are SHARED across the family
  * through a session memo (see [[edgeMemo]]): the first operator over a
  * pair table pays the symmetrize/distinct/degree shuffles once, the
  * siblings start from two-column snapshot scans. Operators materialize
  * their result via `Par.materialize` and release any cached edge table
  * before returning, so repeated calls in a long-lived session do not
  * accumulate CacheManager storage.
  */
object Graph {

  /** Session memos of the canonical edge and degree tables — the
    * second-level share one step DOWN from the candidate-pair memo
    * (Dedup.candidateMemo): six graph gates consume the SAME pair
    * table, and each used to rebuild the identical symmetrize +
    * distinct + degree-agg prologue from it. The first graph operator
    * per (pairs-plan) now snapshots the canonical edge set and its
    * degree table once; every sibling starts from a two-column (edges)
    * or (node, deg) parquet scan with the distinct shuffle already
    * paid. Both are deterministic projections of the pair table, so a
    * hit is bit-identical to a recompute (the Memo.scala contract).
    *
    * Worst-case snapshot volume: |edges| <= |pairs| rows of two id
    * columns and |deg| <= 2|pairs| — never wider than the pair table
    * the first-level memo already snapshots. */
  private[graft] val edgeMemo = new FrameMemo("graph_edges")
  private[graft] val degMemo = new FrameMemo("graph_deg")

  /** The canonical UNDIRECTED edge table of a pair list, memoized:
    * (a, b) = (least, greatest) per pair, distinct — self-loops KEPT
    * as (x, x) rows so the one consumer whose semantics include them
    * (pageRank) can recover them with a pushed filter; every other
    * consumer filters `a <> b` off the snapshot scan.
    *
    * Pairs with a NULL endpoint are DROPPED here, explicitly: least/
    * greatest skip NULLs, so without the filter a (x, null) pair would
    * silently collapse to an (x, x) self-loop — a different graph, not
    * a representation choice. A null endpoint is not a node; no graph
    * consumer defines semantics for it, so the edge is excluded rather
    * than half-kept.
    *
    * Every consumer here references the result several times (LPA
    * joins it every round, adamicAdar's wedge self-join reads it
    * twice); a memo result is a snapshot scan or a materialized build,
    * so no reference re-runs the upstream pair pipeline. */
  private def canonEdges(pairs: DataFrame, aCol: String,
                         bCol: String): DataFrame =
    edgeMemo.getOrCompute(
      Seq(pairs.select(col(aCol), col(bCol))), "canon") {
      pairs.filter(col(aCol).isNotNull && col(bCol).isNotNull)
        .select(least(col(aCol), col(bCol)).as("a"),
          greatest(col(aCol), col(bCol)).as("b"))
        .distinct()
    }

  /** Loop-free canonical edges — what every consumer except pageRank
    * means by "the graph". */
  private def simpleEdges(pairs: DataFrame, aCol: String,
                          bCol: String): DataFrame =
    canonEdges(pairs, aCol, bCol).filter(col("a") =!= col("b"))

  /** (node, deg) over the loop-free canonical edges, memoized — the
    * degree table five consumers re-derived independently. Its node
    * set is exactly the graph's node set, so consumers needing "all
    * nodes" project this instead of running their own distinct. */
  private def canonDegrees(pairs: DataFrame, aCol: String,
                           bCol: String): DataFrame =
    degMemo.getOrCompute(
      Seq(pairs.select(col(aCol), col(bCol))), "deg") {
      val e = simpleEdges(pairs, aCol, bCol)
      e.select(col("a").as("node")).union(e.select(col("b").as("node")))
        .groupBy(col("node"))
        .agg(count(lit(1)).cast("long").as("deg"))
    }

  /** PageRank over an UNDIRECTED pair list: pairs symmetrize into a
    * directed edge table, every node then has in- and out-degree >= 1
    * (no dangling-mass correction needed), and `iters` rounds of the
    * standard recurrence run as join + aggregate:
    * `r'(v) = (1-d)/N + d * sum over neighbors u of r(u)/deg(u)`.
    *
    * Ranks and degrees are node-keyed so every round reuses the same
    * hash partitioning over the persisted edge table; the node count N
    * is a driver scalar — the one collect, O(1). A dictionary-sized
    * edge set (the `graph` gate, [[Par.gate]]) instead runs the
    * identical recurrence driver-side over one collect of the
    * canonical snapshot. For deep iteration
    * (`iters > 10`) ranks are `Par.materialize`d every 5 rounds: the
    * lineage would otherwise nest one join per round and plan
    * compilation / recovery cost grows superlinearly past ~10 joins,
    * while a checkpoint truncates it to a materialized node-keyed table
    * (rank values are identical either way — checkpointing only cuts
    * the plan, not the arithmetic). Deterministic to the 6 rounded
    * places: the recurrence is fixed-iteration with (1-d) passed as the
    * SAME interpolated constant the oracle uses; float addition order
    * only perturbs ulps, which the final round absorbs.
    *
    * Output: (node, rank) — rank rounded to 6; ranks sum to ~1. With
    * `emitDelta` a third column `delta` carries the node's absolute
    * rank change in the FINAL round (rounded to 9) so convergence is
    * observable: `sum(delta)` is the L1 step size, and a caller tuning
    * `iters` watches it approach 0. */
  def pageRank(pairs: DataFrame, aCol: String, bCol: String,
               iters: Int = 10, damping: Double = 0.85,
               emitDelta: Boolean = false): DataFrame = {
    require(iters >= 1 && damping > 0.0 && damping < 1.0,
      "need iters >= 1 and damping in (0, 1)")
    val spark = pairs.sparkSession
    import spark.implicits._
    // persisted pre-partitioned on src: every round's rank join and the
    // degree agg then reuse this layout — the only per-round exchange
    // left is the contribution re-aggregation by dst, which IS the
    // round's data movement. The distinct edge set comes from the
    // shared memo (already canonicalized + deduped); symmetrizing the
    // a < b rows and re-adding the (x, x) loop rows reconstructs the
    // "union both directions, distinct" table EXACTLY — loops survive
    // that distinct as one row, which is one (x, x) canonical row here.
    val canon = canonEdges(pairs, aCol, bCol)
    val teleport = 1.0 - damping
    // ---- local branch (Par.gate "graph") ----
    // float-sum order differs from the distributed rounds by ulps the
    // final round-6 absorbs
    if (Par.gate(spark, "graph", canon.count())) {
      val rows = canon.collect()
      val idx = scala.collection.mutable.HashMap[Any, Int]()
      val nodeVals = scala.collection.mutable.ArrayBuffer[Any]()
      def id(x: Any): Int =
        idx.getOrElseUpdate(x, { nodeVals += x; nodeVals.length - 1 })
      val srcB = new scala.collection.mutable.ArrayBuffer[Int](rows.length * 2)
      val dstB = new scala.collection.mutable.ArrayBuffer[Int](rows.length * 2)
      rows.foreach { row =>
        val a = id(row.get(0)); val b = id(row.get(1))
        srcB += a; dstB += b
        if (a != b) { srcB += b; dstB += a }
      }
      val src = srcB.toArray; val dst = dstB.toArray
      val nn = nodeVals.length
      val outDeg = new Array[Double](nn)
      src.foreach(outDeg(_) += 1.0)
      var r = Array.fill(nn)(1.0 / nn)
      var prevArr: Array[Double] = null
      for (i <- 1 to iters) {
        if (emitDelta && i == iters) prevArr = r
        val acc = new Array[Double](nn)
        var e = 0
        while (e < src.length) {
          acc(dst(e)) += r(src(e)) / outDeg(src(e)); e += 1
        }
        val next = new Array[Double](nn)
        var v = 0
        while (v < nn) { next(v) = teleport / nn + damping * acc(v); v += 1 }
        r = next
      }
      val outRows = (0 until nn).map { k =>
        if (emitDelta)
          org.apache.spark.sql.Row(nodeVals(k), math.round(r(k) * 1e6) / 1e6,
            math.round(math.abs(r(k) - prevArr(k)) * 1e9) / 1e9)
        else org.apache.spark.sql.Row(nodeVals(k), math.round(r(k) * 1e6) / 1e6)
      }
      return Par.localFrame(spark,
        Seq(StructField("node", canon.schema("a").dataType),
          StructField("rank", DoubleType)) ++
          (if (emitDelta) Seq(StructField("delta", DoubleType)) else Nil),
        outRows)
    }
    val edges = canon.filter($"a" =!= $"b")
      .select($"a".as("src"), $"b".as("dst"))
      .union(canon.filter($"a" =!= $"b")
        .select($"b".as("src"), $"a".as("dst")))
      .union(canon.filter($"a" === $"b")
        .select($"a".as("src"), $"b".as("dst")))
      .repartition(col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val deg = edges.groupBy($"src").agg(count(lit(1)).cast("long").as("deg"))
    val n = deg.count() // node count: the one driver scalar
    var ranks = deg.select($"src".as("n"), (lit(1.0) / n).as("r"))
    var prev: DataFrame = null
    for (i <- 1 to iters) {
      if (emitDelta && i == iters) prev = ranks
      ranks = edges
        .join(ranks.select($"n".as("src"), $"r"), Seq("src"))
        .join(deg, Seq("src"))
        .select($"dst".as("n"), ($"r" / $"deg").as("c"))
        .groupBy($"n")
        .agg((lit(teleport) / n + lit(damping) * sum($"c")).as("r"))
      // deep iteration: truncate lineage every 5 rounds (node-keyed
      // table, one row per node — cheap to materialize)
      if (iters > 10 && i < iters && i % 5 == 0)
        ranks = ranks.materialized()
    }
    val projected =
      if (emitDelta)
        ranks.join(prev.select($"n", $"r".as("r_prev")), Seq("n"), "left")
          .select($"n".as("node"), round($"r", 6).as("rank"),
            round(abs($"r" - coalesce($"r_prev", lit(0.0))), 9).as("delta"))
      else ranks.select($"n".as("node"), round($"r", 6).as("rank"))
    // materialize, then release the cached edges: the returned frame
    // reads its own checkpointed blocks, not the edge lineage
    val out = projected.materialized()
    edges.unpersist()
    out
  }

  /** The one (deg, id) edge orientation both triangle consumers share,
    * computed ONCE with BOTH endpoint degrees kept: (src, dst, dsrc,
    * ddst), src the lower-(deg, id) endpoint. The maxDegree cap is a
    * downstream FILTER on these degree columns — orientation per edge
    * does not depend on the cap, so wedge generation (capped) and
    * closure lookup (uncapped) share one degree-join pipeline instead
    * of running it twice (measured: the duplicated pipeline doubled
    * q174's exchange count and made it the slowest query in the
    * catalog bench). */
  private def orientEdges(edges: DataFrame, deg: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val withDeg = edges
      .join(deg.select($"node".as("a"), $"deg".as("da")), Seq("a"))
      .join(deg.select($"node".as("b"), $"deg".as("db")), Seq("b"))
    val lowFirst = struct($"da", $"a") < struct($"db", $"b")
    withDeg.select(
      when(lowFirst, $"a").otherwise($"b").as("src"),
      when(lowFirst, $"b").otherwise($"a").as("dst"),
      when(lowFirst, $"da").otherwise($"db").as("dsrc"),
      when(lowFirst, $"db").otherwise($"da").as("ddst"))
  }

  /** Degree-ordered wedge generation — the hub-safe core of
    * [[triangleCounts]], factored out so specs can pin the wedge count
    * itself. Each undirected edge is oriented from its LOWER-(deg, id)
    * endpoint to the higher one (struct comparison breaks degree ties
    * by node id), and a wedge (u; v, w) is a pair of ORIENTED
    * out-neighbors of u with (deg_v, v) < (deg_w, w). Orienting this
    * way bounds any node's out-degree by O(sqrt(m)) — a hub of degree D
    * receives its D edges inbound and generates ZERO wedges itself, so
    * total wedge volume is O(m^1.5) instead of the sum of D^2/2 that
    * ID-only canonical enumeration pays on hub-heavy graphs (exactly
    * the shape of a boilerplate near-dup graph, where one template node
    * links to everything).
    *
    * `maxDegree` is a further safety valve: edges incident to a node of
    * degree > maxDegree are excluded from wedge generation entirely
    * (triangle counts through such hubs become lower bounds; reported
    * degrees stay exact). Default = no cap, exact counts.
    *
    * Output: (u, v, w) with the closing edge {v, w} NOT yet checked;
    * each potential triangle appears exactly once. The (deg, id)
    * orientation itself lives in [[orientEdges]], shared with the
    * closure join — the two MUST orient identically or triangles
    * silently vanish. */
  private[graft] def degreeOrientedWedges(
      edges: DataFrame, deg: DataFrame, maxDegree: Int): DataFrame =
    wedgesFromOriented(orientEdges(edges, deg), maxDegree)

  /** Wedge pairing over an ALREADY-oriented edge table (so the caller
    * can orient once and reuse the frame for the closure join). */
  private def wedgesFromOriented(oriented: DataFrame,
                                 maxDegree: Int): DataFrame = {
    val spark = oriented.sparkSession
    import spark.implicits._
    val capped = oriented
      .filter($"dsrc" <= maxDegree.toLong && $"ddst" <= maxDegree.toLong)
    capped.select($"src", $"dst".as("v"), $"ddst".as("dv"))
      .join(capped.select($"src", $"dst".as("w"), $"ddst".as("dw")),
        Seq("src"))
      .filter(struct($"dv", $"v") < struct($"dw", $"w"))
      .select($"src".as("u"), $"v", $"w")
  }

  /** Per-node triangle counts and local clustering coefficient over an
    * UNDIRECTED pair list. Wedges are generated DEGREE-ORDERED (see
    * [[degreeOrientedWedges]]): each edge orients from its lower-
    * (deg, id) endpoint, a wedge is an ordered pair of out-neighbors,
    * and the closing edge {v, w} — necessarily oriented v -> w under
    * the same ordering — is checked by one equi-join, so each triangle
    * is enumerated exactly once and total join volume is O(m^1.5) even
    * when one hub carries most of the edges. The coefficient is
    * `2T / (deg * (deg - 1))` (the fraction of a node's neighbor pairs
    * that are themselves linked), null for degree-1 nodes.
    *
    * Scale shape: two equi-joins (wedge build on src, closure on
    * (v, w)) and one node-keyed count — no neighborhood arrays, no
    * windows, and no D^2 blow-up on a hot node. `maxDegree` caps wedge
    * generation through extreme hubs as a safety valve (counts through
    * over-cap nodes become lower bounds; degrees stay exact); the
    * default is uncapped/exact.
    *
    * Output: (node, deg, n_triangles, clustering) ordered by caller. */
  def triangleCounts(pairs: DataFrame, aCol: String, bCol: String,
                     maxDegree: Int = Int.MaxValue): DataFrame = {
    require(maxDegree >= 1, "need maxDegree >= 1")
    val spark = pairs.sparkSession
    import spark.implicits._
    // edge + degree tables from the shared memo: edges feed ONLY the
    // orientation join here (deg is its own snapshot), so no persist —
    // a single two-column snapshot scan
    val edges = simpleEdges(pairs, aCol, bCol)
    val deg = canonDegrees(pairs, aCol, bCol)
    // orient ONCE and materialize: wedge generation (cap-filtered) and
    // the closure lookup reuse the same degree-join pipeline — running
    // orientEdges twice doubled the exchange count and made q174 the
    // slowest query in the catalog bench
    val oriented = orientEdges(edges, deg).materialized()
    val wedges = wedgesFromOriented(oriented, maxDegree)
    // closing edge {v, w}: under the same (deg, id) orientation it can
    // only appear as v -> w, so one equi-join on both keys closes it
    // (UNCAPPED: a wedge through in-cap endpoints may legitimately
    // close via an edge whose other metadata we no longer need)
    val closure = oriented.select($"src".as("v"), $"dst".as("w"))
    val tri = wedges.join(closure, Seq("v", "w"))
      .select($"u", $"v", $"w")
    val perNode = tri.select(explode(array($"u", $"v", $"w")).as("node"))
      .groupBy($"node").agg(count(lit(1)).cast("long").as("n_triangles"))
    val projected = deg.join(perNode, Seq("node"), "left")
      .select($"node", $"deg",
        coalesce($"n_triangles", lit(0L)).as("n_triangles"),
        // degrees multiply AS DOUBLES: deg*(deg-1) in Long is an ANSI
        // ARITHMETIC_OVERFLOW past ~3e9 neighbors — precisely the hub
        // regime maxDegree exists to survive
        when($"deg" >= 2, round(
          lit(2.0) * coalesce($"n_triangles", lit(0L)) /
            ($"deg".cast("double") * ($"deg" - 1).cast("double")),
          6)).as("clustering"))
    projected.materialized()
  }

  /** k-core membership by FIXED-ROUND peel: `rounds` iterations of
    * "drop every node whose current degree is below k (and its edges)"
    * over the symmetrized distinct edge set. The k-core is the
    * dedup-graph pruning tool — a template hub with a thousand
    * degree-1 pendants is NOT dense structure, and peeling strips the
    * pendants (and whatever chains they expose) before cluster
    * analysis runs.
    *
    * The round count is part of the OPERATOR CONTRACT, not a
    * convergence heuristic: the result is always the state after
    * exactly `rounds` peels, so a replayed oracle (or a rerun on the
    * same data) reaches the identical intermediate state even when the
    * peel has not yet converged — after round r the survivor set is
    * exact for any graph whose peel terminates within r rounds, and an
    * upper bound on the true k-core otherwise (each extra round only
    * removes). Chain graphs peel one layer per round, so size `rounds`
    * to the longest pendant chain you care to strip; real near-dup
    * graphs collapse in a handful. A round that removes NOTHING is a
    * fixed point — every later round is provably a no-op — so the loop
    * exits early there with a result identical to the full unroll (the
    * measured hub graph converges in 1 round instead of paying 8).
    *
    * Scale shape: each round is one node-keyed degree agg + one
    * survivor semi-join of the edge table — the pageRank round shape;
    * the per-round degree table and edge survivors are
    * `Par.materialize`d (node-keyed / shrinking tables), so lineage
    * stays one round deep. Dictionary-sized edge sets (the `graph`
    * gate, [[Par.gate]]) peel driver-side over one collect —
    * integer-exact, including the non-converged partial peel.
    * Output: (node, deg, in_core 0/1) for every ORIGINAL node; deg =
    * the node's degree within the surviving subgraph, null for peeled
    * nodes. */
  def kCore(pairs: DataFrame, aCol: String, bCol: String,
            k: Int = 2, rounds: Int = 8): DataFrame = {
    require(k >= 1 && rounds >= 1, "need k >= 1 and rounds >= 1")
    val spark = pairs.sparkSession
    import spark.implicits._
    // round-0 degree table and the node universe both come from the
    // shared memo (the degree snapshot's node set IS the node set);
    // later rounds re-aggregate over the shrinking survivor edges
    val deg0 = canonDegrees(pairs, aCol, bCol)
    val allNodes = deg0.select($"node")
    def degrees(e: DataFrame): DataFrame =
      e.select($"a".as("node")).union(e.select($"b".as("node")))
        .groupBy($"node").agg(count(lit(1)).cast("long").as("deg"))
    // ---- local branch (Par.gate "graph"): integer-exact peel ----
    val simple0 = simpleEdges(pairs, aCol, bCol).select($"a", $"b")
    if (Par.gate(spark, "graph", simple0.count())) {
      val degRows = deg0.collect()
      val nn = degRows.length
      val idx = scala.collection.mutable.HashMap[Any, Int]()
      degRows.zipWithIndex.foreach { case (row, i) => idx(row.get(0)) = i }
      val eRows = simple0.collect()
      var ea = new Array[Int](eRows.length)
      var eb = new Array[Int](eRows.length)
      var i = 0
      while (i < eRows.length) {
        ea(i) = idx(eRows(i).get(0)); eb(i) = idx(eRows(i).get(1)); i += 1
      }
      // degArr(v) = degree within the current survivor subgraph, or
      // -1 when v no longer appears in any surviving edge (mirrors the
      // distributed degrees(e), which emits no row for such nodes)
      var degArr = Array.tabulate(nn)(k => degRows(k).getLong(1))
      def recompute(sa: Array[Int], sb: Array[Int]): Array[Long] = {
        val d = Array.fill(nn)(-1L)
        var e = 0
        while (e < sa.length) {
          if (d(sa(e)) < 0) d(sa(e)) = 0
          if (d(sb(e)) < 0) d(sb(e)) = 0
          d(sa(e)) += 1; d(sb(e)) += 1; e += 1
        }
        d
      }
      var fixed = false
      var r = 0
      while (r < rounds && !fixed) {
        val deg = if (r == 0) degArr else recompute(ea, eb)
        degArr = deg
        if (!deg.exists(d => d >= 0 && d < k)) fixed = true // fixed point
        else {
          val keepE = (0 until ea.length).filter(e =>
            deg(ea(e)) >= k && deg(eb(e)) >= k)
          ea = keepE.map(e => ea(e)).toArray
          eb = keepE.map(e => eb(e)).toArray
        }
        r += 1
      }
      val surv = if (fixed) degArr else recompute(ea, eb)
      val outRows = (0 until nn).map { v =>
        val in = surv(v) >= k
        org.apache.spark.sql.Row(degRows(v).get(0),
          if (in) java.lang.Long.valueOf(surv(v)) else null,
          if (in) 1 else 0)
      }
      return Par.localFrame(spark,
        Seq(StructField("node", deg0.schema("node").dataType),
          StructField("deg", LongType),
          StructField("in_core", IntegerType, nullable = false)),
        outRows)
    }
    var edges = simple0
    var finalDeg: DataFrame = null
    var r = 0
    while (r < rounds && finalDeg == null) {
      val deg = if (r == 0) deg0 else degrees(edges).materialized()
      if (deg.filter($"deg" < k).isEmpty) finalDeg = deg // fixed point
      else {
        val keep = deg.filter($"deg" >= k).select($"node")
        edges = edges
          .join(keep.select($"node".as("a")), Seq("a"), "left_semi")
          .join(keep.select($"node".as("b")), Seq("b"), "left_semi")
          .select($"a", $"b")
          .materialized()
      }
      r += 1
    }
    val surv =
      (if (finalDeg != null) finalDeg else degrees(edges))
        .filter($"deg" >= k)
    val projected = allNodes
      .join(surv, Seq("node"), "left")
      .select($"node", $"deg",
        when($"deg".isNotNull, 1).otherwise(0).as("in_core"))
    projected.materialized()
  }

  /** Adamic-Adar link prediction over an UNDIRECTED pair list: score
    * every NON-adjacent pair (u, w) that shares at least one neighbor
    * by `sum over common neighbors z of 1 / ln(deg(z))` — the classic
    * "which near-dup pairs did LSH miss / which docs will collide
    * next" ranking, where a shared rare neighbor (low degree) is strong
    * evidence and a shared template hub is weak.
    *
    * Shape: candidate pairs are exactly the OPEN wedges, so the wedge
    * volume `sum of deg(z)^2 / 2` is inherent to the semantics (unlike
    * triangles, an open wedge cannot be skipped) — the only principled
    * bound is `maxDegree`, which drops wedges CENTERED on a node of
    * degree > maxDegree. That cap is semantically gentle by the
    * operator's own weighting: an over-cap hub contributes at most
    * 1/ln(maxDegree) per pair, the evidence the measure already
    * discounts toward zero. Everything else is equi-joins + one
    * pair-keyed agg; existing edges leave by one anti-join against the
    * canonical edge set (wedge endpoints are emitted a < b, matching).
    *
    * Top-k is part of the contract: rows order by the SCALED-integer
    * score `round(aa * 1e6)` descending with (node_a, node_b) ties —
    * a total order both engines replay exactly (raw double ordering is
    * an IEEE knife edge under float-sum reassociation).
    *
    * Output: (node_a, node_b, common_neighbors, aa_score) — top `topK`.
    */
  def adamicAdar(pairs: DataFrame, aCol: String, bCol: String,
                 maxDegree: Int = 10000, topK: Int = 200): DataFrame = {
    require(maxDegree >= 2 && topK >= 1, "need maxDegree >= 2, topK >= 1")
    val spark = pairs.sparkSession
    import spark.implicits._
    // edge + degree snapshots from the shared memo; the half-edge view
    // re-derives lazily from the two-column scan per consumer subtree
    val edges = simpleEdges(pairs, aCol, bCol)
    val half = edges.select($"a".as("z"), $"b".as("n"))
      .union(edges.select($"b".as("z"), $"a".as("n")))
    val deg = canonDegrees(pairs, aCol, bCol)
      .select($"node".as("z"), $"deg")
    // center-attached degree: each wedge row needs deg(z) for its term,
    // and the cap filter rides the same join
    val centers = half.join(deg, Seq("z"))
      .filter($"deg" <= maxDegree.toLong)
    val wedges = centers.select($"z", $"n".as("na"), $"deg")
      .join(centers.select($"z", $"n".as("nb")), Seq("z"))
      .filter($"na" < $"nb")
    val scored = wedges
      .groupBy($"na".as("node_a"), $"nb".as("node_b"))
      .agg(count(lit(1)).cast("long").as("common_neighbors"),
        sum(lit(1.0) / log($"deg".cast("double"))).as("aa"))
    val nonEdges = scored.join(
      edges.select($"a".as("node_a"), $"b".as("node_b")),
      Seq("node_a", "node_b"), "left_anti")
    val out = nonEdges
      .select($"node_a", $"node_b", $"common_neighbors",
        (round($"aa" * 1e6) / 1e6).as("aa_score"))
      .orderBy(round($"aa" * 1e6).desc, $"node_a", $"node_b")
      .limit(topK)
      .materialized()
    out
  }

  /** Synchronous label propagation (fixed rounds): every node starts
    * labeled with its own id; each round it adopts the MODE of its
    * neighbors' labels, ties broken to the SMALLEST label. Communities
    * denser than their surroundings converge to one label — the soft
    * clustering view of a near-dup graph that connected components
    * overstate (components chain through single weak edges; LPA needs
    * a neighborhood majority to absorb a node).
    *
    * The round count is the operator contract (the kCore precedent):
    * the result is the state after exactly `rounds` synchronous
    * updates, so a replayed oracle lands on the identical intermediate
    * state even where LPA has not converged (synchronous LPA can
    * 2-cycle on bipartite-ish structure — fixed rounds make that
    * deterministic instead of divergent). The (count desc, label asc)
    * argmax is a TOTAL order per node — labels are distinct within a
    * node's tally — implemented as one `max_by(label, (count, -label))`
    * hash aggregate, NOT a per-node window, so a million-neighbor hub
    * costs one aggregation key, not one window partition.
    *
    * Scale shape per round: one edge-keyed join (labels onto the
    * symmetrized half-edge table, node-keyed) + two hash aggregates;
    * labels are `Par.materialize`d each round so lineage stays one
    * round deep. Dictionary-sized edge sets with numerically-ordered
    * node ids (the `graph` gate, [[Par.gate]]) propagate driver-side
    * over one collect — label-exact. Output:
    * (node, label, community_size), community size
    * counted over the final labeling. */
  def labelPropagation(pairs: DataFrame, aCol: String, bCol: String,
                       rounds: Int = 5): DataFrame = {
    require(rounds >= 1, "need rounds >= 1")
    val spark = pairs.sparkSession
    import spark.implicits._
    // edge snapshot from the shared memo; the per-round joins re-read
    // the two-column parquet scan (cheap, pruned) instead of holding a
    // persisted copy, and the initial label universe is the degree
    // snapshot's node column — no distinct shuffle
    val edges = simpleEdges(pairs, aCol, bCol)
    // ---- local branch (Par.gate "graph") ----
    // The (count desc, label asc) argmax is exact on any graph whose
    // node ids carry a numeric ordering — the only ids the distributed
    // tie-break (`-label`) accepts anyway. Non-numeric ids take the
    // distributed rounds without consulting the gate.
    val nodeDt = canonDegrees(pairs, aCol, bCol).schema("node").dataType
    val numericKey: Option[Any => Double] = nodeDt match {
      case org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.ByteType |
           org.apache.spark.sql.types.DoubleType |
           org.apache.spark.sql.types.FloatType =>
        Some((x: Any) => x.asInstanceOf[Number].doubleValue)
      case _ => None
    }
    if (numericKey.isDefined && Par.gate(spark, "graph", edges.count())) {
      val key = numericKey.get
      val degRows = canonDegrees(pairs, aCol, bCol).select($"node").collect()
      val nn = degRows.length
      val idx = scala.collection.mutable.HashMap[Any, Int]()
      degRows.zipWithIndex.foreach { case (row, i) => idx(row.get(0)) = i }
      // rank(v) = position of v's id in ascending numeric order, so
      // "smallest label" ties resolve identically to the distributed
      // max_by(label, struct(c, -label)) without re-boxing per tally
      val byVal = (0 until nn).sortBy(v => key(degRows(v).get(0)))
      val rank = new Array[Int](nn)
      byVal.zipWithIndex.foreach { case (v, p) => rank(v) = p }
      val adj = Array.fill(nn)(new scala.collection.mutable.ArrayBuffer[Int])
      edges.collect().foreach { row =>
        val a = idx(row.get(0)); val b = idx(row.get(1))
        adj(a) += b; adj(b) += a
      }
      var lab = Array.tabulate(nn)(identity) // label = own node, by index
      for (_ <- 1 to rounds) {
        val next = new Array[Int](nn)
        val tally = scala.collection.mutable.HashMap[Int, Long]()
        var v = 0
        while (v < nn) {
          tally.clear()
          adj(v).foreach { nb =>
            tally(lab(nb)) = tally.getOrElse(lab(nb), 0L) + 1L
          }
          var best = -1; var bestC = -1L
          tally.foreach { case (l, c) =>
            if (c > bestC || (c == bestC && rank(l) < rank(best)))
              { best = l; bestC = c }
          }
          next(v) = best; v += 1
        }
        lab = next
      }
      val sizes = scala.collection.mutable.HashMap[Int, Long]()
      lab.foreach(l => sizes(l) = sizes.getOrElse(l, 0L) + 1L)
      val outRows = (0 until nn).map { v =>
        org.apache.spark.sql.Row(degRows(v).get(0),
          degRows(lab(v)).get(0), sizes(lab(v)))
      }
      return Par.localFrame(spark,
        Seq(StructField("node", nodeDt), StructField("label", nodeDt),
          StructField("community_size", LongType)),
        outRows)
    }
    val half = edges.select($"a".as("node"), $"b".as("nb"))
      .union(edges.select($"b".as("node"), $"a".as("nb")))
    var labels = canonDegrees(pairs, aCol, bCol)
      .select($"node", $"node".as("label"))
    for (_ <- 1 to rounds) {
      val tallies = half
        .join(labels.select($"node".as("nb"), $"label"), Seq("nb"))
        .groupBy($"node", $"label")
        .agg(count(lit(1)).cast("long").as("c"))
      labels = tallies
        .groupBy($"node")
        .agg(max_by($"label", struct($"c", (-$"label").as("nl")))
          .as("label"))
        .materialized()
    }
    val sizes = labels.groupBy($"label")
      .agg(count(lit(1)).cast("long").as("community_size"))
    labels.join(sizes, Seq("label"))
      .select($"node", $"label", $"community_size")
      .materialized()
  }

  /** Degree assortativity (Newman 2002): the Pearson correlation of
    * endpoint degrees over every directed edge of the symmetrized
    * graph — positive means hubs link to hubs (social shape), negative
    * means hubs link to leaves (hub-and-spoke; a near-dup graph
    * dominated by one template scores strongly negative). THE one-
    * number shape summary that tells you in advance whether the
    * triangle/wedge pipelines face the hub blow-up their caps guard
    * against. (Pearson is shift-invariant, so correlating full degrees
    * equals the textbook's remaining-degree form exactly.)
    *
    * Scale shape: one node-keyed degree agg, two edge-keyed joins to
    * attach endpoint degrees, ONE moment aggregate with map-side
    * partials — no windows, no driver state. Degree products sum as
    * DECIMAL(38,0) (the q144/q231 overflow rule); both engines derive
    * r from identical integers through one identical IEEE tree.
    * Degree-regular graphs (zero variance) null — undefined, not 0.
    * Output: 1 row (n_nodes, n_edges, assortativity). */
  def degreeAssortativity(pairs: DataFrame, aCol: String,
                          bCol: String): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.types.DecimalType
    // self-loops are dropped BEFORE symmetrizing: a loop survives
    // symmetrize+distinct as a single directed edge, making m2 odd —
    // and Spark's (m2/2).cast truncates where DuckDB's CAST rounds.
    // Assortativity over loops is ill-defined anyway (x == y by
    // construction inflates r toward +1). The loop-free canonical
    // snapshot symmetrizes into exactly that table (the a < b rows and
    // their flips are disjoint, so no re-distinct is needed), and the
    // degree table is the shared snapshot under its directed alias.
    val simple = simpleEdges(pairs, aCol, bCol)
    val edges = simple.select($"a".as("src"), $"b".as("dst"))
      .union(simple.select($"b".as("src"), $"a".as("dst")))
    val deg = canonDegrees(pairs, aCol, bCol)
    val j = edges
      .join(deg.select($"node".as("src"), $"deg".as("x")), Seq("src"))
      .join(deg.select($"node".as("dst"), $"deg".as("y")), Seq("dst"))
    val s = j.agg(
      count(lit(1)).cast("long").as("m2"),
      sum($"x").cast("long").as("sx"),
      sum($"y").cast("long").as("sy"),
      sum($"x".cast(DecimalType(38, 0)) * $"x").as("sxx"),
      sum($"y".cast(DecimalType(38, 0)) * $"y").as("syy"),
      sum($"x".cast(DecimalType(38, 0)) * $"y").as("sxy"))
    val nNodes = deg.agg(count(lit(1)).cast("long").as("n_nodes"))
    val denom = sqrt(($"m2" * $"sxx".cast("double") -
      $"sx".cast("double") * $"sx") *
      ($"m2" * $"syy".cast("double") - $"sy".cast("double") * $"sy"))
    s.crossJoin(broadcast(nNodes))
      .select($"n_nodes", ($"m2" / 2L).cast("long").as("n_edges"),
        (round(($"m2" * $"sxy".cast("double") -
          $"sx".cast("double") * $"sy") /
          when(denom > 0.0, denom) * 1e6) / 1e6).as("assortativity"))
  }
}
