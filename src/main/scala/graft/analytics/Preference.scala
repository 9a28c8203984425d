package graft.analytics

import Par.Mat

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructField}
import org.apache.spark.storage.StorageLevel

/** Pairwise-preference aggregation — the RLHF / eval-pipeline shape:
  * a feed of (winner, loser) comparisons (human preferences, A/B
  * judgments, model-vs-model matches) folds into one strength score
  * per item, so "which responses do raters prefer" becomes a ranking
  * with a principled model behind it rather than a raw win-rate (which
  * ignores WHO you beat).
  */
object Preference {

  /** Bradley-Terry strength scores via `iters` rounds of Hunter's MM
    * update (Hunter 2004): with `n_ij` the number of comparisons
    * between i and j and `W_i` i's total wins,
    * `theta'_i = W_i / sum_j n_ij / (theta_i + theta_j)`, normalized
    * to geometric mean 1 each round. Regularization: every node gets
    * ONE virtual win and ONE virtual loss against a phantom opponent
    * of fixed strength 1 (numerator `W_i + 1`, denominator gains
    * `2 / (theta_i + 1)`) — zero-win nodes stay finite and the
    * phantom's pull vanishes as real comparisons accumulate, the
    * standard shrinkage.
    *
    * Scale shape: the match table `(i, j, n_ij)` is symmetrized,
    * persisted, and ITEMS²-bounded — so the rounds are size-gated (the
    * `bt` gate, [[Par.gate]]; its default keeps the one collect tens
    * of MB even with string ids). At or below the gate the whole MM
    * recurrence runs driver-side over one collect. Above the
    * gate, each round is two node-keyed joins of the theta table
    * against the match table + one aggregate + a geometric-mean
    * normalize — the pageRank round shape. The round's RAW scores are
    * lazily materialized (plan truncates to a leaf; the normalizer
    * aggregate is the one action that populates them) and the
    * normalizer collects as ONE driver scalar (pageRank's N
    * precedent): normalizing through a broadcast subtree instead made
    * every round's materialization evaluate the join+aggregate
    * pipeline TWICE — a measured ~25% of q199's round cost. Both
    * branches fold identical arithmetic; sum order differs by ulps
    * the final round-6 absorbs (spec-pinned equality with the gate
    * forced to 0).
    * Self-comparisons are dropped. Deterministic to the rounded places:
    * float addition order perturbs ulps the final round-6 absorbs.
    *
    * Output: (node, n_games, wins, score) — score rounded 6 via the
    * scaled-integer pattern, geometric mean ~1, higher = stronger. */
  def bradleyTerry(comparisons: DataFrame, winnerCol: String,
                   loserCol: String, iters: Int = 10): DataFrame = {
    require(iters >= 1, "need iters >= 1")
    val spark = comparisons.sparkSession
    import spark.implicits._
    val games = comparisons
      .select(col(winnerCol).as("w"), col(loserCol).as("l"))
      .filter($"w" =!= $"l")
    val m = games.select($"w".as("i"), $"l".as("j"))
      .union(games.select($"l".as("i"), $"w".as("j")))
      .groupBy($"i", $"j").agg(count(lit(1)).cast("long").as("nij"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val winCounts = games.groupBy($"w".as("node"))
      .agg(count(lit(1)).cast("long").as("wins"))
    val base0 = m.groupBy($"i".as("node"))
      .agg(sum($"nij").cast("long").as("n_games"))
      .join(winCounts, Seq("node"), "left")
      .select($"node", $"n_games", coalesce($"wins", lit(0L)).as("wins"))
    // ---- local branch (Par.gate "bt") ----
    // m is ITEMS²-bounded, not comparison-volume-bounded — usually
    // model-count- or candidate-pair-sized. Sum order differs from the
    // distributed rounds by ulps the final round-6 absorbs
    // (AnalyticsSpec pins branch equality). The count also populates
    // m's cache for either branch.
    if (Par.gate(spark, "bt", m.count())) {
      val baseRows = base0.collect()
      val n = baseRows.length
      val idx = scala.collection.mutable.HashMap[Any, Int]()
      baseRows.zipWithIndex.foreach { case (r, k) => idx(r.get(0)) = k }
      val wins = Array.tabulate(n)(k => baseRows(k).getLong(2).toDouble)
      val pairs = m.collect()
        .map(r => (idx(r.get(0)), idx(r.get(1)), r.getLong(2).toDouble))
      val thArr = Array.fill(n)(1.0)
      for (_ <- 1 to iters) {
        val dsum = new Array[Double](n)
        pairs.foreach { case (i, j, nij) =>
          dsum(i) += nij / (thArr(i) + thArr(j))
        }
        var logSum = 0.0
        val score = Array.tabulate(n) { k =>
          val s = (wins(k) + 1.0) / (dsum(k) + 2.0 / (thArr(k) + 1.0))
          logSum += math.log(s)
          s
        }
        val g = math.exp(logSum / n)
        var k = 0
        while (k < n) { thArr(k) = score(k) / g; k += 1 }
      }
      val rows = baseRows.zipWithIndex.map { case (r, k) =>
        org.apache.spark.sql.Row(r.get(0), r.getLong(1), r.getLong(2),
          math.round(thArr(k) * 1e6) / 1e6)
      }
      val out = Par.localFrame(spark,
        base0.schema.fields.toSeq :+ StructField("score", DoubleType),
        rows.toSeq)
      m.unpersist()
      return out
    }
    val base = base0.materialized()
    var th = base.select($"node", lit(1.0).as("th"))
    for (_ <- 1 to iters) {
      val d = m
        .join(th.select($"node".as("i"), $"th".as("ti")), Seq("i"))
        .join(th.select($"node".as("j"), $"th".as("tj")), Seq("j"))
        .groupBy($"i".as("node"), $"ti")
        .agg(sum($"nij".cast("double") / ($"ti" + $"tj")).as("dsum"))
      // LAZY materialization: the plan truncates to a leaf here, and
      // the normalizer aggregate right below is the ONE action that
      // computes and caches the round (it touches every partition) —
      // the eager form paid a second driver action per round just to
      // populate, and the round floor IS the action count (r13
      // addendum 2: 75% of q199 was 10 rounds x the scheduling floor)
      val raw = base.join(d, Seq("node"))
        .select($"node", (($"wins" + 1).cast("double") /
          ($"dsum" + lit(2.0) / ($"ti" + lit(1.0)))).as("score"))
        .lazyMaterialized()
      // the normalizer is ONE scalar over the round's blocks; same
      // double either as a literal or a broadcast column, but the
      // broadcast form re-evaluated the whole round pipeline a second
      // time inside the materialization
      val gRow = raw.agg(exp(avg(log($"score"))).as("g")).head()
      val g = if (gRow.isNullAt(0)) 1.0 else gRow.getDouble(0)
      th = raw.select($"node", ($"score" / lit(g)).as("th"))
    }
    val projected = base.join(th, Seq("node"))
      .select($"node", $"n_games", $"wins",
        (round($"th" * 1e6) / 1e6).as("score"))
    val out = projected.materialized()
    m.unpersist()
    out
  }
}
