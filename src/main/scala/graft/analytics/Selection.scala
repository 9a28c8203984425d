package graft.analytics

import Par.Mat

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-selection operators for training-corpus curation: DSIR-style
  * importance weighting and target-mix rebalancing. Both deterministic
  * (md5 hashing, round(,6) on emitted doubles, integer counts) so DuckDB
  * oracles reproduce them bit-for-bit. (Extension surface per SURVEY.md
  * §7 step 5 — the reference's own selection stops at row filters,
  * main.py:87-95.)
  */
object Selection {

  /** DSIR importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): score every document by
    * the log-likelihood ratio of a TARGET hashed-unigram model over the
    * RAW-corpus model — the standard recipe for up-weighting data that
    * looks like a curated target slice. Features are the same
    * `md5[0:8] mod dim` buckets as [[TfIdf.hashingTf]] (vocabulary-free,
    * engine-portable); both models use add-one smoothing over `dim`
    * buckets.
    *
    * Scale shape: ONE tokenization pass feeds both the model aggregation
    * and the scoring join (Par.materialize reuse, same rule as
    * [[TextAnalysis.surprisalGate]]); the model is a `dim`-row table
    * crossed with a 1-row totals aggregate (the allowlisted
    * scalar-broadcast pattern) and broadcast back, so scoring is
    * map-side over the pre-aggregated (id, bucket) counts. Nothing in the
    * plan scales with anything but the corpus scan and one
    * (id, bucket)-keyed exchange.
    *
    * Per-bucket log-weights are rounded to 6 before the per-doc sum (the
    * internalized-model rule, as [[Similarity.centroidClassify]]) so both
    * engines sum identical terms. Documents with no tokens emit a null
    * weight (fail-closed for selection).
    */
  def dsirWeights(docs: DataFrame, idCol: String, textCol: String,
                  isTarget: Column, dim: Int = 64): DataFrame = {
    require(dim >= 1, "dim must be >= 1")
    val spark = docs.sparkSession
    import spark.implicits._
    val d = Par.ensure(docs)
    // (id, tgt, bucket) -> tf: the shared subtree (checkpointed — it feeds
    // the model aggregate AND the scoring join)
    val db = d.select(col(idCol).as("id"), isTarget.as("tgt"),
        explode(Dedup.tokens(col(textCol))).as("w"))
      .withColumn("bucket",
        (conv(substring(md5($"w"), 1, 8), 16, 10).cast("long") % dim)
          .cast("int"))
      .groupBy($"id", $"tgt", $"bucket")
      .agg(count(lit(1)).as("tf"))
      .materialized()
    val model = db.groupBy($"bucket")
      .agg(sum($"tf").as("raw_n"),
        sum(when($"tgt", $"tf").otherwise(lit(0L))).as("tgt_n"))
    val tot = model.agg(sum($"raw_n").as("raw_t"), sum($"tgt_n").as("tgt_t"))
    val logw = model.crossJoin(broadcast(tot))
      .select($"bucket",
        round(
          log(($"tgt_n" + 1).cast("double") /
            ($"tgt_t" + dim).cast("double")) -
          log(($"raw_n" + 1).cast("double") /
            ($"raw_t" + dim).cast("double")), 6).as("logw"))
    val scored = db.join(broadcast(logw), Seq("bucket"))
      .groupBy($"id")
      .agg(round(sum($"tf".cast("double") * $"logw"), 6).as("dsir_weight"))
    d.select(col(idCol).as("id"))
      .join(scored, Seq("id"), "left")
      .select($"id", $"dsir_weight")
  }

  /** The DSIR SELECTION step: keep the top `topFrac` of the corpus by
    * importance weight — threshold = the corpus `(1-topFrac)` exact
    * percentile of [[dsirWeights]], ONE row broadcast back (the
    * [[TextAnalysis.surprisalGate]] bracket), so selection is map-side
    * over the scored corpus. Docs with null weight (no tokens) fail
    * closed. Output: (id, dsir_weight, keep). */
  def dsirSelect(docs: DataFrame, idCol: String, textCol: String,
                 isTarget: Column, topFrac: Double = 0.25,
                 dim: Int = 64): DataFrame = {
    require(topFrac > 0.0 && topFrac < 1.0, "topFrac must be in (0, 1)")
    val spark = docs.sparkSession
    import spark.implicits._
    // checkpoint: weights feed the threshold aggregate AND the output
    val w = dsirWeights(docs, idCol, textCol, isTarget, dim)
      .materialized()
    val thr = w.filter($"dsir_weight".isNotNull)
      .agg(round(expr(s"percentile(dsir_weight, ${1.0 - topFrac})"), 6)
        .as("thr"))
    w.crossJoin(broadcast(thr))
      .select($"id", $"dsir_weight",
        coalesce($"dsir_weight" >= $"thr", lit(false)).as("keep"))
  }

  /** Per-group ADAPTIVE length gate: keep rows whose `lenCol` lies within
    * the group's own [lo, hi] exact percentiles — the curation rule that
    * replaces one global min/max-length cutoff with per-language (or
    * per-source) thresholds, so a CJK corpus isn't judged by English
    * character budgets. Thresholds are an exact interpolated
    * `percentile()` per group (a group-keyed partial agg whose state is a
    * value→count map bounded by DISTINCT lengths — lengths live in a
    * small integer domain, so this never scales with row count), then
    * broadcast back onto the corpus for a map-side keep flag — the
    * corpus itself is never re-shuffled.
    *
    * Output: (id, group, len, p_lo, p_hi, keep) with thresholds rounded
    * to 6 places; the keep comparison uses the ROUNDED thresholds so the
    * flag is reproducible cross-engine. */
  def lengthPercentileGate(docs: DataFrame, idCol: String, lenCol: String,
                           groupCol: String, lo: Double = 0.05,
                           hi: Double = 0.95): DataFrame = {
    require(0.0 <= lo && lo < hi && hi <= 1.0, "need 0 <= lo < hi <= 1")
    val spark = docs.sparkSession
    import spark.implicits._
    val thr = docs.groupBy(col(groupCol).as("grp"))
      .agg(round(expr(s"percentile($lenCol, $lo)"), 6).as("p_lo"),
        round(expr(s"percentile($lenCol, $hi)"), 6).as("p_hi"))
    docs.join(broadcast(thr), col(groupCol) === $"grp")
      .select(col(idCol).as("id"), col(groupCol), col(lenCol),
        $"p_lo", $"p_hi",
        (col(lenCol) >= $"p_lo" && col(lenCol) <= $"p_hi").as("keep"))
  }

  /** Rebalance a corpus toward TARGET mix proportions: given per-stratum
    * target shares (summing to ~1) and a document budget, derive keep
    * rates `rate_s = min(1, budget * share_s / n_s)` from the observed
    * stratum counts and apply [[Sampling.stratifiedSample]]'s
    * deterministic md5-threshold filter — the C4/RefinedWeb-style source
    * re-weighting step. Strata absent from `shares` get share 0 (dropped).
    *
    * Scale shape: the counts aggregate is dictionary-sized (one row per
    * stratum) and collected to the driver — the model-exchange pattern,
    * bounded by stratum cardinality, never the corpus — then the filter is
    * a plan-time literal CASE, entirely map-side. Output keeps the rate
    * column (rounded 6) for lineage.
    */
  def mixCorpus(docs: DataFrame, idCol: String, stratumCol: String,
                shares: Map[String, Double], budget: Long): DataFrame = {
    require(budget > 0, "budget must be positive")
    require(shares.values.forall(s => s >= 0.0 && s <= 1.0),
      "shares must be in [0, 1]")
    val counts = docs.groupBy(col(stratumCol).cast("string").as("s"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val rates: Map[String, Double] = counts.map { case (s, n) =>
      s -> math.min(1.0, budget * shares.getOrElse(s, 0.0) / n)
    }
    val rateCol = rates.foldLeft(when(lit(false), lit(0.0))) {
      case (acc, (s, r)) => acc.when(col(stratumCol) === s, lit(r))
    }.otherwise(lit(0.0))
    Sampling.stratifiedSample(
        docs.filter(col(stratumCol).isNotNull), idCol, stratumCol,
        rates.map { case (s, r) => s -> r })
      .withColumn("rate", round(rateCol, 6))
  }

  /** Sparse (id, y, bucket, x) features: md5-bucket tf/len token rows
    * PLUS a constant bias row (bucket = dim, x = 1) for EVERY document —
    * so each doc is present (token-free ones too) and the bias behaves
    * as just another coordinate with pinned μ = 0, s = 1, letting one
    * aggregation per GD step serve every gradient component (the bias
    * bucket's raw moment IS the residual total Σr).
    *
    * `materialize` id-repartitions and Par-materializes the table — the
    * right call when BOTH the densifier ([[denseFeatures]], the
    * training representation) and the final scoring margin read it
    * (logregQuality's miss path): one tokenization serves both. A path
    * that consumes the features exactly once (scoring on a cache hit,
    * or logregTrain where only the densifier reads them) passes false
    * and streams tokenize → window → margin in one pass with no disk
    * materialization barrier. */
  private def logregFeatures(docs: DataFrame, idCol: String,
                             textCol: String, label: Column,
                             dim: Int, materialize: Boolean = true): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val base = docs.select(col(idCol).as("id"),
        label.cast("int").as("y"),
        explode(Dedup.tokens(col(textCol))).as("w"))
      .withColumn("bucket",
        (conv(substring(md5($"w"), 1, 8), 16, 10).cast("long") % dim)
          .cast("int"))
      .groupBy($"id", $"y", $"bucket").agg(count(lit(1)).as("tf"))
      .withColumn("nt", sum($"tf").over(
        org.apache.spark.sql.expressions.Window.partitionBy($"id")))
      .select($"id", $"y", $"bucket",
        ($"tf".cast("double") / $"nt".cast("double")).as("x"))
      .unionByName(docs.select(col(idCol).as("id"),
        label.cast("int").as("y"), lit(dim).cast("int").as("bucket"),
        lit(1.0).as("x")))
    if (materialize) base.repartition($"id").materialized() else base
  }

  /** The DENSIFIED training representation: one `(y, xs)` record per
    * document as a persisted RDD — `xs` a fixed `dim + 1`-slot double
    * array (absent buckets hold exact 0.0, the bias slot 1.0 — the
    * dense semantics the standardization stats are defined over; `y`
    * is NaN for a null label, trained as an inert row exactly like the
    * old SQL shape, where a null residual dropped out of every sum).
    *
    * An RDD, not a DataFrame, deliberately — the one place in the repo
    * where imperative per-partition logic beats the declarative plan:
    * 30 GD iterations each re-scan this with one treeAggregate (the
    * canonical MLlib full-batch gradient shape), while a DataFrame
    * iteration re-pays Catalyst analysis + whole-stage codegen of a
    * 65-buffer aggregate EVERY step because the plan changes with the
    * weights (measured 0.43 s/step on a 5000-row table vs 0.036 s/step
    * for the RDD — fixed model-sized overhead, not data). At 100 TB
    * the iteration cost is exactly one corpus scan + model-sized tree
    * reduce per step, same as MLlib's own LogisticRegression. */
  private def denseFeatures(feats: DataFrame, dim: Int)
      : org.apache.spark.rdd.RDD[(Double, Array[Double])] = {
    val dense = feats.rdd
      .map(r => ((r.get(0), r.get(1)), (r.getInt(2), r.getDouble(3))))
      // (id, y, bucket) is unique post-agg, so slots never collide:
      // seqOp writes disjoint slots, combOp merges disjoint-slot arrays
      .aggregateByKey(new Array[Double](dim + 1))(
        { (acc, bx) => acc(bx._1) += bx._2; acc },
        { (a, b) =>
          var i = 0; while (i <= dim) { a(i) += b(i); i += 1 }; a })
      .map { case ((_, y), xs) =>
        (if (y == null) Double.NaN
         else y.asInstanceOf[java.lang.Integer].doubleValue(), xs)
      }
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    dense
  }

  /** Round-6-pinned per-bucket standardization stats over the DENSE
    * semantics (absent buckets count as 0): μ_b = round(Σx/n, 6),
    * s_b = round(sqrt(max(Σx²/n − μ_b², 0)), 6), with zero-variance
    * buckets pinned to s = 1 (their centered value is 0 everywhere, so
    * the coordinate is inert either way). The bias coordinate at index
    * dim is pinned μ = 0, s = 1. One treeAggregate over the densified
    * RDD (2·dim raw moments, model-sized result); per-bucket sum order
    * differs from the old sparse groupBy but the round-6 pin absorbs
    * ulp reordering — the same tolerance the DuckDB oracle already
    * rides. */
  private def logregStats(dense: org.apache.spark.rdd.RDD[(Double, Array[Double])],
                          n: Double,
                          dim: Int): (Array[Double], Array[Double]) = {
    val row = dense.treeAggregate(new Array[Double](2 * dim))(
      { (a, rec) =>
        var b = 0
        while (b < dim) {
          a(2 * b) += rec._2(b)
          a(2 * b + 1) += rec._2(b) * rec._2(b)
          b += 1
        }
        a
      },
      { (a, b) =>
        var i = 0; while (i < 2 * dim) { a(i) += b(i); i += 1 }; a })
    val mu = Array.tabulate(dim + 1)(b =>
      if (b == dim) 0.0 else half6(row(2 * b) / n))
    val s = Array.tabulate(dim + 1) { b =>
      val sv =
        if (b == dim) 1.0
        else half6(math.sqrt(math.max(
          row(2 * b + 1) / n - mu(b) * mu(b), 0.0)))
      if (sv == 0.0) 1.0 else sv
    }
    (mu, s)
  }

  /** Margins `(id, y, mg)` for every document under weights `w` and
    * stats (μ, s), all dim+1 coordinates uniform: the sparse
    * decomposition `Σ_present (w_b/s_b) x_b − Σ_b w_b μ_b/s_b`; the
    * bias row (x = 1, μ = 0, s = 1) contributes exactly `w_bias`, and
    * guarantees every doc has a group. */
  private def logregMargins(feats: DataFrame, w: Seq[Double],
                            mu: Array[Double], s: Array[Double],
                            dim: Int): DataFrame = {
    val wEff = array((0 to dim).map(b => lit(w(b) / s(b))): _*)
    val c = (0 to dim).map(b => w(b) * mu(b) / s(b)).sum
    feats.groupBy(col("id"), col("y"))
      .agg(sum(element_at(wEff, col("bucket") + 1) * col("x")).as("sx"))
      .select(col("id"), col("y"), (col("sx") - lit(c)).as("mg"))
  }

  private def half6(v: Double): Double =
    BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Session memo of TRAINED logreg models (Memo.scala). Training is
    * fully deterministic (zero init, fixed iters, round-6 gradient
    * exchange), so a hit returns bit-identical weights to a retrain —
    * consumers stay independently verifiable while a session that
    * scores one model several ways (AUC, AP, calibration,
    * artifact-score: seven catalog queries share two trainings) pays
    * the 30-iteration recurrence once. Keyed on the training
    * PROJECTION `docs.select(id, text, label)`: folding the RESOLVED
    * label expression into the keyed plan compares it structurally,
    * types included (an int vs long literal in the predicate prints
    * identically but must not collide). Model arrays are ~1.5 KB; the
    * default 64 entries bound a long-lived serving session. */
  private[graft] val logregModels = new ValueMemo[Array[Double]]("logreg_models")

  private def memoModel(docs: DataFrame, idCol: String, textCol: String,
                        label: Column, dim: Int, iters: Int, lr: Double)
                       (fit: => Array[Double]): Array[Double] =
    logregModels.getOrCompute(
      Seq(docs.select(col(idCol), col(textCol), label.as("_graft_label"))),
      s"dim=$dim,iters=$iters,lr=$lr")(fit)

  private def logregFit(feats: DataFrame, n: Double, dim: Int,
                        iters: Int, lr: Double): Array[Double] = {
    require(dim >= 1 && iters >= 1, "dim and iters must be >= 1")
    require(lr > 0.0, "lr must be positive")
    // densify ONCE; every iteration below is one treeAggregate over
    // the persisted dense RDD (the old shape re-derived per-doc
    // margins with a groupBy + sort-merge join against the sparse
    // table EVERY iteration — 2 scans, a sort, 2 exchanges, and fresh
    // Catalyst planning per step; measured 21.7 s for the 2-model
    // bench build vs ~8 s on this shape)
    val dense = denseFeatures(feats, dim)
    val sc = feats.sparkSession.sparkContext
    val (mu, s) = logregStats(dense, n, dim)
    var w = Array.fill(dim + 1)(0.0)
    for (_ <- 1 to iters) {
      // ONE job per step: the margin is a fixed index-ordered fold
      // Σ_b (w_b/s_b)·xs_b (absent slots add exact 0.0 — same value
      // as the sparse sum, reordered by ulps the round-6 gradient pin
      // absorbs), the residual feeds dim+1 raw moments Σ r·x_b in the
      // same fold — the bias slot's moment IS the residual total Σr,
      // so the standardized gradient (Σrx − μΣr)/(s·n) assembles
      // driver-side, round-6 pinned (HALF_UP = the engines' shared
      // half-away-from-zero round). NaN-labeled rows are inert, as
      // their null residual made them in the SQL shape.
      val bc = sc.broadcast(
        (Array.tabulate(dim + 1)(b => w(b) / s(b)),
          (0 to dim).map(b => w(b) * mu(b) / s(b)).sum))
      val rx = dense.treeAggregate(new Array[Double](dim + 1))(
        { (a, rec) =>
          if (!rec._1.isNaN) {
            val (wEff, c) = bc.value
            var mg = 0.0
            var b = 0
            while (b <= dim) { mg += wEff(b) * rec._2(b); b += 1 }
            val r = 1.0 / (1.0 + math.exp(-(mg - c))) - rec._1
            b = 0
            while (b <= dim) { a(b) += r * rec._2(b); b += 1 }
          }
          a
        },
        { (a, b) =>
          var i = 0; while (i <= dim) { a(i) += b(i); i += 1 }; a })
      bc.destroy()
      val t = rx(dim)
      val g = Array.tabulate(dim + 1)(b =>
        half6((rx(b) - mu(b) * t) / (s(b) * n)))
      w = w.zipWithIndex.map { case (wb, b) => wb - lr * g(b) }
    }
    dense.unpersist(blocking = false)
    w ++ mu.take(dim) ++ s.take(dim) // packed; callers slice
  }

  /** Train the [[logregQuality]] model and return it as a persistable
    * artifact: `(b, wt, mu, s)` rows for b in 0..dim (the bias row
    * carries mu = 0, s = 1) — parquet-writable; the standardization
    * stats travel WITH the weights so a mismatched probe cannot happen. Train once, [[logregScore]] many: at 100 TB
    * nobody retrains the quality filter per scoring batch. */
  def logregTrain(docs0: DataFrame, idCol: String, textCol: String,
                  label: Column, dim: Int = 64, iters: Int = 30,
                  lr: Double = 0.5): DataFrame = {
    val spark = docs0.sparkSession
    import spark.implicits._
    val packed = memoModel(docs0, idCol, textCol, label, dim, iters, lr) {
      val docs = Par.ensure(docs0)
      // train-only path: the sparse features feed ONLY the densifier,
      // which materializes its own (smaller) table — stream them
      val feats = logregFeatures(docs, idCol, textCol, label, dim,
        materialize = false)
      logregFit(feats, docs.count().toDouble, dim, iters, lr)
    }
    val (w, mu, s) = (packed.take(dim + 1), packed.slice(dim + 1, 2 * dim + 1),
      packed.drop(2 * dim + 1))
    (0 to dim).map(b => (b, w(b),
        if (b == dim) 0.0 else mu(b), if (b == dim) 1.0 else s(b)))
      .toDF("b", "wt", "mu", "s")
  }

  /** Score documents under a trained `(b, wt, mu, s)` model from
    * [[logregTrain]] — the probe half of the split. The model is
    * `dim + 1` rows however large the training corpus was, so it
    * collects to literals and scoring is one sparse margin aggregation
    * over the scored corpus (whose features are standardized by the
    * TRAINING stats — the artifact's whole point). `label` is carried
    * through for eval; pass any constant if unlabeled.
    * Output: (id, y, score, keep). */
  def logregScore(model: DataFrame, docs0: DataFrame, idCol: String,
                  textCol: String, label: Column,
                  dim: Int = 64): DataFrame = {
    val docs = Par.ensure(docs0)
    val rows = model.select(col("b").cast("int"), col("wt").cast("double"),
        col("mu").cast("double"), col("s").cast("double"))
      .collect()
      .map(r => r.getInt(0) -> (r.getDouble(1), r.getDouble(2),
        r.getDouble(3))).toMap
    require(rows.size == dim + 1,
      s"model must have dim+1 = ${dim + 1} rows, got ${rows.size}")
    val w = (0 to dim).map(rows(_)._1)
    val mu = Array.tabulate(dim + 1)(b =>
      if (b == dim) 0.0 else rows(b)._2)
    val s = Array.tabulate(dim + 1) { b =>
      val sv = if (b == dim) 1.0 else rows(b)._3
      if (sv == 0.0) 1.0 else sv
    }
    val feats = logregFeatures(docs, idCol, textCol, label, dim,
      materialize = false) // consumed once: stream, don't checkpoint
    logregMargins(feats, w, mu, s, dim)
      .select(col("id"), col("y"),
        round(lit(1.0) / (lit(1.0) + exp(-col("mg"))), 6).as("score"))
      .withColumn("keep", col("score") >= 0.5)
  }

  /** fastText/DCLM-style quality classifier: full-batch logistic
    * regression over STANDARDIZED hashed-unigram features, trained ON
    * the corpus against a caller-supplied binary `label` (e.g. "looks
    * like the curated slice") and then scoring every document — the
    * modern learned data-selection filter (DCLM's fastText gate, GPT-3's
    * LR-over-features quality filter; one model order up from
    * [[dsirWeights]]'s likelihood ratio). Train-and-score in one call
    * (the q141 gate shape), sharing one checkpointed feature table
    * across both phases (composing [[logregTrain]] + [[logregScore]]
    * would tokenize the corpus twice).
    *
    * Raw features are the [[TfIdf.hashingTf]] `md5[0:8] mod dim` buckets
    * with doc-length-normalized tf (`x = tf / n_tokens`); training runs
    * on the z-scored coordinates `x' = (x − μ_b) / s_b` plus an
    * intercept. Standardization is what makes full-batch GD actually
    * converge here: raw tf/len coordinates are all positively correlated
    * with the document-mass direction, whose Hessian eigenvalue dwarfs
    * the discriminative ones — unscaled GD either crawls (small lr) or
    * oscillates into saturation (large lr). Centering removes that
    * shared direction and unit variance equalizes the rest, so lr ~ 0.5
    * with a few dozen iterations separates.
    *
    * THE SPARSE TRICK — standardizing never densifies: a doc missing
    * bucket `b` has centered value `−μ_b/s_b`, but the margin
    * decomposes as
    * `w·x' = Σ_present (w_b/s_b)·x_b − Σ_all_b w_b μ_b/s_b + w_bias`,
    * where the second term is one model-level scalar; gradients
    * decompose the same way via the residual total Σ r. Feature rows
    * stay (id, bucket, x) sparse, at 100 TB as at test scale.
    *
    * Everything an oracle needs is pinned: fixed iteration count, zero
    * init, round-6 (μ, s) stats, and the ROUND-6 GRADIENT exchange —
    * the [[Cluster]] centroid-exchange fixed-point — so both engines
    * step through bit-identical models even though their sum orders
    * differ (half-away-from-zero rounding on both sides).
    *
    * Scale shape — canonical distributed full-batch GD: the sparse
    * feature table is built ONCE (one tokenization, one (id, bucket)
    * partial-agg exchange, doc length via an id-partitioned window),
    * repartitioned by id and checkpointed; each iteration is one margin
    * aggregation, one residual total, and one id-keyed join + bucket
    * aggregation over that materialized table, ending in a
    * (dim+1)-row round-6 collect (the model-sized exchange, independent
    * of corpus size).
    *
    * Output: (id, y, score σ(w·x') rounded 6, keep = score ≥ 0.5).
    * Token-free docs score through the centered-absent terms + bias. */
  def logregQuality(docs0: DataFrame, idCol: String, textCol: String,
                    label: Column, dim: Int = 64, iters: Int = 30,
                    lr: Double = 0.5): DataFrame = {
    val docs = Par.ensure(docs0)
    // miss: the densifier and the final scoring margin both read the
    // feature table, so one tokenization (materialized) serves both;
    // hit: it is consumed ONCE (scoring) — stream it instead
    var trainFeats: Option[DataFrame] = None
    val packed = memoModel(docs0, idCol, textCol, label, dim, iters, lr) {
      val f = logregFeatures(docs, idCol, textCol, label, dim,
        materialize = true)
      trainFeats = Some(f)
      logregFit(f, docs.count().toDouble, dim, iters, lr)
    }
    val feats = trainFeats.getOrElse(logregFeatures(docs, idCol, textCol,
      label, dim, materialize = false))
    val w = packed.take(dim + 1)
    val mu = packed.slice(dim + 1, 2 * dim + 1) :+ 0.0
    val s = packed.drop(2 * dim + 1) :+ 1.0
    logregMargins(feats, w.toSeq, mu, s, dim)
      .select(col("id"), col("y"),
        round(lit(1.0) / (lit(1.0) + exp(-col("mg"))), 6).as("score"))
      .withColumn("keep", col("score") >= 0.5)
  }

  /** Weight-of-evidence buckets + information value for one scalar
    * feature against a binary label — the credit-scoring-style
    * predictiveness audit a feature earns BEFORE a model trains on it:
    * `WOE_b = ln((pos_b/pos)/(neg_b/neg))`, IV = sum of
    * (pos-share - neg-share)*WOE (rule of thumb: IV < 0.02 useless,
    * > 0.3 strong). Laplace-smoothed (+0.5 per cell) so empty cells
    * stay finite, in BOTH shares consistently.
    *
    * Buckets are VALUE-derived fixed-width integer bins —
    * floor(round(x*scale)/width) via an offset trick that keeps the
    * integer division non-negative (Spark DIV truncates toward zero,
    * engines disagree below 0) — so no global quantile pass and no
    * data-dependent bracket; |x|*scale must stay under the 10^6
    * offset. One keyed agg to cells (dictionary-sized), totals as a
    * broadcast ONE-ROW aggregate. Output: (bucket, n, n_pos, n_neg,
    * woe, iv_contrib). */
  def woeBuckets(df: DataFrame, xCol: Column, labelCol: Column,
                 scale: Long = 1000L, width: Long = 200L): DataFrame = {
    require(scale >= 1L && width >= 1L, "need scale >= 1 and width >= 1")
    val spark = df.sparkSession
    import spark.implicits._
    import Par.safeDiv
    val off = 1000000L
    val raw = round(xCol * scale).cast("long") + off
    val b = ((raw - raw % width) / width).cast("long") - off / width
    val cells = Par.ensure(df)
      .select(b.as("bucket"),
        when(labelCol.cast("long") =!= 0L, 1L).otherwise(0L).as("y"))
      .groupBy($"bucket")
      .agg(count(lit(1)).cast("long").as("n"),
        sum($"y").cast("long").as("n_pos"))
      .withColumn("n_neg", $"n" - $"n_pos")
    val tot = cells.agg(sum($"n_pos").cast("long").as("pos_tot"),
      sum($"n_neg").cast("long").as("neg_tot"))
    val ps = safeDiv($"n_pos".cast("double") + 0.5,
      $"pos_tot".cast("double"))
    val ns = safeDiv($"n_neg".cast("double") + 0.5,
      $"neg_tot".cast("double"))
    val woe = log(ps / ns)
    cells.join(broadcast(tot), lit(true))
      .select($"bucket", $"n", $"n_pos", $"n_neg",
        (round(woe * 1e6) / 1e6).as("woe"),
        (round((ps - ns) * woe * 1e6) / 1e6).as("iv_contrib"))
  }

  /** Decile lift/gains table for a scalar score against a binary
    * label: rows rank by score (descending — decile 0 is the model's
    * top slice), and each decile reports its positive rate, its lift
    * over the base rate, and the cumulative share of ALL positives
    * captured so far — the campaign-targeting readout ("mail decile 0
    * and reach 30% of converters with 10% of the volume"). Decile
    * assignment is TIE-INVARIANT: scores quantize to integers, all
    * rows of one distinct value share the same cumulative-count-before
    * and so the same decile (the q215 distinct-value-compression
    * rule), and the cut uses integer cross-multiplication — no float
    * boundary, no row-rank window over raw volume.
    *
    * Shape: one value-keyed agg, windows over the DISTINCT-value
    * table, a <= `buckets`-row rollup. Output: (decile, n, n_pos,
    * pos_rate, lift, cum_capture). */
  def decileLift(df: DataFrame, xCol: Column, labelCol: Column,
                 buckets: Int = 10, scale: Long = 1000L): DataFrame = {
    require(buckets >= 2 && scale >= 1L, "need buckets >= 2, scale >= 1")
    val spark = df.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    import Par.safeDiv
    val v = Par.ensure(df)
      .select(round(xCol * scale).cast("long").as("q"),
        when(labelCol.cast("long") =!= 0L, 1L).otherwise(0L).as("y"))
      .filter($"q".isNotNull)
    val dv = v.groupBy($"q").agg(count(lit(1)).cast("long").as("n"),
      sum($"y").cast("long").as("np"))
    val ord = Window.orderBy($"q".desc)
    val scored = dv.select($"q", $"n", $"np",
      coalesce(sum($"n").over(
        ord.rowsBetween(Window.unboundedPreceding, -1)), lit(0L))
        .as("cb"),
      sum($"n").over(Window.partitionBy()).cast("long").as("tot"))
    val d = scored
      .withColumn("decile",
        (($"cb" * buckets - ($"cb" * buckets) % $"tot") / $"tot")
          .cast("long"))
      .groupBy($"decile")
      .agg(sum($"n").cast("long").as("n"),
        sum($"np").cast("long").as("n_pos"))
    val ordD = Window.orderBy($"decile")
    val posAll = sum($"n_pos").over(Window.partitionBy()).cast("double")
    val nAll = sum($"n").over(Window.partitionBy()).cast("double")
    val rate = safeDiv($"n_pos".cast("double"), $"n".cast("double"))
    val base = posAll / when(nAll > 0.0, nAll)
    val cumPos = sum($"n_pos")
      .over(ordD.rowsBetween(Window.unboundedPreceding, 0)).cast("double")
    d.select($"decile", $"n", $"n_pos",
      (round(rate * 1e6) / 1e6).as("pos_rate"),
      (round(rate / when(base > 0.0, base) * 1e6) / 1e6).as("lift"),
      (round(cumPos / when(posAll > 0.0, posAll) * 1e6) / 1e6)
        .as("cum_capture"))
  }

  /** Smoothed target (mean) encoding of a categorical feature against a
    * binary label — the m-estimate / empirical-Bayes shrinkage form
    * `enc = (n_pos + m * prior) / (n + m)`: a category seen twice
    * reports nearly the global prior (no memorized noise), a category
    * seen 10^5 times reports its own rate — the high-cardinality
    * encoder that replaces one-hot when the vocabulary would explode
    * the feature space (store ids, brands, domains). The output table
    * IS the model artifact: a serving join applies it.
    *
    * Shape: one category-keyed agg absorbs raw volume map-side
    * (materialized — the prior totals and the final projection both
    * read it, so the raw pass runs once), the
    * (pos_tot, n_tot) prior rides a broadcast 1-row cross — never a
    * per-row pass with the label visible (the leakage door target
    * encoding is infamous for; the artifact form fits-once like q146).
    * Both engines derive enc from identical integers through one
    * identical tree. Output: (category, n, n_pos, raw_rate, prior,
    * enc), rates rounded 6; categories ordered by the caller. */
  /** Isotonic calibration (PAV) of a binary-outcome rate against an
    * ordered score, via the MINIMAX identity: the pool-adjacent-
    * violators fit at bucket i equals `max over j <= i of (min over
    * k >= i of avg(j..k))` — the closed form that turns the textbook
    * sequential stack algorithm into two windows over the bucket-pair
    * grid, exactly replayable in SQL (the Holt-style fold this op does
    * NOT need). The output mapping (score -> fitted monotone rate) is
    * the calibration artifact a serving layer applies on top of q142's
    * diagnostic bins when the raw reliability curve is non-monotone.
    *
    * Scale shape: ONE keyed agg absorbs raw volume into per-DISTINCT-
    * score buckets (B = score grid, bounded by `scale`); cumulative
    * sums, the B(B+1)/2 window-average pairs, and the two min/max
    * windows all run over that grid — B² pairs at B ≤ ~10^3 is a
    * dictionary-sized shuffle, never row volume. Window averages are
    * ratios of exact integer cumsums, so both engines compare
    * identical doubles; only the final fitted rate rounds (6).
    * Output: (score, n, n_pos, raw_rate, fitted_rate) ascending by
    * score, fitted non-decreasing by construction. */
  def isotonicCalibration(df: DataFrame, scoreCol: Column,
                          labelCol: Column,
                          scale: Long = 1000L): DataFrame = {
    require(scale >= 1L, "need scale >= 1")
    val spark = df.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    import graft.analytics.Par.Mat
    // the bucket grid feeds the cumulative (read twice, as the j and k
    // pair sides) AND the final join — materialize it so raw volume
    // (here: the upstream scoring plan) is computed exactly once
    val b = Par.ensure(df)
      .filter(scoreCol.isNotNull)
      .select(round(scoreCol * scale).cast("long").as("s"),
        when(labelCol.cast("long") =!= 0L, 1L).otherwise(0L).as("y"))
      .groupBy($"s")
      .agg(count(lit(1)).cast("long").as("n"),
        sum($"y").cast("long").as("np"))
      .materialized()
    val wc = Window.orderBy($"s")
      .rowsBetween(Window.unboundedPreceding, 0)
    val cum = b.select($"s", $"n", $"np",
      sum($"n").over(wc).as("cn"), sum($"np").over(wc).as("cp"))
    // every (j, k) bucket window, j <= k, keyed by the buckets' scores;
    // avg = (cp_k - cp_{j-1}) / (cn_k - cn_{j-1}) from exact cumsums
    val a = cum.select($"s".as("sj"), ($"cn" - $"n").as("cnj"),
      ($"cp" - $"np").as("cpj"))
    val bk = cum.select($"s".as("sk"), $"cn".as("cnk"), $"cp".as("cpk"))
    val pairs = a.join(bk, $"sj" <= $"sk")
      .select($"sj", $"sk",
        (($"cpk" - $"cpj").cast("double") /
          ($"cnk" - $"cnj").cast("double")).as("wavg"))
    // minTail(j, i) = min over k >= i of avg(j, k); then
    // fitted(i) = max over j <= i of minTail(j, i)
    val wTail = Window.partitionBy($"sj").orderBy($"sk")
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val fitted = pairs
      .withColumn("mt", min($"wavg").over(wTail))
      .groupBy($"sk".as("s"))
      .agg(max($"mt").as("fit"))
    b.join(fitted, Seq("s"))
      .select(($"s".cast("double") / scale).as("score"), $"n",
        $"np".as("n_pos"),
        (round($"np".cast("double") / $"n".cast("double") * 1e6) / 1e6)
          .as("raw_rate"),
        (round($"fit" * 1e6) / 1e6).as("fitted_rate"))
  }

  def targetEncode(df: DataFrame, catCol: Column, labelCol: Column,
                   m: Double = 20.0): DataFrame = {
    require(m > 0.0, "need smoothing m > 0")
    val spark = df.sparkSession
    import spark.implicits._
    import graft.analytics.Par.Mat
    // the category dictionary feeds the prior totals AND the final
    // projection — materialize it so the raw pass (often a fact-dim
    // JOIN upstream, as in the q261 gate) runs exactly once
    val cells = Par.ensure(df)
      .filter(catCol.isNotNull)
      .select(catCol.cast("string").as("category"),
        when(labelCol.cast("long") =!= 0L, 1L).otherwise(0L).as("y"))
      .groupBy($"category")
      .agg(count(lit(1)).cast("long").as("n"),
        sum($"y").cast("long").as("n_pos"))
      .materialized()
    val tot = cells.agg(sum($"n").cast("long").as("n_tot"),
      sum($"n_pos").cast("long").as("pos_tot"))
    val prior = $"pos_tot".cast("double") /
      when($"n_tot" > 0L, $"n_tot".cast("double"))
    cells.crossJoin(broadcast(tot))
      .select($"category", $"n", $"n_pos",
        (round($"n_pos".cast("double") / $"n".cast("double") * 1e6)
          / 1e6).as("raw_rate"),
        (round(prior * 1e6) / 1e6).as("prior"),
        (round(($"n_pos".cast("double") + lit(m) * prior) /
          ($"n".cast("double") + m) * 1e6) / 1e6).as("enc"))
  }
}
