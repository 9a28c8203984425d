package graft.analytics

import Par.Mat

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed second-moment statistics over an embedding column
  * (`Array[Float]`): covariance matrix + top-principal-component
  * projection. The training-data uses: embedding whitening / drift checks
  * (compare covariances across corpus snapshots) and 1-D PCA ordering for
  * curriculum or diversity sampling.
  *
  * Scale shape (the part that must survive 100 TB): all moments come from
  * ONE narrow pass over the corpus — each row generates its d(d+1)/2
  * upper-triangle outer-product terms plus d marginal-sum sentinel terms
  * inside the scan stage, and the only exchange carries the
  * partial-aggregated d(d+1)/2 + d groups per partition (a few KB for
  * d=64), never row data. No self-join of exploded values, no second scan
  * for the means, no driver collect of anything unbounded — the d×d model
  * collect in [[pcaProject]] is the bounded model-exchange pattern
  * [[Cluster]] already uses.
  *
  * Two contracts shared by every conditional-fold drift operator here
  * (psiDrift, jsDrift, ksDrift, cohensKappa, chiSquareCells,
  * mutualInformation, concentrationProfile, …):
  *
  *  - EAGER EXECUTION: these operators `Par.materialize` their
  *    dictionary-sized grid because 2+ consumers read it, so CALLING
  *    one runs a Spark job immediately (and pins checkpoint blocks
  *    until the returned frame is GC'd or the session's blocks are
  *    dropped) — they return data-backed frames, not inspectable lazy
  *    plans, and predicate pushdown into the raw scan stops at the
  *    materialized grid. Callers that only want the plan shape should
  *    inspect the un-materialized building blocks instead.
  *  - DETERMINISTIC SLICE PREDICATES: `refPred`/`curPred` are
  *    evaluated once in the row filter and again inside the
  *    conditional-count projections; a NON-deterministic predicate
  *    (e.g. rand()-based sampling) could pass the filter yet count 0
  *    in both projections, inflating the group set with phantom 0/0
  *    rows. Pass deterministic predicates only (every catalog gate
  *    does); sample into a column FIRST if randomness is needed.
  */
object Stats {

  /** Per-row aggregation terms as one array of (i, j, v) structs:
    * `(i, j, xi*xj)` for every upper-triangle pair i <= j, plus a
    * `(i, -1, xi)` sentinel per dimension carrying the marginal sum — so
    * means and cross-moments ride the SAME single aggregation (one scan,
    * not two). HOF-composed; a native codegen kernel is the upgrade path
    * if the per-row d²/2 interpreted `element_at` calls ever dominate a
    * profile (PqKernels precedent). */
  private def termArray(v: Column, dim: Int): Column = {
    val idx = sequence(lit(0), lit(dim - 1))
    val outer = flatten(transform(idx, i =>
      transform(sequence(i, lit(dim - 1)), j =>
        struct(i.cast("int").as("i"), j.cast("int").as("j"),
          (element_at(v, i + 1) * element_at(v, j + 1)).as("v")))))
    val marg = transform(idx, i =>
      struct(i.cast("int").as("i"), lit(-1).cast("int").as("j"),
        element_at(v, i + 1).as("v")))
    concat(outer, marg)
  }

  /** The single-pass moment table: `(i, j, s, cnt)` — `s = Σ x_i·x_j` for
    * j >= i, and the `j = -1` sentinel rows carry `s = Σ x_i` with
    * `cnt = n`. d(d+1)/2 + d rows total. */
  private def moments(v: DataFrame, dim: Int): DataFrame = {
    import v.sparkSession.implicits._
    v.select(explode(termArray($"v", dim)).as("t"))
      .groupBy($"t.i".as("i"), $"t.j".as("j"))
      .agg(sum($"t.v").as("s"), count(lit(1)).as("cnt"))
  }

  /** Population covariance matrix of the embedding column, upper triangle
    * only: rows `(i, j, cov)` with `0 <= i <= j < dim`,
    * `cov = E[x_i·x_j] − E[x_i]·E[x_j]` rounded to 6 decimals (the
    * catalog's cross-engine float contract). Rows whose length differs
    * from the majority dimension are dropped, like every other vector op
    * here ([[Pq.vectors]]).
    *
    * One pass through the native [[graft.functions.CovMoments]]
    * aggregate — a single primitive loop per vector instead of the
    * composed form's d(d+1)/2 + d interpreted term structs per row; the
    * exchange carries one moment buffer per partition either way. The
    * final reshape explodes the SINGLE moment row back to (i, j, cov). */
  def covarianceMatrix(emb: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val (v, dim) = Pq.vectors(emb, idCol, vecCol)
    val mom = v.agg(graft.functions.CovMoments.covMoments($"v").as("m"))
    // upper-triangle row-major offset of (i, j): i rows of shrinking
    // width before it, then (j - i) within row i
    def sxx(i: Column, j: Column): Column =
      element_at($"m",
        (lit(3 + dim) + i * dim - (i * (i - 1)).divide(2) + (j - i))
          .cast("int"))
    val pairs = flatten(transform(sequence(lit(0), lit(dim - 1)), i =>
      transform(sequence(i, lit(dim - 1)), j =>
        struct(i.cast("int").as("i"), j.cast("int").as("j")))))
    mom.select(explode(pairs).as("p"), $"m")
      .select($"p.i".as("i"), $"p.j".as("j"),
        element_at($"m", 2).as("n"),
        sxx($"p.i", $"p.j").as("s"),
        element_at($"m", ($"p.i" + 3).cast("int")).as("si"),
        element_at($"m", ($"p.j" + 3).cast("int")).as("sj"))
      .select($"i", $"j",
        // + 0.0 canonicalizes IEEE negative zero (round can emit -0.0,
        // and -0.0 vs 0.0 is a textual hash mismatch cross-engine)
        (round($"s" / $"n" - ($"si" / $"n") * ($"sj" / $"n"), 6) +
          lit(0.0)).as("cov"))
  }

  /** The explode-into-term-structs form of [[covarianceMatrix]], kept as
    * the differential-test reference for the native moments kernel. */
  private[analytics] def covarianceMatrixComposed(
      emb: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val (v, dim) = Pq.vectors(emb, idCol, vecCol)
    val sums = moments(v, dim)
    // tiny post-agg reshape: marginals join back to the pair rows — both
    // sides are d-scale, Spark broadcasts them on its own
    val marg = sums.filter($"j" === -1)
      .select($"i", $"s".as("si"), $"cnt".as("n"))
    sums.filter($"j" >= 0)
      .join(marg, "i")
      .join(marg.select($"i".as("j"), $"si".as("sj")), "j")
      .select($"i", $"j",
        (round($"s" / $"n" - ($"si" / $"n") * ($"sj" / $"n"), 6) +
          lit(0.0)).as("cov"))
  }

  /** Per-dimension z-score standardization (whitening without rotation):
    * `(id, i, z)` with `z = (x_i − mean_i) / std_i` (population std),
    * rounded to 6, and `z = 0` pinned for zero-variance dimensions.
    * Two scans by construction — global stats, then the map-side rescale
    * (the d-row stats table broadcast-joins the exploded corpus; no
    * corpus-sized exchange anywhere). */
  def standardize(emb: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val (v, _) = Pq.vectors(emb, idCol, vecCol)
    val x = v.select($"vid", posexplode($"v").as(Seq("i", "xi")))
    // explicit sum/count algebra (not avg/stddev built-ins) so the oracle
    // states the identical association; greatest(,0) guards the tiny
    // negative E[x²]−E[x]² float residue from sqrt(NaN)
    val m = x.groupBy($"i").agg(
      (sum($"xi") / count(lit(1))).as("mu"),
      sqrt(greatest(
        sum($"xi" * $"xi") / count(lit(1)) -
          pow(sum($"xi") / count(lit(1)), 2),
        lit(0.0))).as("sd"))
    x.join(broadcast(m), "i")
      .select($"vid".as(idCol), $"i",
        (round(when($"sd" > 0, ($"xi" - $"mu") / $"sd").otherwise(0.0), 6) +
          lit(0.0)).as("z"))
  }

  /** Exact quantile-bucket assignment WITHOUT a global sort: the q-1 cut
    * points are ONE exact-percentile row (doc-count-sized buffer, the
    * [[TextAnalysis.surprisalGate]] bracket) broadcast back, and the
    * bucket is a map-side count of thresholds passed — where `ntile(q)
    * OVER (ORDER BY score)` would funnel the whole corpus through one
    * task. Thresholds round to 6 (the internalized-model rule); ties sit
    * in the LOWER bucket (strict `>`), matching the oracle. Null scores
    * bucket null.
    *
    * Output: (id, score, bucket in 1..q). */
  def quantileBuckets(df: DataFrame, idCol: String, score: Column,
                      q: Int = 10): DataFrame = {
    require(q >= 2, "q must be >= 2")
    val spark = df.sparkSession
    import spark.implicits._
    val scored = df.select(col(idCol), score.as("score")).materialized()
    val ps = (1 until q).map(i => i / q.toDouble).mkString(", ")
    val thr = scored.filter($"score".isNotNull)
      .agg(expr(s"percentile(score, array($ps))").as("ts0"))
      .select(transform($"ts0", t => round(t, 6)).as("ts"))
    scored.crossJoin(broadcast(thr))
      .select(col(idCol), $"score",
        when($"score".isNotNull,
          (lit(1) + aggregate($"ts", lit(0),
            (acc, t) => acc + when($"score" > t, 1).otherwise(0)))
            .cast("int")).as("bucket"))
  }

  /** Deterministic top principal component: `iters` rounds of power
    * iteration on the d×d covariance matrix, started from the uniform
    * unit vector, sign pinned so the largest-|component| entry (smallest
    * index on ties) is positive. Returns the unit eigenvector estimate. */
  private[analytics] def topComponent(m: Array[Array[Double]],
                                      iters: Int): Array[Double] = {
    val d = m.length
    var w = Array.fill(d)(1.0 / math.sqrt(d.toDouble))
    for (_ <- 0 until iters) {
      val next = Array.tabulate(d) { i =>
        var acc = 0.0
        var j = 0
        while (j < d) { acc += m(i)(j) * w(j); j += 1 }
        acc
      }
      val nrm = math.sqrt(next.map(x => x * x).sum)
      // a zero matrix (or an iterate in its null space) has no direction
      // to follow; keep the previous iterate instead of dividing by zero
      if (nrm > 0) w = next.map(_ / nrm)
    }
    val pin = w.indices.maxBy(i => (math.abs(w(i)), -i))
    if (w(pin) < 0) w.map(-_) else w
  }

  /** Projection of every embedding onto the corpus's top principal
    * component: `(id, pc1)` with `pc1 = (x − mean)·w` rounded to 6. The
    * model (mean + component) comes from one moments pass + the bounded
    * d² collect; the projection itself is map-side with the fused dot
    * kernel — nothing corpus-sized moves. */
  def pcaProject(emb: DataFrame, idCol: String, vecCol: String,
                 iters: Int = 30): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val (v, dim) = Pq.vectors(emb, idCol, vecCol)
    // single native moments pass; the collect is one buffer of
    // 2 + d + d(d+1)/2 doubles (~17 KB at d=64), the bounded
    // model-exchange pattern — NOT a corpus funnel
    val m = v.agg(graft.functions.CovMoments.covMoments($"v").as("m"))
      .head().getSeq[Double](0).toArray
    val n = if (m.length > 1) m(1) else 0.0
    require(n > 0, "pcaProject: empty corpus (no vectors at the majority dim)")
    val mean = Array.tabulate(dim)(i => m(2 + i) / n)
    val cov = Array.ofDim[Double](dim, dim)
    for (i <- 0 until dim; j <- i until dim) {
      val s = m(2 + dim + i * dim - i * (i - 1) / 2 + (j - i))
      val c = s / n - mean(i) * mean(j)
      cov(i)(j) = c; cov(j)(i) = c
    }
    val w = topComponent(cov, iters)
    val wLit = typedLit(w.toSeq)
    val mLit = typedLit(mean.toSeq)
    v.select($"vid".as(idCol),
      round(graft.functions.DotProduct.dotProduct(
          zip_with($"v", mLit, (x, m) => x - m), wLit), 6).as("pc1"))
  }

  /** Exact ROC-AUC of a probabilistic classifier via the Mann-Whitney
    * midrank identity: `AUC = (S2 − nPos(nPos+1)) / (2·nPos·nNeg)` with
    * `S2 = Σ over distinct scores of nPos_g · (2·cumBefore + cnt + 1)` —
    * twice the positives' midrank sum, an INTEGER, so the whole statistic
    * is exact integer arithmetic (DECIMAL(38,0) accumulation — a long Σ
    * would overflow once nPos·N passes ~4.6e18) until one final
    * division: bit-exact cross-engine, no rounding anywhere. Ties
    * contribute their midrank, the standard correction.
    *
    * Scale shape: one partial-aggregable groupBy(score), then a
    * single-partition running-sum window over the DISTINCT-score table —
    * bounded by construction at ≤ 10⁶+1 rows because scores arrive
    * round-6 in [0, 1], so the one-task window is a non-issue at any
    * corpus size. Null scores drop; a single-class input yields null.
    * Output: one row (n_pos, n_neg, auc). */
  def aucScore(scored: DataFrame, scoreCol: String,
               labelCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val g = scored.filter(col(scoreCol).isNotNull)
      .select(col(scoreCol).as("score"), col(labelCol).cast("int").as("y"))
      .groupBy("score")
      .agg(count(lit(1)).as("cnt"), sum(col("y")).cast("long").as("np"))
    val w = Window.orderBy(col("score"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val o = g.withColumn("cb", coalesce(sum(col("cnt")).over(w), lit(0L)))
    // s2 and the rank-sum products accumulate as DECIMAL(38,0): each
    // term is np·(2·cb+cnt+1) ≤ nPos·(2N+1), so a LONG Σ overflows once
    // nPos·N passes ~4.6e18 (multi-billion-row scored corpora) — int128
    // keeps the midrank identity exact at any corpus size
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    o.agg(sum(col("np")).cast("long").as("n_pos"),
        sum(col("cnt") - col("np")).cast("long").as("n_neg"),
        sum(col("np").cast(dec) *
          (lit(2L) * col("cb") + col("cnt") + lit(1L)).cast(dec))
          .as("s2"))
      .select(col("n_pos"), col("n_neg"),
        ((col("s2") - col("n_pos").cast(dec) *
            (col("n_pos") + lit(1L)).cast(dec))
          .cast("double") /
          nullif((lit(2L).cast(dec) * col("n_pos").cast(dec) *
            col("n_neg").cast(dec)).cast("double"),
            lit(0.0))).as("auc"))
  }

  /** Average precision (the PR-curve summary) with the standard
    * tie-grouped step definition: thresholds sweep the distinct scores
    * descending, and each group contributes
    * `ΔTP_g · precision_at_cut_g`, so
    * `AP = Σ_g np_g · (TP_g / N_g) / nPos` with TP/N the cumulative
    * positives/rows at the group's cut — every ratio an exact division
    * of longs; `round(,6)` only on the final sum (group order ulps).
    * Complements [[aucScore]]: AUC ranks pairs, AP weights the head of
    * the ranking — the number that matters when the kept fraction is
    * small (data-selection gates keep the top few percent).
    *
    * Scale shape: identical to [[aucScore]] — one partial-aggregable
    * groupBy(score) + a running-sum window over the distinct-score
    * table, bounded at ≤ 10⁶+1 rows by round-6 scores. Null scores
    * drop; no positives yields null. Output: one row
    * (n_pos, n_neg, avg_precision). */
  def averagePrecision(scored: DataFrame, scoreCol: String,
                       labelCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val g = scored.filter(col(scoreCol).isNotNull)
      .select(col(scoreCol).as("score"), col(labelCol).cast("int").as("y"))
      .groupBy("score")
      .agg(count(lit(1)).as("cnt"), sum(col("y")).cast("long").as("np"))
    val w = Window.orderBy(col("score").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val o = g.withColumn("tp", sum(col("np")).over(w))
      .withColumn("nc", sum(col("cnt")).over(w))
    o.agg(sum(col("np")).cast("long").as("n_pos"),
        sum(col("cnt") - col("np")).cast("long").as("n_neg"),
        sum(col("np").cast("double") *
          (col("tp").cast("double") / col("nc").cast("double"))).as("s"))
      .select(col("n_pos"), col("n_neg"),
        round(col("s") / nullif(col("n_pos").cast("double"), lit(0.0)), 6)
          .as("avg_precision"))
  }

  /** Reliability-diagram calibration bins for a probabilistic classifier
    * (e.g. [[Selection.logregQuality]] scores): equal-width bins over
    * [0, 1] (score 1.0 folds into the top bin), per-bin count, mean
    * predicted score, and observed positive fraction — the table behind
    * expected-calibration-error and the keep-threshold choice. Scale
    * shape: one map-side bin projection + one `bins`-row aggregation
    * with partial combine; nothing but the scan grows with the corpus.
    * Both emitted ratios are EXACT single divisions: scores arrive
    * round-6, so they sum losslessly as integer micro-units (a
    * `round(avg, 6)` here would sit on knife edges — sum-order ulps
    * flip the 6th decimal when the mean lands on a .5 boundary). Null
    * scores are dropped (they carry no calibration signal). */
  def calibrationBins(scored: DataFrame, scoreCol: String,
                      labelCol: String, bins: Int = 10): DataFrame = {
    require(bins >= 2, "bins must be >= 2")
    scored
      .filter(col(scoreCol).isNotNull)
      .select(
        least(floor(col(scoreCol) * bins), lit(bins - 1)).cast("int")
          .as("bin"),
        round(col(scoreCol) * lit(1000000.0)).cast("long").as("sm"),
        col(labelCol).cast("int").as("y"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"),
        (sum(col("sm")).cast("double") / count(lit(1)) / lit(1000000.0))
          .as("mean_score"),
        (sum(col("y")).cast("double") / count(lit(1))).as("frac_pos"))
  }

  /** Event-rate anomaly detection: z-score each (type, hour) count
    * against that type's OWN trailing window of the `trailing` preceding
    * hour slots (current hour excluded), flagging |z| > `zThresh` once at
    * least `minHist` slots of history exist — the rate-spike monitor over
    * an ingest/telemetry feed, per-type so a chatty event class doesn't
    * set the bar for a quiet one.
    *
    * Scale shape: the raw feed compresses to (type, hour) rows in one
    * partial-aggregable count BEFORE any window runs, so the window's
    * input is bounded by types × hours-of-history — corpus volume only
    * widens the scan. The z comparison uses the ROUNDED z so the flag is
    * reproducible cross-engine.
    *
    * Output: (type, hr, c, n_hist, z, anomaly); z is null until the
    * history and variance gates pass. */
  def rateAnomaly(events: DataFrame, typeCol: String, tsCol: String,
                  trailing: Int = 24, minHist: Int = 12,
                  zThresh: Double = 2.0): DataFrame = {
    require(trailing >= 1 && minHist >= 1, "window params must be >= 1")
    import org.apache.spark.sql.expressions.Window
    val h = events
      .groupBy(col(typeCol),
        floor(unix_timestamp(col(tsCol)) / 3600L).cast("long").as("hr"))
      .agg(count(lit(1)).cast("long").as("c"))
    val tw = Window.partitionBy(col(typeCol)).orderBy(col("hr"))
      .rangeBetween(-trailing.toLong, -1L)
    val z = round((col("c") - avg(col("c")).over(tw)) /
      stddev_pop(col("c")).over(tw), 6)
    val ok = count(lit(1)).over(tw) >= minHist &&
      stddev_pop(col("c")).over(tw) > 0
    h.select(col(typeCol), col("hr"), col("c"),
      count(lit(1)).over(tw).cast("long").as("n_hist"),
      when(ok, z).as("z"),
      coalesce(ok && abs(z) > zThresh, lit(false)).as("anomaly"))
  }

  /** Deterministic Bayesian-bootstrap confidence interval for each
    * group's mean (Rubin 1981): replicate `rep` weights every row by an
    * Exp(1) draw `w = -ln(u)` with `u` derived from md5(id|rep) — so
    * the resampling is REPRODUCIBLE across engines and runs, the
    * property Monte-Carlo RNG bootstraps lack — and the CI is the
    * [lo, hi] percentile band of the `b` weighted replicate means.
    * Uncertainty for any mean the warehouse reports, without
    * distributional assumptions.
    *
    * Scale shape: the explode is x`b` map-side (no shuffle
    * amplification beyond the (key, rep) partial agg whose output is
    * groups x b rows); the percentile runs over b values per group.
    * Replicate means round to 6 BEFORE the percentile so both engines
    * interpolate the identical grid.
    *
    * Output: (key, n, mean, ci_lo, ci_hi) — mean is the plain
    * unweighted mean, all rounded 6. */
  def bootstrapMeanCI(df: DataFrame, keyCol: String, valueCol: String,
                      idCol: String, b: Int = 32, lo: Double = 0.025,
                      hi: Double = 0.975): DataFrame = {
    require(b >= 2 && 0.0 <= lo && lo < hi && hi <= 1.0,
      "need b >= 2 and 0 <= lo < hi <= 1")
    val spark = df.sparkSession
    import spark.implicits._
    val twoP60 = 1152921504606846976.0 // 2^60
    // null values must not enter the resampling: a null contributes
    // nothing to sum(w*x) but its weight would still inflate sum(w),
    // biasing every replicate mean toward 0 — while n/mean below use
    // null-IGNORING count/avg. Filter so both sides see the same rows.
    val rows = Par.ensure(df)
      .select(col(keyCol).as("key"), col(valueCol).cast("double").as("x"),
        col(idCol).cast("string").as("rid"))
      .filter($"x".isNotNull)
      .select($"key", $"x", explode(sequence(lit(0), lit(b - 1))).as("rep"),
        $"rid")
      .withColumn("u",
        (graft.analytics.Sketches.h60(
          concat($"rid", lit("|"), col("rep").cast("string")))
          .cast("double") + 1.0) / lit(twoP60))
      .withColumn("w", -log($"u"))
    // sum(w) = 0 needs every u to hash to exactly 1.0 — measure-zero,
    // but ANSI division would throw rather than null without safeDiv
    val reps = rows.groupBy($"key", $"rep")
      .agg(round(Par.safeDiv(sum($"w" * $"x"), sum($"w")), 6).as("mb"))
    val ci = reps.groupBy($"key".as("__bs_key"))
      .agg(round(expr(s"percentile(mb, $lo)"), 6).as("ci_lo"),
        round(expr(s"percentile(mb, $hi)"), 6).as("ci_hi"))
    // LEFT join: a group whose values are all null has no replicate
    // rows and thus no CI row — the group itself must still report
    // (n=0, null mean, null bounds), as the oracle's plain GROUP BY
    // does, not silently vanish
    df.groupBy(col(keyCol).as("key"))
      .agg(count(col(valueCol)).cast("long").as("n"),
        round(avg(col(valueCol)), 6).as("mean"))
      .join(broadcast(ci), $"key" === $"__bs_key", "left")
      .select($"key".as(keyCol), $"n", $"mean", $"ci_lo", $"ci_hi")
  }

  /** Hash-seeded bootstrap CI for the DIFFERENCE in arm means — the
    * nonparametric A/B significance readout ([[bootstrapMeanCI]]'s
    * machinery pointed at the quantity experimenters actually decide
    * on): each replicate reweights BOTH arms with the same
    * md5(id|replicate) Exp(1) weights, the replicate statistic is
    * mean_b - mean_a, and the CI is the percentile band of the `b`
    * replicate diffs; `significant` = the band excludes 0 (computed
    * from the ROUNDED bounds so both engines make the same call).
    *
    * Shape: the explode is map-side, replicate means are one
    * (rep, arm)-keyed agg with partials, the diff join and percentile
    * run over 2b rows. Output: 1 row (n_a, n_b, diff_obs, ci_lo,
    * ci_hi, significant). */
  def bootstrapDiffCI(df: DataFrame, cohortCol: Column, valueCol: String,
                      idCol: String, b: Int = 32, lo: Double = 0.025,
                      hi: Double = 0.975): DataFrame = {
    require(b >= 2 && 0.0 <= lo && lo < hi && hi <= 1.0,
      "need b >= 2 and 0 <= lo < hi <= 1")
    val spark = df.sparkSession
    import spark.implicits._
    val twoP60 = 1152921504606846976.0 // 2^60
    val e = Par.ensure(df)
      .select(cohortCol.cast("int").as("g"),
        col(valueCol).cast("double").as("x"),
        col(idCol).cast("string").as("rid"))
      .filter($"x".isNotNull)
    val rows = e
      .select($"g", $"x", explode(sequence(lit(0), lit(b - 1))).as("rep"),
        $"rid")
      .withColumn("u",
        (graft.analytics.Sketches.h60(
          concat($"rid", lit("|"), col("rep").cast("string")))
          .cast("double") + 1.0) / lit(twoP60))
      .withColumn("w", -log($"u"))
    val reps = rows.groupBy($"rep", $"g")
      .agg(round(Par.safeDiv(sum($"w" * $"x"), sum($"w")), 6).as("mb"))
    val diffs = reps.filter($"g" === 0)
      .select($"rep", $"mb".as("mb_a"))
      .join(reps.filter($"g" === 1).select($"rep", $"mb".as("mb_b")),
        Seq("rep"))
      .select(($"mb_b" - $"mb_a").as("d"))
    val ci = diffs.agg(
      round(expr(s"percentile(d, $lo)"), 6).as("ci_lo"),
      round(expr(s"percentile(d, $hi)"), 6).as("ci_hi"))
    e.agg(
      sum(when($"g" === 0, 1L).otherwise(0L)).cast("long").as("n_a"),
      sum(when($"g" === 1, 1L).otherwise(0L)).cast("long").as("n_b"),
      round(avg(when($"g" === 1, $"x")) - avg(when($"g" === 0, $"x")), 6)
        .as("diff_obs"))
      .join(broadcast(ci), lit(true))
      .select($"n_a", $"n_b", $"diff_obs", $"ci_lo", $"ci_hi",
        ($"ci_lo" > 0.0 || $"ci_hi" < 0.0).as("significant"))
  }

  /** Day-of-week seasonal index per key: each ISO weekday's AVERAGE
    * daily volume relative to the key's own all-days average — the
    * demand-planning multiplier table (a Monday index of 1.3 means
    * Mondays run 30% hot). Averages divide by the number of DISTINCT
    * active days per weekday, so a 30-day feed (5 Mondays, 4 Sundays)
    * doesn't fake weekday skew from calendar coverage.
    *
    * Shape: the day series arrives pre-aggregated; weekday cells and
    * per-key totals are windows over the <= 7-row dow table per key.
    * Output: (key, isodow, n_events, n_days, daily_rate,
    * seasonal_index). */
  def dowSeasonalIndex(series: DataFrame, keyCol: String, dayCol: String,
                       xCol: String): DataFrame = {
    val spark = series.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    import Par.safeDiv
    val cells = series
      .select(col(keyCol).as("key"), (weekday(col(dayCol)) + 1)
        .cast("int").as("isodow"), col(xCol).cast("long").as("x"))
      .groupBy($"key", $"isodow")
      .agg(sum($"x").cast("long").as("n_events"),
        count(lit(1)).cast("long").as("n_days"))
    val wk = Window.partitionBy($"key")
    val rate = safeDiv($"n_events".cast("double"),
      $"n_days".cast("double"))
    val overall = sum($"n_events").over(wk).cast("double") /
      when(sum($"n_days").over(wk).cast("double") > 0.0,
        sum($"n_days").over(wk).cast("double"))
    cells.select($"key", $"isodow", $"n_events", $"n_days",
      (round(rate * 1e6) / 1e6).as("daily_rate"),
      (round(rate / when(overall > 0.0, overall) * 1e6) / 1e6)
        .as("seasonal_index"))
  }

  /** CUSUM changepoint/level-shift detection on per-group hourly event
    * counts (Page 1954): the one-sided cumulative-sum statistic
    * `S_t = max(0, S_{t-1} + (x_t - mu - slack))` flags a SUSTAINED
    * upward shift that a pointwise z-score (q157) never accumulates —
    * the slow-leak detector next to the spike detector. `mu` and `sd`
    * are the group's own full-series moments; `slack = 0.5*sd` absorbs
    * noise, the alarm fires at `S_t > 4*sd` (the standard h=4 tuning).
    *
    * The clamped recurrence is NOT a window sum — but it has an exact
    * non-recursive identity: with `P_t` the prefix sum of
    * `(x_t - mu - slack)`, `S_t = P_t - min(P_0..P_t, 0)` — so two
    * stacked windows (prefix sum, running min) compute it exactly, and
    * a SQL oracle replays it verbatim. The windows run over the
    * (group, hour) table the feed compresses to in one partial agg,
    * DENSIFIED to each group's full hour span (a silent hour is a ZERO
    * sample, not a missing one) — groups x hours rows, never event
    * volume.
    *
    * Output: (group, hr, c, cusum, shift) — cusum rounded 6. */
  /** The densified per-group hourly count table (group, hr, c): one
    * partial agg compresses the feed, then each group's FULL hour span
    * grid left-joins it so a silent hour is a count of ZERO, not a
    * missing sample — otherwise overnight/outage gaps inflate baselines
    * (only active hours averaged) and recurrences treat 17:00 -> 09:00
    * as adjacent, exactly the drop-to-zero regime the monitors exist to
    * catch. Shared by [[cusumShift]] and [[seasonalAnomaly]] so their
    * densify semantics cannot drift. Grid size: groups x span hours —
    * calendar-bounded, never event volume. */
  private def densifiedHourly(events: DataFrame, typeCol: String,
                              tsCol: String): DataFrame = {
    val h0 = events
      .groupBy(col(typeCol),
        floor(unix_timestamp(col(tsCol)) / 3600L).cast("long").as("hr"))
      .agg(count(lit(1)).cast("long").as("c"))
    h0.groupBy(col(typeCol).as("__dh_g"))
      .agg(min(col("hr")).as("h0"), max(col("hr")).as("h1"))
      .select(col("__dh_g").as(typeCol),
        explode(sequence(col("h0"), col("h1"))).as("hr"))
      .join(h0, Seq(typeCol, "hr"), "left")
      .withColumn("c", coalesce(col("c"), lit(0L)))
  }

  def cusumShift(events: DataFrame, typeCol: String, tsCol: String,
                 slackSds: Double = 0.5, threshSds: Double = 4.0): DataFrame = {
    require(slackSds >= 0.0 && threshSds > 0.0, "bad CUSUM tuning")
    import org.apache.spark.sql.expressions.Window
    val h = densifiedHourly(events, typeCol, tsCol)
    val st = h.groupBy(col(typeCol).as("__cs_grp"))
      .agg(avg(col("c")).as("mu"), stddev_pop(col("c")).as("sd"))
    val wCum = Window.partitionBy(col(typeCol)).orderBy(col("hr"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val dev = col("c").cast("double") - col("mu") - lit(slackSds) * col("sd")
    val s = col("p") - least(min(col("p")).over(wCum), lit(0.0))
    h.join(broadcast(st), col(typeCol) === col("__cs_grp")).drop("__cs_grp")
      .withColumn("p", sum(dev).over(wCum))
      .select(col(typeCol), col("hr"), col("c"),
        round(s, 6).as("cusum"),
        (round(s, 6) > round(lit(threshSds) * col("sd"), 6)).as("shift"))
  }

  /** Seasonal-baseline anomaly: each (group, hour) compares against the
    * MEDIAN count of its own HOUR-OF-DAY across the feed's days — the
    * seasonality-aware monitor that q157's trailing window and q176's
    * global-mean CUSUM both lack: a 3 AM hour is judged against other
    * 3 AMs, so the nightly trough never reads as an incident and a
    * quiet-hours spike isn't hidden under the daily peak's variance.
    * Hours densify to each group's full span (zero counts are samples,
    * the q176 rule); the deviation is `ratio = c / med_hod` flagged
    * outside [1/factor, factor] once the slot has `minDays` samples.
    *
    * Scale shape: the feed compresses to (group, hour) rows, medians
    * aggregate over (group, 24) slots whose percentile state is bounded
    * by distinct day-counts, and the baseline table broadcasts back —
    * groups x 24 rows. Medians round to 6 at the aggregation (the q156
    * rule) so both engines read identical baselines.
    *
    * Output: (group, hr, c, hod, n_days, med_hod, ratio, seasonal) —
    * ratio null when the baseline is 0 or history is short. */
  def seasonalAnomaly(events: DataFrame, typeCol: String, tsCol: String,
                      factor: Double = 2.0, minDays: Int = 14): DataFrame = {
    require(factor > 1.0 && minDays >= 1, "bad seasonal tuning")
    val h = densifiedHourly(events, typeCol, tsCol)
      .withColumn("hod", (col("hr") % 24).cast("int"))
    val base = h.groupBy(col(typeCol).as("__sa_grp"), col("hod").as("__sa_hod"))
      .agg(count(lit(1)).cast("long").as("__sa_days"),
        round(expr("percentile(c, 0.5)"), 6).as("__sa_med"))
    val ok = col("__sa_days") >= minDays && col("__sa_med") > 0
    val ratio = round(Par.safeDiv(col("c").cast("double"),
      col("__sa_med")), 6)
    h.join(broadcast(base),
        col(typeCol) === col("__sa_grp") && col("hod") === col("__sa_hod"))
      .select(col(typeCol), col("hr"), col("c"), col("hod"),
        col("__sa_days").as("n_days"), col("__sa_med").as("med_hod"),
        when(ok, ratio).as("ratio"),
        coalesce(ok && (ratio > factor || ratio < lit(1.0) / factor),
          lit(false)).as("seasonal"))
  }

  /** Robust per-group outlier gate via MEDIAN ABSOLUTE DEVIATION
    * (Iglewicz & Hoaglin's modified z-score): per group,
    * `med = median(x)`, `mad = median(|x - med|)`,
    * `rz = 0.6745 * (x - med) / mad`, outlier iff `|rz| > thresh`
    * (3.5 is the standard cut). Mean/stddev z-scores move WITH the
    * outliers they hunt (one 1000x spike inflates sigma enough to hide
    * itself); medians don't — this is the gate that survives the
    * heavy-tailed value columns a crawl feed actually has.
    *
    * Scale shape: two percentile aggregations (state bounded by
    * distinct values per group, like [[graft.analytics.Selection
    * .lengthPercentileGate]]), each producing a group-dictionary-sized
    * threshold table that broadcast-joins back; the flag itself is
    * map-side. A zero MAD (>= half the group identical) yields a null
    * `rz` and `false` flag rather than dividing by zero.
    *
    * Output: (id, group, value, med, mad, rz, is_outlier), rz rounded
    * to 6. */
  def madOutliers(df: DataFrame, idCol: String, valueCol: String,
                  groupCol: String, thresh: Double = 3.5): DataFrame = {
    require(thresh > 0.0, "thresh must be positive")
    val spark = df.sparkSession
    import spark.implicits._
    // med/mad round to 6 AT the aggregation (the q156 percentile rule):
    // interpolated medians are the one place engine ulp could differ, and
    // everything downstream must read the same thresholds. All model
    // columns carry the __mad_ prefix until the final select so a caller
    // whose input already has med/mad columns cannot collide.
    val med = df.groupBy(col(groupCol).as("__mad_grp"))
      .agg(round(expr(s"percentile($valueCol, 0.5)"), 6).as("__mad_med"))
    val withMed = df.join(broadcast(med), col(groupCol) === $"__mad_grp")
      .drop("__mad_grp")
    val mad = withMed
      .groupBy(col(groupCol).as("__mad_grp"))
      .agg(round(expr(s"percentile(abs($valueCol - __mad_med), 0.5)"), 6)
        .as("__mad_mad"))
    val rz = round(lit(0.6745) * (col(valueCol) - $"__mad_med") /
      when($"__mad_mad" > 0, $"__mad_mad"), 6)
    withMed.join(broadcast(mad), col(groupCol) === $"__mad_grp")
      .select(col(idCol).as("id"), col(groupCol), col(valueCol),
        $"__mad_med".as("med"), $"__mad_mad".as("mad"), rz.as("rz"),
        coalesce(abs(rz) > thresh, lit(false)).as("is_outlier"))
  }

  /** Population Stability Index between a REFERENCE slice and a CURRENT
    * slice of a value column, per key — the standard "did the serving
    * distribution drift from training" gate (credit-scoring lineage;
    * the industry thresholds are 0.1 = watch, 0.25 = drifted). Values
    * bucket into `nBins` fixed-width bins (`floor(v / binWidth)`
    * clamped to [0, nBins)), each side's bucket share is floored at
    * `eps` so a bucket present on only one side contributes a finite
    * term, and `PSI = sum over buckets of (p - q) * ln(p / q)`.
    *
    * Scale shape: ONE (key, bucket) aggregate carries both sides as
    * conditional counts (two separate map-side-filtered aggs re-read
    * raw volume twice), and the dictionary-sized grid (keys x nBins)
    * is materialized because two consumers read it (the key totals and
    * the scoring agg) — left lazy, each consumer re-ran the raw
    * aggregate, so one call cost four raw scans. Event volume never
    * shuffles and is read exactly once. Deterministic to the rounded
    * places: each bucket's term is rounded to 9 and summed as scaled
    * integers, so float addition order cannot flip the 6th decimal a
    * SQL oracle sees.
    *
    * Output: (key, n_ref, n_cur, psi, verdict in
    * {stable, watch, drifted}); keys missing a side entirely report a
    * null psi (no distribution to compare). */
  def psiDrift(df: DataFrame, keyCol: String, valueCol: String,
               refPred: Column, curPred: Column,
               binWidth: Double = 10.0, nBins: Int = 20,
               eps: Double = 1e-4): DataFrame = {
    require(binWidth > 0 && nBins >= 2 && eps > 0,
      "need binWidth > 0, nBins >= 2, eps > 0")
    val spark = df.sparkSession
    import spark.implicits._
    // one conditional pass replaces the old per-side filtered aggs +
    // full_outer join: a (key, bkt) group exists iff some row passed
    // either pred (exactly the old join's key union), and a side's
    // count is 0 where the old join produced NULL — every consumer
    // below already reads the counts through coalesce(_, 0), so the
    // arithmetic is untouched
    import Par.Mat
    val joined = Par.ensure(df)
      .filter((refPred || curPred) && col(valueCol).isNotNull)
      .select(col(keyCol).as("key"),
        least(lit(nBins - 1), greatest(lit(0),
          floor(col(valueCol) / binWidth))).cast("int").as("bkt"),
        when(refPred, 1L).otherwise(0L).as("isr"),
        when(curPred, 1L).otherwise(0L).as("isc"))
      .groupBy($"key", $"bkt")
      .agg(sum($"isr").as("cr"), sum($"isc").as("cc"))
      .materialized()
    val totals = joined.groupBy($"key")
      .agg(sum(coalesce($"cr", lit(0L))).as("nr"),
        sum(coalesce($"cc", lit(0L))).as("nc"))
    val p = greatest(coalesce($"cr", lit(0L)).cast("double") /
      when($"nr" > 0, $"nr".cast("double")), lit(eps))
    val q = greatest(coalesce($"cc", lit(0L)).cast("double") /
      when($"nc" > 0, $"nc".cast("double")), lit(eps))
    // per-bucket term as a scaled integer (scale FIRST, round to a
    // whole number, THEN cast — round(x,9)*1e9 would truncate vs
    // DuckDB's rounding cast): summation order cannot perturb the
    // rounded result either engine reports
    val term = round((p - q) * log(p / q) * 1e9).cast("long")
    joined.join(totals, Seq("key"))
      .groupBy($"key")
      .agg(max($"nr").cast("long").as("n_ref"),
        max($"nc").cast("long").as("n_cur"),
        // robust 6-place rounding (the q194 knife-edge lesson): both
        // engines round the same scaled double to an integer
        (round(sum(term) / 1e9 * 1e6) / 1e6).as("psi_raw"))
      .select($"key", $"n_ref", $"n_cur",
        // a key seen on only one side has no distribution to compare:
        // null psi + no_data, not a score against the eps floor
        when($"n_ref" > 0 && $"n_cur" > 0, $"psi_raw").as("psi"))
      .withColumn("verdict",
        when($"psi".isNull, "no_data")
          .when($"psi" > 0.25, "drifted")
          .when($"psi" > 0.1, "watch")
          .otherwise("stable"))
  }

  /** Cohen's kappa between two categorical label columns — chance-
    * corrected agreement, THE reliability number for any labeling
    * pipeline (model vs heuristic, annotator vs annotator, metadata vs
    * classifier): `kappa = (po - pe) / (1 - pe)` with `po` the
    * observed agreement rate and `pe` the agreement expected from the
    * two marginal label distributions alone. Rows where either label
    * is null are excluded (standard practice — "unlabeled" is not a
    * category).
    *
    * Scale shape: ONE raw pass builds the (a, b) contingency grid
    * (label-vocabulary² rows, materialized); the totals, agree count
    * and both label marginals all derive from the grid (they used to
    * be three separate raw scans), joined on the label value and
    * collapsed to the single pe sum — nothing holds more than
    * |label vocabulary| rows. The pe terms sum as scaled integers so
    * partition order can't move the rounded result. Output: 1 row
    * (n, po, pe, kappa), all rounded 6; kappa null when pe = 1 (a
    * single shared label — agreement is undefined, not perfect). */
  def cohensKappa(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    import Par.Mat
    // one raw pass into the (a, b) contingency grid; totals, agree and
    // both marginals fold the grid's counts (sum(c) == the row counts
    // the three raw scans used to take) — bit-identical, raw read once
    val obs = Par.ensure(df)
      .filter(col(aCol).isNotNull && col(bCol).isNotNull)
      .select(col(aCol).cast("string").as("a"),
        col(bCol).cast("string").as("b"))
      .groupBy($"a", $"b")
      .agg(count(lit(1)).cast("long").as("c"))
      .materialized()
    val tot = obs.agg(sum($"c").cast("long").as("n"),
      sum(when($"a" === $"b", $"c").otherwise(0L)).cast("long").as("agree"))
    val ma = obs.groupBy($"a".as("lbl")).agg(sum($"c").as("ca"))
    val mb = obs.groupBy($"b".as("lbl")).agg(sum($"c").as("cb"))
    // per-label expected-agreement term (ca/n)*(cb/n), summed as scaled
    // integers against the one-row totals
    val pe = ma.join(mb, Seq("lbl"))
      .crossJoin(broadcast(tot))
      .select(round($"ca".cast("double") / $"n" *
        ($"cb".cast("double") / $"n") * 1e9).cast("long").as("t"))
      .agg(coalesce(sum($"t"), lit(0L)).as("pes"))
    // robust 6-place rounding (round(x*1e6)/1e6, the q194 lesson):
    // both engines round the same scaled double, and kappa recomputes
    // from the ROUNDED po/pe so the division sees identical inputs
    val po6 = round($"agree".cast("double") /
      when($"n" > 0, $"n".cast("double")) * 1e6) / 1e6
    val pe6 = round($"pes" / 1e9 * 1e6) / 1e6
    tot.crossJoin(broadcast(pe))
      .select($"n", po6.as("po"), pe6.as("pe"))
      .select($"n", $"po", $"pe",
        (round(($"po" - $"pe") /
          when(lit(1.0) - $"pe" > 0, lit(1.0) - $"pe") * 1e6) / 1e6)
          .as("kappa"))
  }

  /** Two-sample Kolmogorov-Smirnov drift statistic per key: the max
    * absolute gap between the two slices' empirical CDFs — the
    * bin-free complement of [[psiDrift]] (PSI sees WHERE mass moved,
    * KS sees the worst single displacement and carries a significance
    * threshold). Both CDFs step only at observed values, so the exact
    * statistic is the max over the pooled distinct-value grid of
    * `|F_ref(v) - F_cur(v)|`; the drift flag compares against the
    * large-sample alpha = 0.05 critical value
    * `1.358 * sqrt((n1 + n2) / (n1 * n2))`.
    *
    * Scale shape: the feed compresses to (key, value)-distinct counts
    * in one partial agg, MATERIALIZED because both the CDF sweep and
    * the key totals read it (lazy, each re-ran the raw aggregate); the
    * CDF sweep is one window sort over that compressed table (bounded
    * by distinct values per key — the monitoring-table shape, never
    * raw event volume); the totals come straight off the grid and the
    * max is a key-keyed agg. Raw volume is read exactly once.
    * Deterministic: cumulative counts are exact integers, both engines
    * divide the same integers and round 6.
    *
    * Output: (key, n_ref, n_cur, ks, threshold, drifted). */
  def ksDrift(df: DataFrame, keyCol: String, valueCol: String,
              refPred: Column, curPred: Column): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    import Par.Mat
    val base = Par.ensure(df).filter(col(valueCol).isNotNull &&
        (refPred || curPred))
      .select(col(keyCol).as("key"), col(valueCol).as("v"),
        refPred.cast("long").as("ir"), curPred.cast("long").as("ic"))
      .groupBy($"key", $"v")
      .agg(sum($"ir").as("cr"), sum($"ic").as("cc"))
      // two consumers (the CDF window and the totals) — materialize the
      // (key, value)-distinct grid so raw volume is read exactly once
      .materialized()
    val w = Window.partitionBy($"key").orderBy($"v")
    val cum = base
      .withColumn("ar", sum($"cr").over(w))
      .withColumn("ac", sum($"cc").over(w))
    // totals straight off the grid (Σ counts == the window's final
    // cumulative — max(ar)/max(ac) re-ran the CDF window for a number
    // the grid already holds)
    val tot = base.groupBy($"key")
      .agg(sum($"cr").as("nr"), sum($"cc").as("nc"))
    cum.join(tot, Seq("key"))
      .select($"key", $"nr", $"nc",
        abs($"ar".cast("double") / when($"nr" > 0, $"nr".cast("double")) -
          $"ac".cast("double") / when($"nc" > 0, $"nc".cast("double")))
          .as("gap"))
      .groupBy($"key")
      .agg(max($"nr").cast("long").as("n_ref"),
        max($"nc").cast("long").as("n_cur"),
        // robust rounding, as in psiDrift
        (round(max($"gap") * 1e6) / 1e6).as("ks"))
      .select($"key", $"n_ref", $"n_cur", $"ks",
        // counts multiply AS DOUBLES: the Long product overflows past
        // ~3e9-row slices (the scale this is for), and under ANSI mode
        // that is a query-killing ARITHMETIC_OVERFLOW
        (round(lit(1.358) * sqrt(($"n_ref" + $"n_cur").cast("double") /
          when($"n_ref" > 0 && $"n_cur" > 0,
            $"n_ref".cast("double") * $"n_cur".cast("double"))) * 1e6)
          / 1e6).as("threshold"))
      .withColumn("drifted", $"ks" > $"threshold")
  }

  /** Weighted percentiles per group — the "median price weighted by
    * units sold" / "p90 doc length weighted by token count" shape,
    * where each value counts `weight` times. Semantics are the
    * lower-bound (type-1) quantile over the weighted distribution:
    * the smallest value whose CUMULATIVE weight reaches `p` of the
    * group total.
    *
    * The whole computation is INTEGER-exact, immune to float-sum
    * reassociation: weights quantize once to `round(w * weightScale)`
    * (exact when weights carry <= log10(weightScale) decimals), weight
    * mass pre-aggregates PER DISTINCT VALUE (so the cumulative sum is
    * over a total (group, value) order — no intra-tie float drift),
    * and each threshold test is the integer cross-multiplication
    * `cum * 1e6 >= round(p * 1e6) * tot`. Percentiles are thereby
    * quantized to ppm — nobody's p-value has more precision anyway.
    *
    * Scale shape: one (group, value)-keyed pre-agg with map-side
    * partials, then one group-partitioned window over DISTINCT values
    * only (bounded by value cardinality per group, not row count), one
    * final group agg. Output: (group, total_weight, p{NN}_weighted
    * per requested percentile). */
  def weightedPercentiles(df: DataFrame, groupCol: String,
                          valueCol: String, weightCol: String,
                          percentiles: Seq[Double] = Seq(0.5, 0.9),
                          weightScale: Long = 1000L): DataFrame = {
    require(percentiles.nonEmpty &&
      percentiles.forall(p => p > 0.0 && p <= 1.0),
      "percentiles must be in (0, 1]")
    require(weightScale >= 1L, "need weightScale >= 1")
    val spark = df.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val dv = df
      .filter(col(valueCol).isNotNull && col(weightCol).isNotNull)
      .select(col(groupCol).as("grp"), col(valueCol).as("v"),
        round(col(weightCol) * weightScale).cast("long").as("wt"))
      .groupBy($"grp", $"v")
      .agg(sum($"wt").cast("long").as("wt"))
    val wOrd = Window.partitionBy($"grp").orderBy($"v")
    val wAll = Window.partitionBy($"grp")
    val cum = dv
      .withColumn("cum", sum($"wt").over(wOrd).cast("long"))
      .withColumn("tot", sum($"wt").over(wAll).cast("long"))
    val pCols = percentiles.map { p =>
      val ppm = math.round(p * 1e6)
      val name = s"p${math.round(p * 100)}_weighted"
      min(when($"cum" * 1000000L >= lit(ppm) * $"tot", $"v")).as(name)
    }
    cum.groupBy($"grp")
      .agg((round(max($"tot").cast("double") / weightScale * 1e6) / 1e6)
        .as("total_weight"), pCols: _*)
  }

  /** Theil-Sen robust trend per key: the MEDIAN of all pairwise slopes
    * `(y_j - y_i) / (x_j - x_i)`, x_i < x_j — the trend estimator one
    * outlier day cannot drag (OLS breaks at a single bad point;
    * Theil-Sen tolerates ~29% contamination). The series-health view of
    * a feed: slope of daily volume, of mean quality score, of dup rate.
    *
    * The per-key pair expansion is quadratic in the key's DISTINCT x
    * count — inherent to the estimator — so keys with more than
    * `maxPoints` x values are dropped whole (the maxBasket rule; a
    * daily series is calendar-bounded, a key that blows the cap is
    * feeding sub-daily points to a daily estimator). Pairs stay inside
    * their key's partition: one (key, x)-keyed pre-agg collapses
    * duplicate x (summing y is the caller's job — this requires one y
    * per (key, x)), one self-join on the key, one median window over
    * the pair table.
    *
    * The median of an even pair count averages the two middle values;
    * ties among equal slopes make row_number's tie order irrelevant.
    * Output: (key, n_points, n_pairs, ts_slope) — slope rounded 6. */
  def theilSenSlope(df: DataFrame, keyCol: String, xCol: String,
                    yCol: String, maxPoints: Int = 1000): DataFrame = {
    require(maxPoints >= 2, "need maxPoints >= 2")
    val spark = df.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val pts = df.select(col(keyCol).as("key"),
        col(xCol).cast("long").as("x"), col(yCol).cast("double").as("y"))
      .filter($"x".isNotNull && $"y".isNotNull)
    val nPts = pts.groupBy($"key")
      .agg(count(lit(1)).cast("long").as("n_points"))
      .filter($"n_points" <= maxPoints.toLong && $"n_points" >= 2L)
    val kept = pts.join(nPts, Seq("key"))
    val pairs = kept.select($"key", $"x", $"y")
      .join(kept.select($"key", $"x".as("x2"), $"y".as("y2"),
        $"n_points"), Seq("key"))
      .filter($"x2" > $"x")
      .select($"key", $"n_points",
        (($"y2" - $"y") / ($"x2" - $"x").cast("double")).as("slope"))
    val w = Window.partitionBy($"key").orderBy($"slope")
    val ranked = pairs
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("m",
        count(lit(1)).over(Window.partitionBy($"key")).cast("long"))
    val mid = $"rn" * 2L === $"m" || $"rn" * 2L === $"m" + 2L ||
      ($"m" % 2L === 1L && $"rn" * 2L === $"m" + 1L)
    ranked.groupBy($"key")
      .agg(max($"n_points").as("n_points"),
        max($"m").as("n_pairs"),
        (round(avg(when(mid, $"slope")) * 1e6) / 1e6).as("ts_slope"))
  }

  /** Welch two-sample tests over every slice, with Benjamini-Hochberg
    * FDR control across the whole family — the canary battery a
    * pipeline runs per load ("did ANY (type, hour) slice's value
    * distribution move between arms?") where per-test alpha would
    * false-alarm daily at 120 tests.
    *
    * Arithmetic is exact-integer until the last step: values quantize
    * once to `round(v * valueScale)`, per-(slice, arm) sums are BIGINT
    * and sums of squares DECIMAL(38,0) (the q144 rank-sum rule — a
    * squared 1e5-scale value times a billion rows overflows int64),
    * so means/variances/t come out of identical integer inputs in any
    * engine. The p-value is the logistic approximation of the
    * two-sided normal tail, `2 / (1 + exp(1.702 |t|))` (Welch df ~
    * large; documented approximation, monotone in |t| so BH ordering
    * is unaffected). BH: rank p ascending, reject ranks up to the
    * LARGEST k with p_k <= k * alpha / m — implemented as one
    * ordered window over the test table (bounded by the slice
    * dictionary, not data volume) plus a broadcast one-row max.
    *
    * Output: (sliceCols..., n_a, n_b, t_stat, p_value, rnk, reject),
    * ordered by rnk; slices with under 2 rows per arm are excluded
    * (variance undefined). Result is Par.materialize-d (small by
    * construction: one row per slice). */
  def welchTestsBH(df: DataFrame, sliceCols: Seq[String],
                   valueCol: String, armA: Column, armB: Column,
                   alpha: Double = 0.1,
                   valueScale: Long = 1000L): DataFrame = {
    require(sliceCols.nonEmpty && alpha > 0.0 && alpha < 1.0,
      "need slice columns and alpha in (0, 1)")
    val spark = df.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    val slices = sliceCols.map(col)
    val v3 = round(col(valueCol) * valueScale).cast("long")
    def armStats(pred: Column, sfx: String): DataFrame =
      df.filter(pred && col(valueCol).isNotNull)
        .select((slices :+ v3.as("v")): _*)
        .groupBy(slices: _*)
        .agg(count(lit(1)).cast("long").as(s"n_$sfx"),
          sum($"v").cast("long").as(s"sv_$sfx"),
          sum(($"v".cast(DecimalType(38, 0)) * $"v")).as(s"ss_$sfx"))
    val joined = armStats(armA, "a").join(armStats(armB, "b"), sliceCols)
      .filter($"n_a" >= 2L && $"n_b" >= 2L)
    def mean(sv: Column, n: Column): Column =
      sv.cast("double") / n / valueScale
    def variance(ss: Column, n: Column, m: Column): Column =
      (ss.cast("double") / (valueScale * valueScale) - n * m * m) /
        when(n > 1L, n - 1L).cast("double")
    val mA = mean($"sv_a", $"n_a"); val mB = mean($"sv_b", $"n_b")
    val vA = variance($"ss_a", $"n_a", mA)
    val vB = variance($"ss_b", $"n_b", mB)
    val tStat = (mA - mB) / sqrt(vA / $"n_a" + vB / $"n_b")
    val tests = joined.select((slices ++ Seq($"n_a", $"n_b",
      tStat.as("t"),
      (lit(2.0) / (lit(1.0) + exp(lit(1.702) * abs(tStat)))).as("p"))): _*)
    val wAll = Window.orderBy(($"p" +: slices): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = tests
      .withColumn("rnk", row_number()
        .over(Window.orderBy(($"p" +: slices): _*)).cast("long"))
      .withColumn("m", count(lit(1))
        .over(Window.partitionBy()).cast("long"))
    val kmax = ranked
      .agg(coalesce(max(when($"p" <= $"rnk" * alpha / $"m", $"rnk")),
        lit(0L)).as("kmax"))
    val out = ranked.crossJoin(broadcast(kmax))
      .select((slices ++ Seq($"n_a", $"n_b",
        (round($"t" * 1e6) / 1e6).as("t_stat"),
        (round($"p" * 1e6) / 1e6).as("p_value"),
        $"rnk", ($"rnk" <= $"kmax").as("reject"))): _*)
      .orderBy($"rnk")
      .materialized()
    out
  }

  /** Trimmed mean per group: drop the lowest and highest
    * `floor(n * trimFrac)` rows by value and average the middle — the
    * robust location estimate a fat-tailed metric needs (one whale
    * order moves a plain mean; it never reaches a 10%-trimmed one).
    * Values quantize once to `round(v * valueScale)` so ranking,
    * trimming and summation are INTEGER-exact; the one division at the
    * end runs on identical integers in any engine. Ties at the trim
    * boundary cut by rank, which is value-stable: equal values carry
    * equal contribution wherever row_number breaks the tie.
    *
    * Scale shape: one group-partitioned rank window + one group agg.
    * The long sum bounds the domain at ~2^63/scale total mass per
    * group — past that, lift the sum to DECIMAL(38,0) (the q144 rule).
    * Output: (grp, n_rows, n_kept, trimmed_mean). */
  def trimmedMean(df: DataFrame, groupCol: String, valueCol: String,
                  trimFrac: Double = 0.1,
                  valueScale: Long = 100L): DataFrame = {
    require(trimFrac >= 0.0 && trimFrac < 0.5, "need trimFrac in [0, 0.5)")
    val spark = df.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // mass pre-aggregates PER DISTINCT VALUE (the weightedPercentiles
    // compression): the rank window then runs over value cardinality,
    // never raw row volume — a 3-group billion-row input would
    // otherwise sort 3 giant window partitions. A boundary value
    // straddling the trim cut keeps only its overlap with
    // [k+1, n-k]: kept = min(cum, n-k) - max(cum - cnt, k), clamped.
    val dv = df.filter(col(valueCol).isNotNull)
      .select(col(groupCol).as("grp"),
        round(col(valueCol) * valueScale).cast("long").as("v"))
      .groupBy($"grp", $"v")
      .agg(count(lit(1)).cast("long").as("cnt"))
    val cum = dv
      .withColumn("cum", sum($"cnt")
        .over(Window.partitionBy($"grp").orderBy($"v")).cast("long"))
      .withColumn("n", sum($"cnt")
        .over(Window.partitionBy($"grp")).cast("long"))
      .withColumn("k", floor($"n" * trimFrac).cast("long"))
    val kept = greatest(
      least($"cum", $"n" - $"k") - greatest($"cum" - $"cnt", $"k"),
      lit(0L))
    cum.groupBy($"grp")
      .agg(max($"n").as("n_rows"),
        sum(kept).cast("long").as("n_kept"),
        (round(sum(kept * $"v").cast("double") / sum(kept) / valueScale
          * 1e6) / 1e6).as("trimmed_mean"))
  }

  /** Gini concentration per group over a non-negative mass column —
    * the corpus-concentration audit ("is this source four giant dumps
    * and a million stubs, or evenly spread?"); 0 = uniform,
    * -> 1 = all mass in one row. Computed from the rank identity
    * `G = 2 Σ i·x_(i) / (n Σ x) - (n+1)/n` with INTEGER rank-mass
    * products in DECIMAL(38,0) (rank × mass × rows overflows int64
    * exactly in the regime this audits — the q144 rank-sum rule);
    * ties are rank-stable because equal masses contribute equally
    * under any tie order. One rank window + one group agg.
    * Output: (grp, n_rows, total_mass, gini). */
  def giniConcentration(df: DataFrame, groupCol: String,
                        massCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    // distinct-value compression (the weightedPercentiles rule): a tie
    // block of mass x spanning ranks (a, b] contributes
    // x * (b(b+1) - a(a+1)) / 2 to Σ i·x_(i) — algebraically identical
    // to the row-rank sum for ANY tie order, and the rank window now
    // runs over value cardinality instead of raw row volume
    val dv = df.filter(col(massCol).isNotNull && col(massCol) >= 0)
      .select(col(groupCol).as("grp"), col(massCol).cast("long").as("x"))
      .groupBy($"grp", $"x")
      .agg(count(lit(1)).cast("long").as("cnt"))
    val cum = dv.withColumn("b", sum($"cnt")
      .over(Window.partitionBy($"grp").orderBy($"x")).cast("long"))
    val bD = $"b".cast(DecimalType(38, 0))
    val aD = ($"b" - $"cnt").cast(DecimalType(38, 0))
    val blockS1 = ($"x".cast(DecimalType(38, 0)) *
      (bD * (bD + 1) - aD * (aD + 1)) / 2).cast(DecimalType(38, 0))
    cum.groupBy($"grp")
      .agg(sum($"cnt").cast("long").as("n_rows"),
        sum($"x" * $"cnt").cast("long").as("total_mass"),
        sum(blockS1).cast(DecimalType(38, 0)).as("s1"))
      .select($"grp", $"n_rows", $"total_mass",
        (round((lit(2.0) * $"s1".cast("double") /
          ($"n_rows".cast("double") *
            when($"total_mass" > 0L, $"total_mass").cast("double")) -
          ($"n_rows" + 1L).cast("double") / $"n_rows".cast("double"))
          * 1e6) / 1e6).as("gini"))
  }

  /** Single changepoint per key by binary segmentation: the split
    * minimizing total within-segment squared error — equivalently,
    * maximizing `gain = SSE_total - (SSE_left + SSE_right)` — over a
    * keyed series; the "did the feed change regime, and WHEN" question
    * CUSUM (q176) only answers with "somewhere recent". Every SSE term
    * comes off integer prefix sums (`Σx`, `Σx²` cumulative over the
    * (key, x-order) window) via `SSE = Σx² - (Σx)²/n`, so both engines
    * derive gain from identical integers through one identical
    * expression tree — the argmax order (gain desc, x asc) is then
    * bit-reproducible without any rounding knife edge. Candidate
    * splits leave at least one point on each side.
    *
    * Scale shape: one key-partitioned window pass over the series +
    * one argmax; series length per key is the usual calendar bound.
    * Output: (key, split_x, n_before, n_after, mean_before,
    * mean_after, gain). */
  def changepoint(df: DataFrame, keyCol: String, xCol: String,
                  yCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val pts = df.select(col(keyCol).as("key"), col(xCol).as("x"),
        col(yCol).cast("long").as("v"))
      .filter($"x".isNotNull && $"v".isNotNull)
    val wOrd = Window.partitionBy($"key").orderBy($"x")
    val wAll = Window.partitionBy($"key")
    val r = pts
      .withColumn("i", row_number().over(wOrd).cast("long"))
      .withColumn("cs", sum($"v").over(wOrd).cast("long"))
      .withColumn("css", sum($"v" * $"v").over(wOrd).cast("long"))
      .withColumn("ts", sum($"v").over(wAll).cast("long"))
      .withColumn("tss", sum($"v" * $"v").over(wAll).cast("long"))
      .withColumn("n", count(lit(1)).over(wAll).cast("long"))
      .filter($"i" < $"n")
    val gain =
      ($"tss".cast("double") - $"ts".cast("double") * $"ts" / $"n") -
        (($"css".cast("double") - $"cs".cast("double") * $"cs" / $"i") +
          (($"tss" - $"css").cast("double") -
            ($"ts" - $"cs").cast("double") * ($"ts" - $"cs") /
              ($"n" - $"i")))
    val ranked = r.withColumn("gain", gain)
      .withColumn("rk", row_number().over(
        Window.partitionBy($"key").orderBy($"gain".desc, $"x")))
    ranked.filter($"rk" === 1)
      .select($"key", $"x".as("split_x"),
        $"i".as("n_before"), ($"n" - $"i").as("n_after"),
        (round($"cs".cast("double") / $"i" * 1e6) / 1e6)
          .as("mean_before"),
        (round(($"ts" - $"cs").cast("double") / ($"n" - $"i") * 1e6)
          / 1e6).as("mean_after"),
        (round($"gain" * 1e6) / 1e6).as("gain"))
  }

  /** Seasonal-naive forecast backtest: score "tomorrow looks like the
    * same weekday last week" (lag-`season`) against the naive lag-1
    * baseline on the rows where BOTH have a prediction, and report
    * MASE = MAE_seasonal / MAE_naive — under 1 means the seasonal
    * structure is real and a forecaster should use it; the go/no-go a
    * pipeline wants before fitting anything. Absolute errors are
    * integer (counts), so both MAE sums are exact; the single ratio is
    * the only float op. One key-partitioned window pass + one agg.
    * Output: (key, n_scored, mae_seasonal_sum, mae_naive_sum, mase). */
  def maseBacktest(df: DataFrame, keyCol: String, xCol: String,
                   yCol: String, season: Int = 7): DataFrame = {
    require(season >= 2, "need season >= 2 (season 1 IS the baseline)")
    val spark = df.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"key").orderBy($"x")
    val f = df.select(col(keyCol).as("key"), col(xCol).as("x"),
        col(yCol).cast("long").as("v"))
      .filter($"x".isNotNull && $"v".isNotNull)
      .withColumn("sn", lag($"v", season).over(w))
      .withColumn("n1", lag($"v", 1).over(w))
      .filter($"sn".isNotNull && $"n1".isNotNull)
    f.groupBy($"key")
      .agg(count(lit(1)).cast("long").as("n_scored"),
        sum(abs($"v" - $"sn")).cast("long").as("mae_seasonal_sum"),
        sum(abs($"v" - $"n1")).cast("long").as("mae_naive_sum"))
      .select($"key", $"n_scored", $"mae_seasonal_sum", $"mae_naive_sum",
        (round($"mae_seasonal_sum".cast("double") /
          when($"mae_naive_sum" > 0L, $"mae_naive_sum").cast("double")
          * 1e6) / 1e6).as("mase"))
  }

  /** Holt double-exponential smoothing per key — level + trend state
    * folded over the day series, forecast = level + trend one step
    * out; the first real forecaster in the family lagFeatures (q217)
    * feeds and maseBacktest (q220) gatekeeps. A per-key RECURRENCE is
    * the classic Spark anti-shape (a driver loop per step, or a
    * checkpoint per day); here the calendar-bounded series collects
    * into ONE array per key and the whole recurrence runs as a single
    * map-side `aggregate()` higher-order fold — zero iterations in the
    * plan, one exchange total (the collect_list agg). The oracle folds
    * the identical sequence with DuckDB's list_reduce over the same
    * struct state, with the smoothing constants spelled as the same
    * literals so both engines iterate the same IEEE recurrence.
    *
    * Init: level = first value, trend = 0 (the zero-history start; a
    * one-point series forecasts itself). Output: (key, n_points,
    * level, trend, forecast_next), doubles rounded 6. */
  def holtSmoothing(df: DataFrame, keyCol: String, xCol: String,
                    yCol: String, alpha: Double = 0.3,
                    beta: Double = 0.1): DataFrame = {
    require(alpha > 0.0 && alpha < 1.0 && beta > 0.0 && beta < 1.0,
      "need alpha, beta in (0, 1)")
    val spark = df.sparkSession
    import spark.implicits._
    val series = df
      .filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .select(col(keyCol).as("key"), col(xCol).as("x"),
        col(yCol).cast("double").as("v"))
      .groupBy($"key")
      .agg(transform(sort_array(collect_list(struct($"x", $"v"))),
        e => e.getField("v")).as("vals"))
    // l' = a·x + (1-a)(l + b); b' = β(l' - l) + (1-β)b — l' spelled
    // out twice so the oracle's identical duplication yields the same
    // doubles (no CSE changes values, only work)
    def lNext(acc: Column, x: Column): Column =
      lit(alpha) * x + lit(1.0 - alpha) *
        (acc.getField("l") + acc.getField("b"))
    val folded = series.select($"key",
      size($"vals").cast("long").as("n_points"),
      aggregate(
        slice($"vals", lit(2), greatest(size($"vals") - 1, lit(0))),
        struct(element_at($"vals", 1).as("l"), lit(0.0).as("b")),
        (acc, x) => struct(
          lNext(acc, x).as("l"),
          (lit(beta) * (lNext(acc, x) - acc.getField("l")) +
            lit(1.0 - beta) * acc.getField("b")).as("b"))).as("st"))
    folded.select($"key", $"n_points",
      (round($"st.l" * 1e6) / 1e6).as("level"),
      (round($"st.b" * 1e6) / 1e6).as("trend"),
      (round(($"st.l" + $"st.b") * 1e6) / 1e6).as("forecast_next"))
  }

  /** Pearson correlation per group between two quantized columns —
    * "does quantity track price within each segment", the first
    * question an elasticity or data-leakage probe asks. Computed from
    * the five integer power sums via
    * `r = (n·Sxy − Sx·Sy) / sqrt((n·Sxx − Sx²)(n·Syy − Sy²))` with
    * products summed in DECIMAL(38,0) (the q144 rule — a squared
    * 1e7-scale value times a billion rows overflows int64), so both
    * engines derive r from identical integers through one identical
    * tree. Zero-variance groups null (correlation undefined, not 0).
    * One keyed aggregate, map-side partials, nothing else.
    * Output: (grp, n, pearson_r). */
  def pearsonByGroup(df: DataFrame, groupCol: String, xCol: String,
                     yCol: String, xScale: Long = 1L,
                     yScale: Long = 100L): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.types.DecimalType
    val w = df
      .filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .select(col(groupCol).as("grp"),
        round(col(xCol) * xScale).cast("long").as("x"),
        round(col(yCol) * yScale).cast("long").as("y"))
    val s = w.groupBy($"grp").agg(
      count(lit(1)).cast("long").as("n"),
      sum($"x").cast("long").as("sx"),
      sum($"y").cast("long").as("sy"),
      sum(($"x".cast(DecimalType(38, 0)) * $"x")).as("sxx"),
      sum(($"y".cast(DecimalType(38, 0)) * $"y")).as("syy"),
      sum(($"x".cast(DecimalType(38, 0)) * $"y")).as("sxy"))
    val denom = sqrt(($"n" * $"sxx".cast("double") -
      $"sx".cast("double") * $"sx") *
      ($"n" * $"syy".cast("double") - $"sy".cast("double") * $"sy"))
    s.select($"grp", $"n",
      (round(($"n" * $"sxy".cast("double") -
        $"sx".cast("double") * $"sy") /
        when(denom > 0.0, denom) * 1e6) / 1e6).as("pearson_r"))
  }

  /** Hampel despiking filter per key: each point compares against the
    * MEDIAN of its ±halfWindow neighborhood, flags as a spike when
    * `|v - med| > nSigma * 1.4826 * MAD` (1.4826 scales MAD to a
    * Gaussian sigma), and the filtered series replaces spikes with the
    * rolling median — the standard sensor/telemetry despiker, robust
    * where a rolling MEAN would drag toward the very spike it should
    * remove. Edge windows shrink (a series start is judged against
    * what exists, not padded zeros); a zero-MAD window (all neighbors
    * equal) flags ANY deviation, the filter's textbook degenerate
    * behavior.
    *
    * Shape: ONE key-partitioned window sort collects each ±k
    * neighborhood as a (2k+1)-bounded array; medians/MADs are
    * map-side array folds from there — no per-row re-sorts of raw
    * volume, no self-joins. Integer inputs make every median an exact
    * .0/.5 double, so the oracle replays bit-for-bit. Output:
    * (key, x, v, med, mad, is_spike, filtered). */
  def hampelFilter(df: DataFrame, keyCol: String, xCol: String,
                   yCol: String, halfWindow: Int = 3,
                   nSigma: Double = 3.0): DataFrame = {
    require(halfWindow >= 1 && nSigma > 0.0,
      "need halfWindow >= 1 and nSigma > 0")
    val spark = df.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    def medOf(arr: Column): Column = {
      val s = sort_array(arr)
      val n = size(arr)
      when(n % 2 === 1,
        element_at(s, ((n + 1) / lit(2)).cast("int")).cast("double"))
        .otherwise((element_at(s, (n / lit(2)).cast("int")).cast("double")
          + element_at(s, (n / lit(2)).cast("int") + 1)) / 2.0)
    }
    val w = Window.partitionBy($"key").orderBy($"x")
      .rowsBetween(-halfWindow, halfWindow)
    val arr = df.select(col(keyCol).as("key"), col(xCol).as("x"),
        col(yCol).cast("long").as("v"))
      .filter($"x".isNotNull && $"v".isNotNull)
      .withColumn("l", collect_list($"v").over(w))
    val withMed = arr.withColumn("med", medOf($"l"))
    val withMad = withMed.withColumn("mad",
      medOf(transform($"l", a => abs(a - $"med"))))
    val spike = abs($"v" - $"med") >
      lit(nSigma) * lit(1.4826) * $"mad"
    withMad.select($"key", $"x", $"v", $"med", $"mad",
      spike.as("is_spike"),
      when(spike, $"med").otherwise($"v".cast("double")).as("filtered"))
  }

  /** Split-conformal calibration gate per slice: the distribution-free
    * interval check a scoring pipeline runs before shipping a model —
    * calibration rows set `qhat` = the `ceil((1-alpha)(n+1))`-th
    * smallest absolute residual around the calibration mean, test rows
    * then measure EMPIRICAL coverage of `mean ± qhat`; split-conformal
    * guarantees >= 1-alpha coverage in expectation WITHOUT any
    * distributional assumption, so a slice whose measured coverage
    * falls below `minCoverage` has genuinely shifted between the
    * splits. Values quantize once (integer sums -> identical means in
    * any engine); the quantile rank test is the integer
    * cross-multiplication `rn * 1e6 >= round((1-alpha)*1e6) * (n+1)`;
    * residual ties make row_number's tie order irrelevant (min over
    * the qualifying set IS the order statistic).
    *
    * Scale shape: two slice-keyed aggs + one rank window over
    * calibration rows + one slice-keyed coverage agg — no windows over
    * test data, nothing driver-side. Output: (key, n_cal, n_test,
    * mean_cal, qhat, coverage, calibrated). */
  def conformalGate(df: DataFrame, sliceCol: String, valueCol: String,
                    calibPred: Column, alpha: Double = 0.1,
                    minCoverage: Double = 0.85,
                    valueScale: Long = 1000L): DataFrame = {
    require(alpha > 0.0 && alpha < 1.0 && minCoverage > 0.0 &&
      minCoverage < 1.0, "need alpha, minCoverage in (0, 1)")
    val spark = df.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val ppm = math.round((1.0 - alpha) * 1e6)
    val base = df.filter(col(valueCol).isNotNull)
      .select(col(sliceCol).as("key"),
        round(col(valueCol) * valueScale).cast("long").as("v"),
        calibPred.as("is_cal"))
    val cal = base.filter($"is_cal")
    val mu = cal.groupBy($"key")
      .agg(count(lit(1)).cast("long").as("n_cal"),
        (sum($"v").cast("double") / count(lit(1)) / valueScale)
          .as("mean_cal"))
    // residuals pre-aggregate per DISTINCT value (the
    // weightedPercentiles compression — equal v means equal r), so the
    // quantile window runs over value cardinality, not raw calibration
    // volume; the order statistic is unchanged: min(r) over the ranks
    // at-or-past the cut is the same r whether ties occupy one row or
    // many
    val res = cal.groupBy($"key", $"v")
      .agg(count(lit(1)).cast("long").as("cnt"))
      .join(mu, Seq("key"))
      .select($"key", $"cnt", $"n_cal", $"mean_cal",
        abs($"v".cast("double") / valueScale - $"mean_cal").as("r"))
    val qh = res
      .withColumn("cum", sum($"cnt")
        .over(Window.partitionBy($"key").orderBy($"r")).cast("long"))
      .groupBy($"key")
      .agg(max($"n_cal").as("n_cal"), max($"mean_cal").as("mean_cal"),
        min(when($"cum" * 1000000L >= lit(ppm) * ($"n_cal" + 1L), $"r"))
          .as("qhat"))
    val cov = base.filter(!$"is_cal").join(qh, Seq("key"))
      .groupBy($"key")
      .agg(count(lit(1)).cast("long").as("n_test"),
        sum(when(abs($"v".cast("double") / valueScale - $"mean_cal")
          <= $"qhat", 1L).otherwise(0L)).cast("long").as("covered"))
    qh.join(cov, Seq("key"))
      .select($"key", $"n_cal", $"n_test",
        (round($"mean_cal" * 1e6) / 1e6).as("mean_cal"),
        (round($"qhat" * 1e6) / 1e6).as("qhat"),
        (round($"covered".cast("double") /
          when($"n_test" > 0L, $"n_test").cast("double") * 1e6) / 1e6)
          .as("coverage"),
        ($"covered".cast("double") /
          when($"n_test" > 0L, $"n_test").cast("double") >= minCoverage)
          .as("calibrated"))
  }

  /** Chi-square independence cells for two categorical columns: the
    * full r x c contingency grid with observed counts, expected counts
    * under independence (row_total * col_total / n), and each cell's
    * chi-square contribution (o-e)^2/e — the categorical-association
    * audit (is `lang` independent of `source`?); summing the
    * contribution column gives the chi-square statistic on
    * (r-1)(c-1) degrees of freedom.
    *
    * Shape: ONE keyed aggregate over raw volume to the observed cells;
    * margins re-aggregate the CELLS (dictionary-sized), and the r x c
    * grid is a broadcast nested-loop of margin x margin — raw rows
    * never cross-join. Zero-observed cells still emit (the statistic
    * needs them). Null categories are excluded. */
  def chiSquareCells(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    import Par.Mat
    // four consumers read the contingency grid (row marginals, column
    // marginals, the total, and the final cell join) — materialize it
    // so raw volume is read exactly once per call
    val obs = Par.ensure(df)
      .filter(col(aCol).isNotNull && col(bCol).isNotNull)
      .groupBy(col(aCol).as("a"), col(bCol).as("b"))
      .agg(count(lit(1)).cast("long").as("n"))
      .materialized()
    val ra = obs.groupBy($"a").agg(sum($"n").cast("long").as("row_n"))
    val cb = obs.groupBy($"b").agg(sum($"n").cast("long").as("col_n"))
    val tot = obs.agg(sum($"n").cast("long").as("tot"))
    val e = $"row_n".cast("double") * $"col_n".cast("double") /
      when($"tot" > 0L, $"tot").cast("double")
    ra.join(broadcast(cb), lit(true))
      .join(broadcast(tot), lit(true))
      .join(obs, Seq("a", "b"), "left")
      .withColumn("observed_n", coalesce($"n", lit(0L)))
      .withColumn("expected", e)
      .select($"a", $"b", $"observed_n",
        (round($"expected" * 1e6) / 1e6).as("expected"),
        (round(($"observed_n".cast("double") - $"expected") *
          ($"observed_n".cast("double") - $"expected") /
          when($"expected" > 0.0, $"expected") * 1e6) / 1e6)
          .as("chi2_contrib"))
  }

  /** Quantile normalization mapping per group: each (group, value) maps
    * to the SMALLEST pooled value whose pooled CDF reaches the group
    * CDF — the batch-effect correction that puts every group on one
    * common distribution (microarray lineage; for a data pipeline:
    * align per-source quality/length scores before a global threshold,
    * so a lenient scorer's 0.8 and a strict scorer's 0.5 land at the
    * same pooled quantile). The output is the value-grid-sized mapping
    * TABLE; a serving join applies it.
    *
    * Scale shape: rows compress to per-(group, value) counts and
    * per-pooled-value counts FIRST. The pooled CDF is a two-level
    * distributed prefix sum (the tokenBudgetShards shape:
    * range-partition by value, per-partition running totals, a
    * broadcast per-partition offset table — the only unpartitioned
    * window runs over that <= numPartitions-row table, never a grid).
    * The quantile lookup is a BUCKETED range join: each pooled value
    * owns the half-open CDF interval (prev_cdf, cdf] — the intervals
    * partition (0, 1] exactly, because consecutive rows derive lo and
    * hi from the SAME integer cumulative counts — and intervals
    * explode to the <= 4096 cdf buckets they overlap (<= grid + 4096
    * rows total), group rows hash-join their bucket, one residual
    * interval test picks the exactly-one owner. No group x pooled
    * cross term and no grid-sized sort task exist anywhere (a naive
    * `pcdf >= gcdf` join is grid², and the union-grid as-of window —
    * this op's previous shape — serialized groups x grid rows through
    * ONE sort task). CDFs are exact integer ratios, so both engines
    * compare identical doubles; a group cdf exactly equal to a pooled
    * cdf maps to that pooled value (intervals are right-closed, the
    * old tag tie-break). Output: (grp, value, n, gcdf, normalized). */
  def quantileNormalize(df: DataFrame, groupCol: String,
                        valueCol: String,
                        scale: Long = 100L): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Par.ensure(df).filter(col(valueCol).isNotNull)
      .select(col(groupCol).as("grp"),
        round(col(valueCol) * scale).cast("long").as("v"))
    // (grp, v) counts feed the group totals, the CDF window, the final
    // bucket join, AND the pooled distribution — the corpus scans ONCE
    // into this compressed grid (<= one row per distinct (group,
    // value)); materialize stops the agg re-running per consumer
    val g = w.groupBy($"grp", $"v")
      .agg(count(lit(1)).cast("long").as("n"))
      .materialized()
    val gt = g.groupBy($"grp").agg(sum($"n").cast("long").as("gt"))
    val wg = Window.partitionBy($"grp").orderBy($"v")
      .rowsBetween(Window.unboundedPreceding, 0)
    val gcdf = g.join(gt, Seq("grp"))
      .withColumn("cdf", sum($"n").over(wg).cast("double") /
        $"gt".cast("double"))
      .select($"grp", $"v", $"n", $"cdf")
    // the pooled per-value counts are the group grid FOLDED over grp
    // (Σ_grp count(grp, v) = count(v), exactly) — deriving them from the
    // checkpointed grid removes what used to be a SECOND corpus scan
    val p = g.groupBy($"v").agg(sum($"n").cast("long").as("pn"))
    val pt = p.agg(sum($"pn").cast("long").as("pt"))
    // pooled-value count for the BUCKET DIAL below (nB): derived from
    // the materialized g via approx_count_distinct — one
    // partial-aggregated pass over checkpointed blocks; an EXACT
    // distinct cost a measured ~0.7 s extra shuffle job here, and the
    // dial needs no exactness (nB never changes the output, only
    // candidate volume). The pooled-CDF cumulative's own single-task-
    // vs-distributed gate lives inside gridCumSum, which counts its
    // materialized grid exactly.
    val grid = g.agg(approx_count_distinct($"v")).head.getLong(0)
    // each pooled value's CDF interval (lo, hi]: hi = cum/pt and
    // lo = (cum - pn)/pt — the previous row computes ITS hi from the
    // identical integers, so consecutive intervals share their exact
    // boundary double and the intervals partition (0, 1]. The gated
    // cumulative itself lives in [[gridCumSum]] (one window task below
    // the gate, the two-level distributed prefix sum above) — shared
    // with equalFreqBins/kruskalWallis so the ordering-invariant
    // machinery has ONE definition.
    val pIv = gridCumSum(p, "v", "pn", "cum", sizeHint = Some(grid))
      .crossJoin(broadcast(pt))
      .select($"v".as("pvl"),
        (($"cum" - $"pn").cast("double") / $"pt".cast("double")).as("lo"),
        ($"cum".cast("double") / $"pt".cast("double")).as("hi"))
    // bucketed as-of with an ADAPTIVE bucket count ~ the pooled grid
    // size: an interval explodes to every bucket it overlaps (total
    // <= grid + nB rows — an interval spanning k extra buckets carries
    // >= k/nB of ALL pooled mass), group rows hash-join their one
    // bucket. The bucket count is the cross-term dial: the join emits
    // ~ groupGrid x grid / nB candidate rows before the residual interval
    // test, so a FIXED 4096 against a 10^5-10^6-value grid
    // (l_extendedprice-like continuous columns) manufactures a 100x
    // row blow-up the filter then discards; nB ~ grid keeps candidates
    // ~ groupGrid at the price of <= grid extra explode rows. Bounded to
    // [4096, 1<<22] so tiny inputs keep dense buckets and the explode
    // stays sane at any scale. nB never changes the OUTPUT (exact
    // interval ownership) — only the candidate volume.
    val nB = math.min(math.max(grid, 4096L), 1L << 22)
    val pBuck = pIv.select($"pvl", $"lo", $"hi",
      explode(sequence(
        least(floor($"lo" * nB), lit(nB - 1L)).cast("long"),
        least(floor($"hi" * nB), lit(nB - 1L)).cast("long"))).as("bk"))
    gcdf
      .withColumn("bk", least(floor($"cdf" * nB), lit(nB - 1L)).cast("long"))
      .join(pBuck, Seq("bk"))
      .filter($"lo" < $"cdf" && $"cdf" <= $"hi")
      .select($"grp", ($"v".cast("double") / scale).as("value"), $"n",
        (round($"cdf" * 1e6) / 1e6).as("gcdf"),
        round($"pvl".cast("double") / scale, 6).as("normalized"))
  }

  /** Cramér's V over the [[chiSquareCells]] grid: the [0, 1] effect-size
    * normalization `V = sqrt(chi2 / (n * (min(r,c) - 1)))` that makes
    * association strengths comparable ACROSS tables — a chi2 of 10^6 on
    * a 10^8-row feed is nothing, and the raw statistic can't say so.
    * Reported with the grid dimensions and degrees of freedom so the
    * reader can judge the test, not just the number.
    *
    * Exactness: the per-cell contributions arrive ROUNDED to 6 from
    * chiSquareCells, so chi2 is a sum of scaled integers — partition
    * order cannot move it, and the oracle replays the identical fold.
    * Degenerate grids (a single row or column level — dof 0) null V.
    * Shape: everything after the one raw-volume cell agg is
    * dictionary-sized. Output: 1 row (n, r_levels, c_levels, dof,
    * chi2, cramers_v). */
  def cramersV(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    chiSquareCells(df, aCol, bCol)
      .agg(sum($"observed_n").cast("long").as("n"),
        count_distinct($"a").cast("long").as("r_levels"),
        count_distinct($"b").cast("long").as("c_levels"),
        (round(sum(round($"chi2_contrib" * 1e6).cast("long")) / 1e6
          * 1e6) / 1e6).as("chi2"))
      .select($"n", $"r_levels", $"c_levels",
        (($"r_levels" - 1L) * ($"c_levels" - 1L)).as("dof"),
        $"chi2",
        (round(sqrt($"chi2" /
          when($"n" > 0L && least($"r_levels", $"c_levels") > 1L,
            $"n".cast("double") *
              (least($"r_levels", $"c_levels") - 1L).cast("double")))
          * 1e6) / 1e6).as("cramers_v"))
  }

  /** Mutual information between two categorical columns (nats), with
    * both marginal entropies and the sqrt-normalized NMI in [0, 1] —
    * the feature-relevance / redundancy number for categorical pairs
    * (label vs metadata, source vs language): MI 0 means knowing one
    * says nothing about the other, NMI 1 means they determine each
    * other. `I = sum over observed cells of p_ij * ln(p_ij / (p_i
    * q_j))`; zero cells contribute 0 by continuity and never enter.
    *
    * Shape: ONE keyed aggregate over raw volume to the observed cells,
    * margins re-aggregate the CELLS, the term join is cell x broadcast
    * margins — dictionary-sized throughout. Per-cell and per-margin
    * terms round to 9 places and sum as scaled integers. Null
    * categories are excluded. Output: 1 row (n, n_cells, mi, h_a,
    * h_b, nmi) — nmi null when either marginal entropy is 0 (a
    * constant column carries no information to normalize by). */
  def mutualInformation(df: DataFrame, aCol: String,
                        bCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    import Par.Mat
    // five consumers read the contingency grid (both marginals, the
    // total, and the MI join; the marginals feed the entropy aggs too)
    // — materialize it so raw volume is read exactly once per call
    val obs = Par.ensure(df)
      .filter(col(aCol).isNotNull && col(bCol).isNotNull)
      .groupBy(col(aCol).as("a"), col(bCol).as("b"))
      .agg(count(lit(1)).cast("long").as("n"))
      .materialized()
    val ra = obs.groupBy($"a").agg(sum($"n").cast("long").as("row_n"))
    val cb = obs.groupBy($"b").agg(sum($"n").cast("long").as("col_n"))
    val tot = obs.agg(sum($"n").cast("long").as("tot"))
    def ent(cnt: Column, total: Column): Column = {
      val p = cnt.cast("double") / when(total > 0L, total).cast("double")
      round(-p * log(p) * 1e9).cast("long")
    }
    val ha = ra.crossJoin(broadcast(tot))
      .agg((round(sum(ent($"row_n", $"tot")) / 1e9 * 1e6) / 1e6)
        .as("h_a"))
    val hb = cb.crossJoin(broadcast(tot))
      .agg((round(sum(ent($"col_n", $"tot")) / 1e9 * 1e6) / 1e6)
        .as("h_b"))
    val pij = $"n".cast("double") /
      when($"tot" > 0L, $"tot").cast("double")
    val lift = $"n".cast("double") * $"tot".cast("double") /
      ($"row_n".cast("double") * $"col_n".cast("double"))
    val term = round(pij * log(lift) * 1e9).cast("long")
    obs.join(broadcast(ra), Seq("a"))
      .join(broadcast(cb), Seq("b"))
      .crossJoin(broadcast(tot))
      .agg(max($"tot").as("n"),
        count(lit(1)).cast("long").as("n_cells"),
        (round(sum(term) / 1e9 * 1e6) / 1e6).as("mi"))
      .crossJoin(broadcast(ha))
      .crossJoin(broadcast(hb))
      .select($"n", $"n_cells", $"mi", $"h_a", $"h_b",
        (round($"mi" / when($"h_a" > 0.0 && $"h_b" > 0.0,
          sqrt($"h_a" * $"h_b")) * 1e6) / 1e6).as("nmi"))
  }

  /** Sample autocorrelation of a per-key integer series at calendar
    * lags 1..maxLag: for each (key, lag), the Pearson correlation over
    * all pairs (x at day d, x at day d+lag) — the seasonality/
    * persistence fingerprint (a weekly cycle spikes lag 7; white noise
    * sits near 0 everywhere). Pairs align by CALENDAR day, not row
    * order, so gaps pair nothing rather than silently shifting the
    * series.
    *
    * Shape: the series arrives pre-aggregated (key, day, x) — tiny
    * relative to raw volume — is fanned out maxLag ways, and re-joins
    * itself on the shifted (key, day) equi-key; one keyed aggregate
    * derives r from the five integer power sums (the q231 parity
    * tree: products summed in DECIMAL(38,0), zero-variance lags null).
    * Output: (key, lag_days, n, acf_r). */
  def acfByKey(series: DataFrame, keyCol: String, dayCol: String,
               xCol: String, maxLag: Int): DataFrame = {
    require(maxLag >= 1, "maxLag must be >= 1")
    val spark = series.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.types.DecimalType
    val s = series.select(col(keyCol).as("key"), col(dayCol).as("day"),
      col(xCol).cast("long").as("x"))
    val fan = s.select($"key", $"day", $"x".as("x0"),
        explode(sequence(lit(1), lit(maxLag))).as("lag_days"))
      .withColumn("day2", date_add($"day", $"lag_days"))
    val pairs = fan.join(
      s.select($"key", $"day".as("day2"), $"x".as("x1")),
      Seq("key", "day2"))
    val g = pairs.groupBy($"key", $"lag_days").agg(
      count(lit(1)).cast("long").as("n"),
      sum($"x0").cast("long").as("sx"),
      sum($"x1").cast("long").as("sy"),
      sum(($"x0".cast(DecimalType(38, 0)) * $"x0")).as("sxx"),
      sum(($"x1".cast(DecimalType(38, 0)) * $"x1")).as("syy"),
      sum(($"x0".cast(DecimalType(38, 0)) * $"x1")).as("sxy"))
    val denom = sqrt(($"n" * $"sxx".cast("double") -
      $"sx".cast("double") * $"sx") *
      ($"n" * $"syy".cast("double") - $"sy".cast("double") * $"sy"))
    g.select($"key", $"lag_days", $"n",
      (round(($"n" * $"sxy".cast("double") -
        $"sx".cast("double") * $"sy") /
        when(denom > 0.0, denom) * 1e6) / 1e6).as("acf_r"))
  }

  /** Mann-Kendall trend test per key: S = sum over all day pairs
    * (i < j) of sign(x_j - x_i), its tie-corrected variance
    * (n(n-1)(2n+5) - sum over tie groups t(t-1)(2t+5)) / 18, and the
    * continuity-corrected normal z = (S - sign(S)) / sqrt(var) — the
    * nonparametric "is this series trending" companion to
    * [[theilSenSlope]] (that one sizes the trend, this one scores its
    * significance; neither assumes normal residuals).
    *
    * Scale shape: the input series arrives pre-aggregated (key, day,
    * x), so the pairwise self-join is CALENDAR-bounded per key (30
    * days = 435 pairs regardless of raw volume underneath); every
    * statistic is an exact integer until the final /18 and z, which
    * both engines derive from identical longs. Output:
    * (key, n, s_stat, var_s, z); z null when var is 0 (n < 2 or all
    * tied). */
  def mannKendall(series: DataFrame, keyCol: String, dayCol: String,
                  xCol: String): DataFrame = {
    val spark = series.sparkSession
    import spark.implicits._
    val s = series.select(col(keyCol).as("key"), col(dayCol).as("day"),
      col(xCol).cast("long").as("x"))
    val pairs = s.select($"key", $"day", $"x").as("a")
      .join(s.select($"key".as("kb"), $"day".as("db"), $"x".as("xb")),
        $"key" === $"kb" && $"day" < $"db")
      .select($"key",
        signum(($"xb" - $"x").cast("double")).cast("long").as("sgn"))
    val sAgg = pairs.groupBy($"key")
      .agg(sum($"sgn").cast("long").as("s_stat"))
    val nAgg = s.groupBy($"key").agg(count(lit(1)).cast("long").as("n"))
    val ties = s.groupBy($"key", $"x")
      .agg(count(lit(1)).cast("long").as("t"))
      .groupBy($"key")
      .agg(sum($"t" * ($"t" - 1L) * (lit(2L) * $"t" + 5L))
        .cast("long").as("tie_term"))
    val varS = ($"n" * ($"n" - 1L) * (lit(2L) * $"n" + 5L) - $"tie_term")
      .cast("double") / 18.0
    // LEFT join + coalesce: a single-day key has NO pairs, so it is
    // absent from the pair aggregate — it must still report (S=0,
    // var 0, z null), not silently vanish (the bootstrapMeanCI rule)
    nAgg.join(sAgg, Seq("key"), "left").join(ties, Seq("key"))
      .withColumn("s_stat", coalesce($"s_stat", lit(0L)))
      .select($"key", $"n", $"s_stat",
        (round(varS * 1e6) / 1e6).as("var_s"),
        (round(($"s_stat".cast("double") -
          signum($"s_stat".cast("double"))) /
          when(sqrt(varS) > 0.0, sqrt(varS)) * 1e6) / 1e6).as("z"))
  }

  /** Fano factor (index of dispersion) per key: sample variance over
    * mean of the daily count series — the is-this-traffic-Poisson
    * readout (Poisson arrivals sit at 1; bursty/bot traffic runs well
    * above, metronomic schedulers below) that tells a monitor whether
    * a z-score threshold is even meaningful for this key. Exact
    * integer power sums (the q231 tree); keys with < 2 days or zero
    * mean null the factor. Output: (key, n_days, mean, variance,
    * fano). */
  def fanoFactor(series: DataFrame, keyCol: String,
                 xCol: String): DataFrame = {
    val spark = series.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.types.DecimalType
    import Par.safeDiv
    val g = series
      .select(col(keyCol).as("key"), col(xCol).cast("long").as("x"))
      .groupBy($"key")
      .agg(count(lit(1)).cast("long").as("n"),
        sum($"x").cast("long").as("sx"),
        sum(($"x".cast(DecimalType(38, 0)) * $"x")).as("sxx"))
    val mean = safeDiv($"sx".cast("double"), $"n".cast("double"))
    val variance = ($"n" * $"sxx".cast("double") -
      $"sx".cast("double") * $"sx") /
      when($"n" * ($"n" - 1L) > 0L, $"n" * ($"n" - 1L)).cast("double")
    g.select($"key", $"n".as("n_days"),
      (round(mean * 1e6) / 1e6).as("mean"),
      (round(variance * 1e6) / 1e6).as("variance"),
      (round(variance / when(mean > 0.0, mean) * 1e6) / 1e6).as("fano"))
  }

  /** Calendar-spine gap fill with last-observation-carried-forward:
    * each key's series is completed to EVERY day between its own first
    * and last observation, missing days flagged (`was_gap`) and filled
    * with the most recent reading — the regularization every
    * downstream window/lag/ACF op silently assumes (a gap-blind lag
    * pairs week-apart readings as neighbors). The spine starts at each
    * key's own min day, so `filled` is never null.
    *
    * Shape: the series arrives pre-aggregated; the spine is
    * `sequence(min, max)` per key — calendar-bounded — and the fill is
    * ONE key-partitioned window `last(x, ignoreNulls)` over spine
    * rows, never raw volume. Output: (key, day, filled, was_gap). */
  def locfGapfill(series: DataFrame, keyCol: String, dayCol: String,
                  xCol: String): DataFrame = {
    val spark = series.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val s = series.select(col(keyCol).as("key"), col(dayCol).as("day"),
      col(xCol).cast("long").as("x"))
    val spine = s.groupBy($"key")
      .agg(min($"day").as("d0"), max($"day").as("d1"))
      .select($"key", explode(sequence($"d0", $"d1")).as("day"))
    val w = Window.partitionBy($"key").orderBy($"day")
      .rowsBetween(Window.unboundedPreceding, 0)
    spine.join(s, Seq("key", "day"), "left")
      .select($"key", $"day",
        last($"x", ignoreNulls = true).over(w).as("filled"),
        $"x".isNull.as("was_gap"))
  }

  /** Spearman rank correlation per group — [[pearsonByGroup]] on AVERAGE
    * ranks, the monotone-association probe that survives the outliers
    * and nonlinearity Pearson folds into its moments (a price column
    * with a fat tail can hide a perfect monotone relation, or fake
    * one). Ties take the conventional average rank; a value's rank
    * depends only on its own column, so ranks compute on the
    * per-(group, value) DICTIONARY and join back — never a window over
    * raw rows.
    *
    * Exactness: average ranks are .0/.5, so DOUBLED ranks
    * `r2 = 2*cnt_less + cnt_eq + 1` are integers (the scale cancels in
    * the correlation); the five power sums accumulate as
    * long/DECIMAL(38,0) (the q144/q231 overflow rule) and rho derives
    * from identical integers through one identical IEEE tree in both
    * engines. Zero-variance groups (all-tied column) null — undefined,
    * not 0.
    *
    * Scale shape: ONE corpus scan into the checkpointed (group, x, y)
    * GRID (the q273 rule — everything downstream derives from the
    * compressed grid, the raw rows are never revisited), and NO
    * row-volume join anywhere: of the five power sums only `sab`
    * couples the two rank columns, so the x-rank dictionary (callers
    * pass the LOWER-cardinality column as x — quantities, scores,
    * grades; AQE broadcasts it) attaches to the grid map-side and
    * `Σ cnt·a` folds into the y dictionary IN the same shuffle that
    * builds it — after that every moment (n, sa, saa from the x
    * dictionary; sb, sbb, sab from the y dictionary) is a
    * dictionary-sized aggregate. The cumulative-rank windows run over
    * DISTINCT values per group (value-grid-bounded, never row volume;
    * measured 0.17+0.35 s of a 2.2 s sf0.1 run — not the serial
    * bottleneck the partitionBy-group shape suggests). All sums stay
    * cnt-WEIGHTED integers — bit-identical to the per-row sums.
    * Output: (grp, n, spearman_rho). */
  def spearmanByGroup(df: DataFrame, groupCol: String, xCol: String,
                      yCol: String, xScale: Long = 1L,
                      yScale: Long = 100L): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    import Par.Mat
    val grid = Par.ensure(df)
      .filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .select(col(groupCol).as("grp"),
        round(col(xCol) * xScale).cast("long").as("x"),
        round(col(yCol) * yScale).cast("long").as("y"))
      .groupBy($"grp", $"x", $"y")
      .agg(count(lit(1)).cast("long").as("cnt"))
      .materialized() // feeds the x dictionary AND the y-side fold
    // doubled average rank of each DISTINCT value: 2*cnt_less + cnt_eq + 1
    def doubledRank(vn: Column, vc: Column): Column = {
      val win = Window.partitionBy($"grp").orderBy(vc)
        .rowsBetween(Window.unboundedPreceding, -1)
      coalesce(sum(vn).over(win), lit(0L)) * 2L + vn + 1L
    }
    val ra = grid.groupBy($"grp", $"x")
      .agg(sum($"cnt").cast("long").as("vn"))
      .select($"grp", $"x", $"vn", doubledRank($"vn", $"x").as("a"))
    // x moments close over the x dictionary alone
    val sx = ra.groupBy($"grp").agg(
      sum($"vn" * $"a").cast("long").as("sa"),
      sum($"vn".cast(DecimalType(38, 0)) * $"a" * $"a").as("saa"))
    // y dictionary with the x-rank mass folded in: say = Σ cnt·a over
    // the grid rows sharing this (grp, y) — sab then needs no join back
    val dy = grid
      .join(ra.select($"grp", $"x", $"a"), Seq("grp", "x"))
      .groupBy($"grp", $"y")
      .agg(sum($"cnt").cast("long").as("vn"),
        sum($"cnt" * $"a").cast("long").as("say"))
    val rb = dy.select($"grp", $"vn", $"say",
      doubledRank($"vn", $"y").as("b"))
    val s = rb.groupBy($"grp").agg(
        sum($"vn").cast("long").as("n"),
        sum($"vn" * $"b").cast("long").as("sb"),
        sum($"vn".cast(DecimalType(38, 0)) * $"b" * $"b").as("sbb"),
        sum($"say".cast(DecimalType(38, 0)) * $"b").as("sab"))
      .join(sx, Seq("grp"))
    val denom = sqrt(($"n" * $"saa".cast("double") -
      $"sa".cast("double") * $"sa") *
      ($"n" * $"sbb".cast("double") - $"sb".cast("double") * $"sb"))
    s.select($"grp", $"n",
      (round(($"n" * $"sab".cast("double") -
        $"sa".cast("double") * $"sb") /
        when(denom > 0.0, denom) * 1e6) / 1e6).as("spearman_rho"))
  }

  /** Jensen-Shannon divergence between a REFERENCE and a CURRENT slice
    * of a CATEGORICAL column — the symmetric, always-finite drift
    * number for label/type/source mixes where PSI's eps floor distorts
    * (a category present on one side only contributes a bounded term
    * here, log2(2) at most, instead of riding an arbitrary floor).
    * `JS = (KL(p||m) + KL(q||m)) / 2` with `m = (p+q)/2`, log base 2 so
    * JS lies in [0, 1]; `js_distance = sqrt(JS)` is the metric form.
    *
    * Scale shape: ONE category agg carries both slices as conditional
    * counts (the psiDrift fold — two filtered aggs read raw volume
    * twice), materialized because the totals agg and the scoring agg
    * both read the dictionary-sized table; totals ride a broadcast
    * 1-row cross. Raw volume is read exactly once. Per-category terms
    * round to 9 places and sum as scaled integers so float order can't
    * flip the 6th place either engine reports.
    * Output: 1 row (n_ref, n_cur, n_categories, js_divergence,
    * js_distance), null JS when either side is empty. */
  def jsDrift(df: DataFrame, catCol: String, refPred: Column,
              curPred: Column): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // one conditional pass (the psiDrift fold): a category appears iff
    // some row passed either pred — the old full_outer's key union —
    // and a 0 count stands in for the old NULL, which every consumer
    // already coalesces to 0
    import Par.Mat
    val joined = Par.ensure(df)
      .filter((refPred || curPred) && col(catCol).isNotNull)
      .select(col(catCol).as("cat"),
        when(refPred, 1L).otherwise(0L).as("isr"),
        when(curPred, 1L).otherwise(0L).as("isc"))
      .groupBy($"cat")
      .agg(sum($"isr").as("cr"), sum($"isc").as("cc"))
      .materialized()
    val totals = joined.agg(
      sum(coalesce($"cr", lit(0L))).cast("long").as("nr"),
      sum(coalesce($"cc", lit(0L))).cast("long").as("nc"))
    val p = coalesce($"cr", lit(0L)).cast("double") /
      when($"nr" > 0L, $"nr".cast("double"))
    val q = coalesce($"cc", lit(0L)).cast("double") /
      when($"nc" > 0L, $"nc".cast("double"))
    val m = (p + q) / 2.0
    // 0*log(0/m) = 0 by continuity — pinned explicitly, never ln(0)
    val term = round((
      when(p > 0.0, p * log(p / m)).otherwise(lit(0.0)) +
      when(q > 0.0, q * log(q / m)).otherwise(lit(0.0))
      ) / 2.0 / log(lit(2.0)) * 1e9).cast("long")
    joined.crossJoin(broadcast(totals))
      .agg(max($"nr").as("n_ref"), max($"nc").as("n_cur"),
        count(lit(1)).cast("long").as("n_categories"),
        (round(sum(term) / 1e9 * 1e6) / 1e6).as("js_raw"))
      .select($"n_ref", $"n_cur", $"n_categories",
        when($"n_ref" > 0L && $"n_cur" > 0L, $"js_raw")
          .as("js_divergence"),
        when($"n_ref" > 0L && $"n_cur" > 0L,
          round(sqrt(greatest($"js_raw", lit(0.0))), 6))
          .as("js_distance"))
  }

  /** Cumulative sum over a distinct-value GRID, gated by grid size (the
    * `cumsum` gate, [[Par.gate]]): the running sum runs as ONE window
    * task at or below the gate and as the two-level distributed prefix
    * sum above it or on an empty grid: range-partition by the order
    * column, per-partition running sums, plus a broadcast prefix of
    * the per-partition totals (the q91 tokenPrefixes shape). Both
    * branches produce identical integers — the spec pins equality with
    * the gate forced to 0. Appends `cumName`; other columns pass
    * through.
    *
    * `sizeHint`: None (default) materializes the grid and counts it
    * exactly — right when the grid compresses RAW volume (the count is
    * then a block count and downstream consumers scan blocks instead
    * of re-aggregating the corpus: equalFreqBins, kruskalWallis). Pass
    * Some(estimate) when the input already derives from checkpointed
    * blocks: the materialize would only add a write (measured +0.75 s
    * on q273's 590k-row pooled grid), and an ESTIMATE is enough
    * because the gate needs no exactness — either side of it is
    * correct, only differently shaped. */
  private[analytics] def gridCumSum(dv0: DataFrame, orderCol: String,
                                    cntCol: String, cumName: String,
                                    sizeHint: Option[Long] = None)
      : DataFrame = {
    val spark = dv0.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // the distributed branch injects and later drops two working
    // columns; a caller frame already carrying either name would be
    // silently corrupted — fail loudly instead (private[analytics]
    // helpers attract new callers)
    require(!dv0.columns.contains("__pid") && !dv0.columns.contains("__off"),
      "gridCumSum input must not carry reserved columns __pid/__off")
    val dv = if (sizeHint.isEmpty) dv0.materialized() else dv0
    if (Par.gate(spark, "cumsum", sizeHint.getOrElse(dv.count())))
      dv.withColumn(cumName, sum(col(cntCol)).over(
        Window.orderBy(col(orderCol))
          .rowsBetween(Window.unboundedPreceding, 0)))
    else {
      // checkpoint AFTER the range partition: the partition-totals
      // scan and the final join must see the SAME pid assignment
      val parts = dv.repartitionByRange(col(orderCol))
        .withColumn("__pid", spark_partition_id())
        .materialized()
      val offsets = parts.groupBy($"__pid")
        .agg(sum(col(cntCol)).as("__pn"))
        // one row per partition: a single-partition window here is fine
        .withColumn("__off", coalesce(sum($"__pn").over(
          Window.orderBy($"__pid")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select($"__pid", $"__off")
      val inPart = Window.partitionBy($"__pid").orderBy(col(orderCol))
        .rowsBetween(Window.unboundedPreceding, 0)
      parts.join(broadcast(offsets), "__pid")
        .withColumn(cumName, sum(col(cntCol)).over(inPart) + $"__off")
        .drop("__pid", "__off")
    }
  }

  /** Equal-frequency binning (quantile discretizer) of a numeric
    * column: k bins holding ~n/k rows each, ALL ties of one value in
    * one bin (`bin = min(k, ceil(cdf * k))` over the distinct-value
    * CDF) — the feature-engineering discretization and the
    * histogram-equalized layout probe; the per-bin (lo, hi) boundaries
    * are the split points a serving layer would apply.
    *
    * Scale shape: rows compress to per-DISTINCT-value counts first, so
    * the cumulative runs over the value grid (price grid = part prices
    * x quantity 1..50 — bounded), never raw volume — through
    * [[gridCumSum]], so a grid past the single-task gate takes the
    * two-level distributed prefix sum instead of one sort task; the
    * total rides a broadcast 1-row cross over the same materialized
    * grid (raw volume is scanned ONCE). Only non-empty bins emit (a
    * tie mass spanning several quantiles swallows them — both engines
    * agree by the identical closed form). Output:
    * (bin, n_rows, n_values, lo, hi) with bounds de-scaled. */
  def equalFreqBins(df: DataFrame, valueCol: String, k: Int,
                    scale: Long = 100L): DataFrame = {
    require(k >= 2, "need k >= 2 bins")
    val spark = df.sparkSession
    import spark.implicits._
    val v = Par.ensure(df).filter(col(valueCol).isNotNull)
      .select(round(col(valueCol) * scale).cast("long").as("v"))
    // the grid is materialized HERE (not inside gridCumSum) because it
    // feeds two consumers — the cumulative and the total — and the
    // total must come from the pre-window blocks: aggregating it off
    // the post-window frame re-ran the cumulative's plan for a number
    // the grid already holds
    val dv = v.groupBy($"v").agg(count(lit(1)).cast("long").as("cnt"))
      .materialized()
    val cumd = gridCumSum(dv, "v", "cnt", "cum",
      sizeHint = Some(dv.count()))
    val tot = dv.agg(sum($"cnt").cast("long").as("total"))
    cumd.crossJoin(broadcast(tot))
      .withColumn("bin",
        least(lit(k.toLong), ceil($"cum".cast("double") /
          $"total".cast("double") * k).cast("long")))
      .groupBy($"bin")
      .agg(sum($"cnt").cast("long").as("n_rows"),
        count(lit(1)).cast("long").as("n_values"),
        (min($"v").cast("double") / scale).as("lo"),
        (max($"v").cast("double") / scale).as("hi"))
  }

  /** Concentration profile per group: how dominated is a group's value
    * mass by its top entities — Herfindahl-Hirschman index
    * (`sum(share^2)`), Shannon entropy in nats, effective entity count
    * (`1/HHI` — the "equivalent number of equal players"), and the top
    * entity's share. The corpus/traffic-diversity audit: a source mix
    * whose effective N collapses is one template away from a dedup
    * blow-up, and a revenue mix with HHI > 0.25 is concentration risk.
    *
    * Scale shape: one (group, entity) agg absorbs raw volume map-side
    * (materialized — the group totals and the scoring join both read
    * it, so raw volume is read exactly once),
    * then one group-keyed fold over the entity table; HHI terms scale
    * to 1e12-integers and entropy terms to 1e9-integers before summing
    * (sum(share^2) <= 1 bounds the scaled sum), so partition order
    * cannot move the rounded result. Entities whose summed value is
    * <= 0 are excluded PER ENTITY (a negative-sum entity has no
    * defined share; dropping it keeps every remaining share in (0,1]
    * so log/HHI stay finite) — a group whose entities all sum <= 0
    * disappears entirely. Output: (grp, n_entities, total, hhi,
    * entropy, effective_n, top_share). */
  def concentrationProfile(df: DataFrame, groupCol: String,
                           entityCol: String, valueCol: String,
                           valueScale: Long = 100L): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    import Par.Mat
    // the (group, entity) table feeds the group totals AND the scoring
    // join — materialize it so raw volume is absorbed exactly once
    val e = Par.ensure(df)
      .filter(col(valueCol).isNotNull)
      .select(col(groupCol).as("grp"), col(entityCol).as("ent"),
        round(col(valueCol) * valueScale).cast("long").as("v"))
      .groupBy($"grp", $"ent")
      .agg(sum($"v").cast("long").as("sv"))
      .filter($"sv" > 0L)
      .materialized()
    val totals = e.groupBy($"grp")
      .agg(sum($"sv").cast("long").as("tot"))
    val share = $"sv".cast("double") / $"tot".cast("double")
    e.join(totals, Seq("grp"))
      .groupBy($"grp")
      .agg(count(lit(1)).cast("long").as("n_entities"),
        (max($"tot").cast("double") / valueScale).as("total"),
        (round(sum(round(share * share * 1e12).cast("long")) / 1e12
          * 1e6) / 1e6).as("hhi"),
        (round(sum(round(-share * log(share) * 1e9).cast("long")) / 1e9
          * 1e6) / 1e6).as("entropy"),
        (round(max($"sv").cast("double") / max($"tot") * 1e6) / 1e6)
          .as("top_share"))
      .withColumn("effective_n",
        round(lit(1.0) / when($"hhi" > 0.0, $"hhi"), 6))
      .select($"grp", $"n_entities", $"total", $"hhi", $"entropy",
        $"effective_n", $"top_share")
  }

  /** Mann-Whitney U test per key between two arms — the rank-based
    * two-sample test that q210's Welch t cannot replace when the
    * metric is heavy-tailed or ordinal (latency, doc length, quality
    * scores: one bot user moves a mean, not a rank sum). Tie-corrected
    * normal approximation: `U1 = R1 - n1(n1+1)/2` over average ranks,
    * `z = (U1 - n0 n1 / 2) / sigma` with the tie term
    * `sigma^2 = n0 n1 / 12 ((N+1) - sum(t^3 - t) / (N (N-1)))`; no
    * continuity correction (documented — both engines replay the same
    * formula). Also reports the rank-biserial effect size
    * `r = 2 U1 / (n0 n1) - 1` (+1 = arm 1 stochastically larger).
    *
    * Exactness: ranks come from the distinct-value CDF as INTEGER
    * doubled-ranks (`2 x avgrank = 2 cumBefore + t + 1`), so R1, U1
    * and the tie sum are exact integers (DECIMAL(38,0) products — the
    * q144 overflow rule) and both engines derive z through one
    * identical IEEE tree.
    *
    * Scale shape: raw volume stops at the (key, value)-distinct agg;
    * the rank window runs over value cardinality per key, never rows.
    * Degenerate arms (n0 = 0 or n1 = 0, or zero variance) null z.
    * Output: (key, n0, n1, u1, z, rank_biserial, significant). */
  def mannWhitneyU(df: DataFrame, keyCol: String, valueCol: String,
                   armPred: Column,
                   valueScale: Long = 100L): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    val dv = Par.ensure(df).filter(col(valueCol).isNotNull)
      .select(col(keyCol).as("key"),
        round(col(valueCol) * valueScale).cast("long").as("v"),
        when(armPred, 1L).otherwise(0L).as("arm"))
      .groupBy($"key", $"v")
      .agg(sum(when($"arm" === 0L, 1L).otherwise(0L)).cast("long")
          .as("c0"),
        sum(when($"arm" === 1L, 1L).otherwise(0L)).cast("long").as("c1"))
      .withColumn("t", $"c0" + $"c1")
    val wOrd = Window.partitionBy($"key").orderBy($"v")
      .rowsBetween(Window.unboundedPreceding, 0)
    // 2 x average rank of a tie block = 2 cumBefore + t + 1 — integer
    val r2 = ($"cum" - $"t") * 2L + $"t" + 1L
    val dec = (c: Column) => c.cast(DecimalType(38, 0))
    val agg = dv
      .withColumn("cum", sum($"t").over(wOrd).cast("long"))
      .groupBy($"key")
      .agg(sum($"c0").cast("long").as("n0"),
        sum($"c1").cast("long").as("n1"),
        sum(dec($"c1") * dec(r2)).as("r1x2"),
        sum(dec($"t") * dec($"t") * dec($"t") - dec($"t")).as("ties"))
    val n = $"n0" + $"n1"
    // 2 x U1, exact integer
    val u1x2 = $"r1x2" - dec($"n1") * dec($"n1" + 1L)
    val sigma2 = $"n0".cast("double") * $"n1".cast("double") / 12.0 *
      ((n + 1L).cast("double") -
        $"ties".cast("double") /
          (n.cast("double") * when(n > 1L, n - 1L).cast("double")))
    val z = (u1x2.cast("double") -
      $"n0".cast("double") * $"n1") /
      (lit(2.0) * sqrt(when(sigma2 > 0.0, sigma2)))
    agg.select($"key", $"n0", $"n1",
      (u1x2.cast("double") / 2).as("u1"),
      (round(z * 1e6) / 1e6).as("z"),
      (round((u1x2.cast("double") /
        when($"n0" > 0L && $"n1" > 0L,
          $"n0".cast("double") * $"n1") - 1.0) * 1e6) / 1e6)
        .as("rank_biserial"))
      .withColumn("significant",
        coalesce(abs($"z") > 1.959964, lit(false)))
  }

  /** Kruskal-Wallis H test: does ANY of 3+ groups differ in location —
    * the rank-based one-way ANOVA completing the q210 (Welch, 2 arms) /
    * mannWhitneyU family; the first question asked of a per-source
    * quality metric. `H = 12/(N(N+1)) sum R_g^2/n_g - 3(N+1)`, tie
    * correction `C = 1 - sum(t^3 - t)/(N^3 - N)`, `H_c = H / C`,
    * significance vs the 0.95 chi-square quantile on g-1 dof via the
    * Wilson-Hilferty closed form (exactly replayable in SQL — no
    * lookup table).
    *
    * Exactness: global doubled-ranks over the distinct-value grid are
    * exact integers; per-group `(2R_g)^2 / (4 n_g)` terms round to
    * 1e6-scaled integers before the final (dictionary-sized) sum.
    * Scale shape: one (group, value) agg absorbs raw volume; the rank
    * cumulative runs over the GLOBAL distinct-value grid (the q196
    * bound) through [[gridCumSum]] — distributed two-level prefix sum
    * past the single-task gate; everything after is dictionary-sized.
    * All-tied input
    * (C = 0) nulls H_c. Output: 1 row (n_groups, n, dof, h,
    * h_tie_corrected, chi2_crit_05, significant). */
  def kruskalWallis(df: DataFrame, groupCol: String, valueCol: String,
                    valueScale: Long = 100L): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    val dec = (c: Column) => c.cast(DecimalType(38, 0))
    // gv absorbs RAW volume and feeds two actions (gridCumSum's grid
    // materialization and the final perGroup collect) — materialize it
    // so raw data is scanned once, not once per action
    val gv = Par.ensure(df)
      .filter(col(valueCol).isNotNull && col(groupCol).isNotNull)
      .select(col(groupCol).as("grp"),
        round(col(valueCol) * valueScale).cast("long").as("v"))
      .groupBy($"grp", $"v")
      .agg(count(lit(1)).cast("long").as("cnt"))
      .materialized()
    val vt = gridCumSum(gv.groupBy($"v")
          .agg(sum($"cnt").cast("long").as("t")), "v", "t", "cum")
      .withColumn("cum", $"cum".cast("long"))
      .select($"v", $"t", (($"cum" - $"t") * 2L + $"t" + 1L).as("r2"))
    val perGroup = gv.join(vt, Seq("v"))
      .groupBy($"grp")
      .agg(sum($"cnt").cast("long").as("ng"),
        sum(dec($"cnt") * dec($"r2")).as("rgx2"))
    // (2 R_g)^2 / (4 n_g) rounded to a 1e6-scaled integer per group —
    // the cross-group sum is over the group dictionary only
    val term = round($"rgx2".cast("double") * $"rgx2".cast("double") /
      (lit(4.0) * $"ng".cast("double")) * 1e6).cast(DecimalType(38, 0))
    val totals = vt.agg(sum($"t").cast("long").as("n"),
      sum(dec($"t") * dec($"t") * dec($"t") - dec($"t")).as("ties"))
    val g = perGroup.agg(count(lit(1)).cast("long").as("n_groups"),
      sum(term).as("s"))
    val nD = $"n".cast("double")
    val h = lit(12.0) / (nD * (nD + 1.0)) *
      ($"s".cast("double") / 1e6) - lit(3.0) * (nD + 1.0)
    val c = lit(1.0) - $"ties".cast("double") /
      when(nD * nD * nD - nD > 0.0, nD * nD * nD - nD)
    val dofD = ($"n_groups" - 1L).cast("double")
    // Wilson-Hilferty 0.95 chi-square quantile: k(1 - 2/9k + z sqrt(2/9k))^3
    val wh = dofD * pow(lit(1.0) - lit(2.0) / (lit(9.0) * dofD) +
      lit(1.6448536269514722) * sqrt(lit(2.0) / (lit(9.0) * dofD)), 3.0)
    g.crossJoin(broadcast(totals))
      .select($"n_groups", $"n", ($"n_groups" - 1L).as("dof"),
        (round(h * 1e6) / 1e6).as("h"),
        (round(h / when(c > 0.0, c) * 1e6) / 1e6).as("h_tie_corrected"),
        (round(when(dofD > 0.0, wh) * 1e6) / 1e6).as("chi2_crit_05"))
      .withColumn("significant",
        coalesce($"h_tie_corrected" > $"chi2_crit_05", lit(false)))
  }

  /** Winsorized mean per group — the trimmedMean sibling that CLAMPS
    * the tails to the cut values instead of dropping them (the robust
    * mean that keeps n constant, standard for payment/latency KPIs
    * where dropping rows changes the denominator story). k = floor(n
    * frac) values at each end are replaced by the (k+1)-th smallest /
    * (n-k)-th smallest value.
    *
    * Scale shape: the weightedPercentiles distinct-value compression —
    * one (group, value) agg, rank windows over value cardinality, cut
    * values via conditional mins, everything integer-exact until one
    * final division. Output: (grp, n_rows, lo_clamp, hi_clamp,
    * winsorized_mean). */
  def winsorizedMean(df: DataFrame, groupCol: String, valueCol: String,
                     winsorFrac: Double = 0.05,
                     valueScale: Long = 100L): DataFrame = {
    require(winsorFrac >= 0.0 && winsorFrac < 0.5,
      "need winsorFrac in [0, 0.5)")
    val spark = df.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    val dv = Par.ensure(df).filter(col(valueCol).isNotNull)
      .select(col(groupCol).as("grp"),
        round(col(valueCol) * valueScale).cast("long").as("v"))
      .groupBy($"grp", $"v")
      .agg(count(lit(1)).cast("long").as("cnt"))
    val cum = dv
      .withColumn("cum", sum($"cnt")
        .over(Window.partitionBy($"grp").orderBy($"v")).cast("long"))
      .withColumn("n", sum($"cnt")
        .over(Window.partitionBy($"grp")).cast("long"))
      .withColumn("k", floor($"n" * winsorFrac).cast("long"))
    // interior mass of a block: overlap with ranks (k, n-k]
    val kept = greatest(
      least($"cum", $"n" - $"k") - greatest($"cum" - $"cnt", $"k"),
      lit(0L))
    cum.groupBy($"grp")
      .agg(max($"n").as("n_rows"), max($"k").as("k"),
        // (k+1)-th smallest and (n-k)-th smallest values — the clamps
        min(when($"cum" >= $"k" + 1L, $"v")).as("lo"),
        min(when($"cum" >= $"n" - $"k", $"v")).as("hi"),
        sum(kept.cast(DecimalType(38, 0)) *
          $"v".cast(DecimalType(38, 0))).as("s"))
      .select($"grp", $"n_rows",
        ($"lo".cast("double") / valueScale).as("lo_clamp"),
        ($"hi".cast("double") / valueScale).as("hi_clamp"),
        (round(($"s".cast("double") +
          $"k".cast("double") * ($"lo" + $"hi")) /
          when($"n_rows" > 0L, $"n_rows").cast("double") / valueScale
          * 1e6) / 1e6).as("winsorized_mean"))
  }
}
