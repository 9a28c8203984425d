package graft.analytics

import Par.Mat

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, StructField}

/** Similarity search over an embedding column (`Array[Float]`).
  *
  * Baseline: brute-force cosine top-k — query set × corpus with the corpus
  * broadcast when small, expressed entirely with codegen'd array expressions
  * (`zip_with` + `aggregate`), no UDFs.
  *
  * Scale path: IVF-style coarse quantization — pick deterministic centroid
  * rows, assign every vector to its nearest centroid (broadcast of the tiny
  * centroid set), then answer queries by probing only the closest `nprobe`
  * inverted lists. At 100 TB the corpus-side join key is the centroid id, so
  * the candidate set per query is |corpus| / nCentroids * nprobe instead of
  * |corpus|.
  */
object Similarity {

  /** Cast float embedding to double for stable, oracle-matching arithmetic. */
  def asDouble(vec: Column): Column = transform(vec, x => x.cast("double"))

  /** Deterministic, engine-independent centroid membership: a vector is a
    * centroid iff the hex md5 of its id's STRING form sorts below the
    * two-hex-digit threshold covering ~1/stride of the hash space
    * (P = round(256/stride)/256). Works for any id type and any id-space
    * shape — numeric, string, sparse, non-contiguous — unlike the earlier
    * `id % stride == 0` rule, which silently returned an empty centroid
    * set for id spaces without stride multiples and threw on non-numeric
    * ids under ANSI. Hex md5 compares identically in every engine, so a
    * SQL oracle applies the same rule verbatim
    * (`md5(CAST(id AS VARCHAR)) < '05'` for stride 50). */
  private[analytics] def isCentroid(id: Column, stride: Int): Column = {
    require(stride >= 1, "centroidStride must be >= 1")
    val bound = math.min(256, math.max(1, math.round(256.0 / stride).toInt))
    // bound 256 (stride 1) must admit EVERY hash; "g" sorts above every
    // hex digit, where the two-digit form "100" would not ("1a.." > "100")
    val hex = if (bound >= 256) "g" else f"$bound%02x"
    md5(id.cast("string")) < lit(hex)
  }

  /** Sequential-fold dot product — deterministic order, no reassociation.
    * (Composed HOF form, kept for reference/tests; the hot path uses the
    * codegen'd expression below.) */
  private[graft] def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  private[graft] def norm(a: Column): Column =
    sqrt(aggregate(transform(a, x => x * x), lit(0.0), (acc, x) => acc + x))

  /** Cosine via the native codegen'd [[graft.functions.CosineSimilarity]]
    * expression: one fused whole-stage-codegen loop instead of three
    * interpreted higher-order-function passes; bit-identical results. */
  def cosine(a: Column, b: Column): Column =
    graft.functions.CosineSimilarity.cosineSim(a, b)

  /** Brute-force cosine top-k: for each query vector, the k nearest corpus
    * vectors (excluding itself). `corpus` is broadcast — the baseline for
    * corpora that fit an executor; see [[ivfTopK]] for the scale path. */
  def bruteForceTopK(emb: DataFrame, idCol: String, vecCol: String,
                     queryPred: Column, k: Int): DataFrame =
    // memoized per session (Memo.scala): the baseline probe feeds the
    // knn gate, the knn classifier, MMR's shortlist, and the hybrid
    // retriever's vector branch — identical (corpus, queries, k) calls
    // share one deterministic top-k snapshot (round-6 cosines, id
    // tie-breaks)
    probeMemo.getOrCompute(
      Seq(emb.select(col(idCol), col(vecCol)),
        emb.filter(queryPred).select(col(idCol))),
      s"k=$k") {
      bruteForceTopKCompute(emb, idCol, vecCol, queryPred, k)
    }

  private[graft] val probeMemo = new FrameMemo("brute_topk")

  /** The un-memoized [[bruteForceTopK]] pipeline (plan-shape audits). */
  private[graft] def bruteForceTopKCompute(
      emb: DataFrame, idCol: String, vecCol: String,
      queryPred: Column, k: Int): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window

    val v = emb.select(col(idCol).as("vid"), asDouble(col(vecCol)).as("v"))
    val q = v.filter(queryPred).select($"vid".as("qid"), $"v".as("qv"))
    val scored = q.join(broadcast(v), $"qid" =!= $"vid")
      .withColumn("cos_sim", round(cosine($"qv", $"v"), 6))
    val w = Window.partitionBy($"qid").orderBy($"cos_sim".desc, $"vid")
    scored
      .withColumn("rn", row_number().over(w))
      .filter($"rn" <= k)
      .select($"qid", $"rn", $"vid".as("neighbor_id"), $"cos_sim")
  }

  /** Maximal Marginal Relevance diversified re-rank (Carbonell &
    * Goldstein 1998) — the retrieval-diversity step between "top-k by
    * similarity" and "top-k worth showing": from each query's
    * `candidates`-deep cosine shortlist, greedily select k items
    * maximizing `lambda * sim(q, d) - (1 - lambda) * max sim(d, S)`
    * where S is the already-selected set, so near-duplicate hits can't
    * crowd the result page the way raw top-k lets them.
    *
    * Scale shape: the shortlist is the [[bruteForceTopK]] probe (swap
    * in [[ivfTopK]]/[[graft.analytics.Cluster.ivfPqTopK]] upstream for
    * big corpora — MMR only needs (qid, vid, simq) + vectors); the
    * pairwise penalty table is candidates² rows PER QUERY (bounded,
    * e.g. 10² = 100). A dictionary-sized shortlist (the `mmr` gate,
    * [[Par.gate]], over shortlist rows + Σ per-qid candidates² — a row
    * count alone cannot bound the PAIR collect when one qid hoards the
    * shortlist) collects the probe output + pair table once and
    * replays the greedy selection driver-side (the similarity
    * arithmetic itself stays distributed either way); above the gate
    * each greedy step is one query-keyed anti-join + penalty max +
    * argmax — k unrolled DataFrame steps over dictionary-sized tables,
    * the pageRank unroll pattern. Deterministic: every score is
    * rounded to 6 before the argmax and ties break by id, so a SQL
    * oracle replays the identical greedy trajectory in either branch.
    *
    * Output: (qid, step, neighbor_id, mmr_score), step 1..k in
    * selection order; step 1 is the plain top hit scaled by lambda. */
  def mmrRerank(emb: DataFrame, idCol: String, vecCol: String,
                queryPred: Column, candidates: Int = 10, k: Int = 5,
                lambda: Double = 0.7): DataFrame = {
    require(candidates >= k, "need candidates >= k")
    mmrRerankFrom(
      bruteForceTopK(emb, idCol, vecCol, queryPred, candidates)
        .select(col("qid"), col("neighbor_id").as("vid"),
          col("cos_sim").as("simq")),
      emb, idCol, vecCol, k, lambda)
  }

  /** [[mmrRerank]]'s core over ANY precomputed shortlist — the scale
    * path: at corpus sizes where the brute probe can't broadcast, feed
    * the (qid, vid, simq) output of [[ivfTopK]] or
    * [[graft.analytics.Cluster.ivfPqTopK]] (renamed to these columns)
    * and only the shortlisted vectors are ever touched again. */
  def mmrRerankFrom(shortlist: DataFrame, emb: DataFrame, idCol: String,
                    vecCol: String, k: Int = 5,
                    lambda: Double = 0.7): DataFrame = {
    require(k >= 1, "need k >= 1")
    require(lambda >= 0.0 && lambda <= 1.0, "lambda must be in [0, 1]")
    val spark = emb.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // materialize the shortlist and pair tables ONCE (queries x
    // candidates / x candidates² rows — tiny): the greedy unfold below
    // references them k+1 times, and each lazy reference would replay
    // the full upstream probe inside one physical plan (measured 10.3 s
    // -> the probe's own 0.3 s at sf0.1 after this checkpoint)
    val cand = shortlist.select($"qid", $"vid", $"simq")
      .materialized()
    val v = emb.select(col(idCol).as("vid"), asDouble(col(vecCol)).as("v"))
    val cv = cand.join(v, Seq("vid")).select($"qid", $"vid", $"simq", $"v")
    val pairPlan = cv.select($"qid", $"vid".as("vid_a"), $"v".as("va"))
      .join(cv.select($"qid", $"vid".as("vid_b"), $"v".as("vb")), Seq("qid"))
      .filter($"vid_a" =!= $"vid_b")
      .select($"qid", $"vid_a", $"vid_b",
        round(cosine($"va", $"vb"), 6).as("sim_ab"))
    // the 1-lambda constant is interpolated ONCE and reused by the SQL
    // oracle verbatim, so both engines score with the identical IEEE
    // double (the pageRank teleport precedent); scores round via
    // round(x * 1e6) / 1e6 rather than round(x, 6) — both engines then
    // round the SAME scaled double to an integer, where round(x, 6)
    // leaves DuckDB's internal x*1e6 free to cross a half-way point
    // Spark's exact-decimal rounding does not (bit-level knife edge)
    val penalty = 1.0 - lambda
    // ---- local branch (Par.gate "mmr") ----
    // The driver branch collects the two bounded tables both branches
    // share — the shortlist and the codegen cosine pair table — and
    // replays only the GREEDY SELECTION, pure argmax over already-
    // rounded scores: the same collected doubles fold through the same
    // lambda/penalty literals and the same HALF_UP scaled round.
    val vidOrd: Option[(Any, Any) => Int] =
      cand.schema("vid").dataType match {
        case org.apache.spark.sql.types.LongType |
             org.apache.spark.sql.types.IntegerType |
             org.apache.spark.sql.types.ShortType |
             org.apache.spark.sql.types.ByteType =>
          Some((x, y) => java.lang.Long.compare(
            x.asInstanceOf[Number].longValue, y.asInstanceOf[Number].longValue))
        case org.apache.spark.sql.types.DoubleType |
             org.apache.spark.sql.types.FloatType =>
          Some((x, y) => java.lang.Double.compare(
            x.asInstanceOf[Number].doubleValue,
            y.asInstanceOf[Number].doubleValue))
        case org.apache.spark.sql.types.StringType =>
          Some((x, y) =>
            Bpe.utf8Compare(x.asInstanceOf[String], y.asInstanceOf[String]))
        case _ => None
      }
    // the gate counts every row the local branch collects: the
    // shortlist plus the pair table (Σ per-qid candidates² — one skewed
    // qid with 200k candidates is 4·10¹⁰ pair rows), the square sum in
    // decimal and clamped so it cannot wrap
    def collected(): Seq[Long] = {
      val r = cand.groupBy($"qid").agg(count(lit(1)).as("nq"))
        .agg(coalesce(sum($"nq"), lit(0L)),
          coalesce(sum($"nq".cast("decimal(38,0)") * $"nq"), lit(0))).head()
      Seq(r.getLong(0), r.getDecimal(1)
        .min(java.math.BigDecimal.valueOf(Long.MaxValue)).longValue)
    }
    if (vidOrd.isDefined && Par.gate(spark, "mmr", collected(): _*)) {
      val candRows = cand.collect()
      // a null qid/vid/simq has no defined greedy semantics (the
      // distributed window ranks null scores last) — fall through to
      // the distributed branch rather than half-match it
      if (candRows.forall(r => !r.isNullAt(0) && !r.isNullAt(1) &&
            !r.isNullAt(2))) {
        val ord = vidOrd.get
        // Spark's round(e) on a double: BigDecimal.valueOf → setScale
        // HALF_UP — fold the same way so knife-edge scores agree
        def rnd6(x: Double): Double =
          BigDecimal(x * 1e6)
            .setScale(0, BigDecimal.RoundingMode.HALF_UP).toDouble / 1e6
        // duplicate (qid, vid) shortlist rows: the distributed argmax
        // keeps whichever copy scores best — score is monotone in simq
        // at every step (shared ms per vid), so max-simq per (qid, vid)
        // is the same selection; the anti-join then removes all copies
        val bestSim = scala.collection.mutable.HashMap[(Any, Any), Double]()
        candRows.foreach { r =>
          val key = (r.get(0), r.get(1))
          val s = r.getDouble(2)
          if (bestSim.get(key).forall(_ < s)) bestSim(key) = s
        }
        val byQid = bestSim.toSeq.groupBy(_._1._1)
        val pairSim = scala.collection.mutable
          .HashMap[(Any, Any, Any), Double]()
        pairPlan.collect().foreach { r =>
          pairSim((r.get(0), r.get(1), r.get(2))) = r.getDouble(3)
        }
        val out = scala.collection.mutable.ArrayBuffer[
          org.apache.spark.sql.Row]()
        byQid.foreach { case (qid, cs) =>
          val cands = cs.map { case ((_, vid), simq) => (vid, simq) }
          val selected = scala.collection.mutable.ArrayBuffer[Any]()
          var remaining = cands
          var step = 1
          while (step <= k && remaining.nonEmpty) {
            var bestVid: Any = null
            var bestScore = 0.0
            remaining.foreach { case (vid, simq) =>
              val score =
                if (step == 1) rnd6(lambda * simq)
                else {
                  // max over EXISTING pair rows (can be negative);
                  // only a candidate with no pair row at all gets the
                  // distributed branch's coalesce-to-0.0
                  var ms = Double.NegativeInfinity
                  selected.foreach { s =>
                    pairSim.get((qid, vid, s)).foreach(p =>
                      if (p > ms) ms = p)
                  }
                  if (ms == Double.NegativeInfinity) ms = 0.0
                  rnd6(lambda * simq - penalty * ms)
                }
              if (bestVid == null || score > bestScore ||
                  (score == bestScore && ord(vid, bestVid) < 0)) {
                bestVid = vid; bestScore = score
              }
            }
            out += org.apache.spark.sql.Row(qid, step, bestVid, bestScore)
            selected += bestVid
            remaining = remaining.filter(_._1 != bestVid)
            step += 1
          }
        }
        return Par.localFrame(spark,
          Seq(cand.schema("qid"),
            StructField("step", IntegerType, nullable = false),
            cand.schema("vid").copy(name = "neighbor_id"),
            StructField("mmr_score", DoubleType)),
          out.toSeq)
      }
    }
    val pair = pairPlan.materialized()
    def pick(scored: DataFrame, step: Int): DataFrame =
      scored.withColumn("rn", row_number().over(
          Window.partitionBy($"qid").orderBy($"score".desc, $"vid")))
        .filter($"rn" === 1).drop("rn")
        .withColumn("step", lit(step))
    var all = pick(cand.select($"qid", $"vid",
      (round(lit(lambda) * $"simq" * 1e6) / 1e6).as("score")), 1)
    for (s <- 2 to k) {
      val rem = cand.join(all.select($"qid", $"vid"),
        Seq("qid", "vid"), "left_anti")
      val pen = pair.join(all.select($"qid", $"vid".as("vid_b")),
          Seq("qid", "vid_b"))
        .groupBy($"qid", $"vid_a".as("vid")).agg(max($"sim_ab").as("ms"))
      val scored = rem.join(pen, Seq("qid", "vid"), "left")
        .select($"qid", $"vid",
          (round((lit(lambda) * $"simq" -
            lit(penalty) * coalesce($"ms", lit(0.0))) * 1e6) / 1e6)
            .as("score"))
      // step s's plan references every prior step twice (anti-join +
      // penalty); checkpoint the selection (queries x s rows) so the
      // unfold stays one step deep instead of exponential
      all = all.unionByName(pick(scored, s)).materialized()
    }
    all.select($"qid", $"step", $"vid".as("neighbor_id"),
      $"score".as("mmr_score"))
  }

  /** Margin-based pair mining (the ratio margin of Artetxe & Schwenk
    * 2019 — the LASER/CCMatrix bitext-mining criterion): a source
    * vector pairs with the target whose cosine stands out RELATIVE to
    * both points' neighborhoods, `margin = cos(x, y) /
    * ((avgNN_k(x) + avgNN_k(y)) / 2)` — raw cosine thresholds can't
    * separate "genuinely aligned" from "everything in this region is
    * close" (hubness), the margin can. The classic use: mining
    * parallel text pairs across two embedding spaces; here the two
    * sides are any predicate split of one corpus.
    *
    * Scale shape: the cross scoring broadcasts the target side (the
    * q24 baseline — swap an IVF/PQ shortlist upstream for corpora past
    * executor memory); neighborhood sums are bounded native
    * [[graft.functions.TopKBy]] aggregates per side (k pairs of
    * map-side state — never a window sort of the pair table through
    * each key's tasks), and the pick is one `min_by` hash argmax per
    * source. Exact cross-engine arithmetic: cosines become scaled
    * integers (`round(cos * 1e6)`), neighborhood sums stay integer,
    * and the margin is ONE integer-ratio division
    * `c * 2 * kx * ky / (ax * ky + ay * kx)` rounded robustly — no
    * float accumulation anywhere, so the oracle replays bit-for-bit.
    *
    * Output: (src_id, tgt_id, cos_sim, margin) — each source's best
    * target when its margin clears `minMargin`; margin and cos rounded
    * 6; ties break by target id. */
  /** Matryoshka truncation audit: for a query sample, does the PREFIX
    * of the embedding (first d dims) retrieve the same top-1 neighbor
    * as the full vector? Recall@1 per candidate dim is THE go/no-go
    * before serving truncated embeddings (MRL-style storage cuts:
    * keeping 16 of 64 dims is a 4× index shrink IF recall holds).
    * Cosines compare as SCALED integers (`round(cos * 1e6)`, the q201
    * rule) with id tie-break, so the argmax replays exactly; prefix
    * cosines renormalize over the truncated dims (a prefix is NOT
    * unit-norm).
    *
    * Shape: corpus × broadcast query sample (the q24 brute-force
    * baseline probe — swap [[Cluster.kmeansIvfTopK]] upstream at
    * serving scale), one `max_by` hash argmax per (query, dim) — no
    * windows — then one join of truncated picks against full-dim picks
    * and a dim-keyed rollup. Output: (trunc_dim, n_queries, recall_at_1).
    */
  def truncationRecall(emb: DataFrame, idCol: String, vecCol: String,
                       queryPred: Column,
                       dims: Seq[Int] = Seq(8, 16, 32)): DataFrame = {
    require(dims.nonEmpty && dims.forall(_ >= 1), "need positive dims")
    val spark = emb.sparkSession
    import spark.implicits._
    val v = emb.select(col(idCol).as("vid"), asDouble(col(vecCol)).as("vv"))
    val qs = emb.filter(queryPred)
      .select(col(idCol).as("qid"), asDouble(col(vecCol)).as("qv"))
    val cand = v.join(broadcast(qs), $"vid" =!= $"qid")
    def c6(d: Option[Int]): Column = {
      val (a, b) = d match {
        case Some(k) => (slice($"qv", 1, k), slice($"vv", 1, k))
        case None => ($"qv", $"vv")
      }
      round(cosine(a, b) * 1e6).cast("long")
    }
    def top1(scoreCol: Column): DataFrame => DataFrame = df =>
      df.groupBy($"qid")
        .agg(max_by($"vid", struct(scoreCol.as("c"), (-$"vid").as("ni")))
          .as("nn"))
    val full = top1(c6(None))(cand)
      .withColumnRenamed("nn", "nn_full")
    val truncated = dims.map { d =>
      top1(c6(Some(d)))(cand)
        .select(lit(d).as("trunc_dim"), $"qid", $"nn")
    }.reduce(_ unionByName _)
    truncated.join(full, Seq("qid"))
      .groupBy($"trunc_dim")
      .agg(count(lit(1)).cast("long").as("n_queries"),
        (round(sum(when($"nn" === $"nn_full", 1L).otherwise(0L))
          .cast("double") /
          when(count(lit(1)) > 0, count(lit(1))).cast("double") * 1e6)
          / 1e6).as("recall_at_1"))
  }

  /** Hubness audit (Radovanović et al., JMLR 2010): the k-occurrence
    * distribution of an embedding space — how many times each corpus
    * vector appears in the exact top-k of a query sample. High-
    * dimensional spaces grow HUBS: a few vectors that are "everyone's
    * neighbor" (and antihubs nobody retrieves), which silently poison
    * kNN classification, retrieval diversity, and ANN recall — this is
    * the go/no-go audit to run BEFORE shipping an embedding column into
    * the q24/q95 serving pipelines. A healthy space's k-occurrence
    * histogram is binomial-tight around k·|Q|/|corpus|; a hubby one has
    * a long right tail (max_occ >> mean) — read `slot_share` of the top
    * rows.
    *
    * Scale shape: corpus x broadcast query-sample probe (the q24 brute
    * baseline shape; swap IVF upstream at serving scale), top-k per
    * query via the BOUNDED native [[graft.functions.TopKBy]] aggregate
    * (k pairs of map-side state, never a window sort over corpus-sized
    * partitions — the SQL window form is what the oracle runs), then
    * two dictionary-sized aggs. Cosines quantize to 1e6 integers with
    * id tie-break so ranks replay cross-engine. Output: one row per
    * occurrence count (k_occurrence, n_vectors, slot_share), ascending. */
  def hubnessAudit(emb: DataFrame, idCol: String, vecCol: String,
                   queryPred: Column, k: Int = 5): DataFrame = {
    require(k >= 1, "need k >= 1")
    val spark = emb.sparkSession
    import spark.implicits._
    val v = emb.select(col(idCol).as("vid"), asDouble(col(vecCol)).as("vv"))
    val qs = emb.filter(queryPred)
      .select(col(idCol).as("qid"), asDouble(col(vecCol)).as("qv"))
    val cand = v.join(broadcast(qs), $"vid" =!= $"qid")
      .select($"qid", $"vid",
        round(cosine($"qv", $"vv") * 1e6).cast("long").as("c6"))
    // smallest (-c6, vid) == largest cosine, ties to the smaller id;
    // non-integral ids (which TopKBy's bigint state cannot hold) take
    // the equivalent row_number window instead of failing analysis
    val top =
      if (graft.functions.TopKBy.isIntegralId(cand.schema("vid").dataType))
        cand.groupBy($"qid")
          .agg(graft.functions.TopKBy.topKMin(-$"c6".cast("double"),
            $"vid", k).as("top"))
          .select($"qid", explode($"top").as("t"))
          .select($"t.id".as("vid"))
      else {
        import org.apache.spark.sql.expressions.Window
        cand.withColumn("rn", row_number().over(
            Window.partitionBy($"qid").orderBy($"c6".desc, $"vid")))
          .filter($"rn" <= k).select($"vid")
      }
    val occ = top.groupBy($"vid")
      .agg(count(lit(1)).cast("long").as("k_occurrence"))
    val hist = occ.groupBy($"k_occurrence")
      .agg(count(lit(1)).cast("long").as("n_vectors"))
    val slots = hist.agg(
      sum($"k_occurrence" * $"n_vectors").cast("long").as("n_slots"))
    hist.crossJoin(broadcast(slots))
      .select($"k_occurrence", $"n_vectors",
        (round(($"k_occurrence" * $"n_vectors").cast("double") /
          when($"n_slots" > 0L, $"n_slots".cast("double")) * 1e6) / 1e6)
          .as("slot_share"))
  }

  def marginMining(emb: DataFrame, idCol: String, vecCol: String,
                   srcPred: Column, k: Int = 4,
                   minMargin: Double = 1.05): DataFrame = {
    require(k >= 1, "need k >= 1")
    val spark = emb.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val v = emb.select(col(idCol).as("vid"), asDouble(col(vecCol)).as("v"))
    val s = v.filter(srcPred).select($"vid".as("sid"), $"v".as("sv"))
    val t = v.filter(!srcPred).select($"vid".as("tid"), $"v".as("tv"))
    // scored once, referenced three times (both neighborhoods + the
    // pick) — materialize, the MMR lesson
    val scored = s.join(broadcast(t), $"sid" =!= $"tid")
      .select($"sid", $"tid",
        round(cosine($"sv", $"tv") * 1e6).cast("long").as("c6"))
      .materialized()
    // k-neighborhood sums via the BOUNDED native TopKBy aggregate
    // (k pairs of map-side state, partial-aggregable) instead of a
    // row_number window — the window form sorts the full pair table
    // through each key's tasks to keep k rows (the hubnessAudit rule;
    // bracketed here: 2.69 -> 2.13 s same-JVM alternating medians at
    // sf0.1, identical 662-row output).
    // smallest (-c6, other) == largest cosine, ties to the smaller id —
    // exactly the window's ORDER BY c6 DESC, other. c6 is a 1e6-scaled
    // integer, so the double round-trip through the sort key is exact.
    def neighborhood(keyCol: String, otherCol: String, sumName: String,
                     cntName: String) =
      // ids only tie-break here (they are not emitted), so any integral
      // type rides TopKBy via an order-preserving widen; non-integral
      // ids (string keys) keep the window form the oracle runs instead
      // of failing TopKBy's bigint-state analysis check
      if (graft.functions.TopKBy.isIntegralId(
          scored.schema(otherCol).dataType))
        scored.groupBy(col(keyCol))
          .agg(graft.functions.TopKBy.topKMin(-$"c6".cast("double"),
            col(otherCol), k).as("top"))
          .select(col(keyCol),
            aggregate($"top", lit(0L),
              (acc, p) => acc - p("score").cast("long")).as(sumName),
            size($"top").cast("long").as(cntName))
      else
        scored.withColumn("rn", row_number().over(
            Window.partitionBy(col(keyCol))
              .orderBy($"c6".desc, col(otherCol))))
          .filter($"rn" <= k)
          .groupBy(col(keyCol))
          .agg(sum($"c6").as(sumName),
            count(lit(1)).cast("long").as(cntName))
    val nx = neighborhood("sid", "tid", "ax", "kx")
    val ny = neighborhood("tid", "sid", "ay", "ky")
    // guard the denominator: a non-positive neighborhood sum (wholly
    // anti-correlated region) has no meaningful margin — null, never
    // an IEEE infinity (ANSI-division rule)
    val den = $"ax" * $"ky" + $"ay" * $"kx"
    val margin = round($"c6".cast("double") * 2 * $"kx" * $"ky" /
      when(den > 0, den.cast("double")) * 1e6) / 1e6
    // argmax margin per source as a partial-aggregable min_by (key =
    // (-margin, tid): max margin, ties to the smaller tid — the
    // window's ORDER BY margin DESC, tid), with the threshold filter
    // pushed BELOW the pick: the per-source argmax above minMargin is
    // the argmax of the above-minMargin pairs, and a null margin
    // (den <= 0) drops here exactly as desc_nulls_last ranked it out
    val picked = scored
      .join(nx, Seq("sid")).join(ny, Seq("tid"))
      .select($"sid", $"tid", $"c6", margin.as("margin"))
      .filter($"margin" > minMargin)
      .groupBy($"sid")
      .agg(min_by(struct($"tid", $"c6", $"margin"),
        struct(-$"margin", $"tid")).as("w"))
    picked.select($"sid".as("src_id"), $"w.tid".as("tgt_id"),
      ($"w.c6" / 1e6).as("cos_sim"), $"w.margin".as("margin"))
  }

  /** Embedding-cosine near-dup candidate pairs, IVF-bucketed: vectors are
    * assigned to their nearest hash-selected centroid (map-side argmax),
    * then only SAME-BUCKET pairs are scored — |corpus|²/nCentroids work
    * instead of an all-pairs cross join. Bucket-boundary pairs are missed
    * by construction (the standard ANN recall trade); raise nprobe-style
    * multi-assignment if recall matters more than cost. */
  def cosineNearDupPairs(emb: DataFrame, idCol: String, vecCol: String,
                         minCosine: Double,
                         centroidStride: Int = 50): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val v = emb.select(col(idCol).as("vid"), asDouble(col(vecCol)).as("v"))
    val cents = v.filter(isCentroid($"vid", centroidStride))
      .select($"vid".as("cid"), $"v".as("cv"))
    val assigned = v.join(broadcast(cents), lit(true))
      .withColumn("csim", round(cosine($"v", $"cv"), 6))
      .groupBy($"vid")
      // argmax tie-break = highest csim then LOWEST cid, encoded as min of
      // (-csim, cid) — negating the SIMILARITY (always numeric) instead of
      // the id keeps the rule valid for string/any-typed ids. A NULL csim
      // (degenerate zero-norm/corrupt centroid) must LOSE the argmin, but
      // a null struct field sorts FIRST under min ordering — coalesce it
      // to +inf so degenerate centroids never capture the corpus
      .agg(min_by($"cid",
             struct(coalesce(-$"csim", lit(Double.PositiveInfinity)).as("nc"),
                    $"cid")).as("cid"),
           first($"v").as("v"))
      // the pair stage scores O(B²/2) pairs per bucket: precompute each
      // vector's norm ONCE here instead of re-walking both arrays inside
      // every pair's cosine (sqrt(Σx²) per side then one multiply — the
      // identical IEEE doubles the fused kernel produces)
      .withColumn("nrm",
        sqrt(graft.functions.DotProduct.dotProduct($"v", $"v")))
      .materialized() // consumed by both self-join sides
    val a = assigned.select($"cid", $"vid".as("vid_a"), $"v".as("va"),
                            $"nrm".as("na"))
    val b = assigned.select($"cid", $"vid".as("vid_b"), $"v".as("vb"),
                            $"nrm".as("nb"))
    a.join(b, Seq("cid")).filter($"vid_a" < $"vid_b")
      .withColumn("cos_sim",
        round(graft.functions.DotProduct.dotProduct($"va", $"vb") /
          nullif($"na" * $"nb", lit(0.0)), 6))
      .filter($"cos_sim" >= minCosine)
      .select($"vid_a", $"vid_b", $"cos_sim")
  }

  /** Majority-vote label prediction from a neighbor table: `neighbors` is
    * any top-k output shaped `(qid, neighbor_id, ...)` — the exact
    * [[bruteForceTopK]] baseline or the trained-index
    * [[Cluster.kmeansIvfTopK]] scale path both fit — and `labels` maps
    * `(neighbor_id, label)`. The vote is fully deterministic: most votes
    * wins, ties broken by the smallest label.
    *
    * Scale shape: the neighbor table is |Q|·k rows (tiny next to the
    * corpus), the label join is keyed on the corpus id (broadcast when the
    * label table is small, plain shuffle join otherwise — AQE decides),
    * and the vote count is a partial-aggregable groupBy. No corpus-wide
    * window, no driver collect. */
  def voteFromNeighbors(neighbors: DataFrame, labels: DataFrame): DataFrame = {
    val spark = neighbors.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // accept both neighbor-table shapes: bruteForceTopK emits `qid`,
    // Cluster.ivfTopK emits `query_id`
    val nbrs =
      if (neighbors.columns.contains("qid")) neighbors
      else neighbors.withColumnRenamed("query_id", "qid")
    val voted = nbrs.join(labels, "neighbor_id")
      .groupBy($"qid", $"label")
      .agg(count(lit(1)).as("votes"))
    val w = Window.partitionBy($"qid").orderBy($"votes".desc, $"label")
    voted.withColumn("vr", row_number().over(w)).filter($"vr" === 1)
      .select($"qid", $"label".as("pred_label"), $"votes")
  }

  /** kNN classification baseline: exact cosine top-k neighbors (corpus
    * broadcast) + [[voteFromNeighbors]]. Queries are the rows matching
    * `queryPred`; every corpus row votes with `labelCol`. For corpora past
    * executor memory, feed [[voteFromNeighbors]] from the trained IVF
    * index instead of this exact baseline. */
  def knnClassify(emb: DataFrame, idCol: String, vecCol: String,
                  labelCol: String, queryPred: Column, k: Int): DataFrame = {
    val labels =
      emb.select(col(idCol).as("neighbor_id"), col(labelCol).as("label"))
    voteFromNeighbors(bruteForceTopK(emb, idCol, vecCol, queryPred, k), labels)
  }

  /** Contrastive hard-negative mining: for each query vector, the k most
    * similar corpus vectors with a DIFFERENT label — the negatives that
    * sit closest to the decision boundary, which is what contrastive /
    * triplet training wants (easy negatives teach nothing). Same-label
    * rows and the query itself are excluded; a null label counts as
    * different from every non-null label (null-safe inequality), so
    * unlabeled corpus rows can still serve as negatives for labeled
    * queries.
    *
    * Scale shape: the exact baseline (corpus broadcast, one fused cosine
    * kernel per candidate, per-query bounded window over |Q|·|corpus|
    * candidates). Past executor memory, mine within [[Cluster]]'s trained
    * IVF buckets and feed the same (qid, neighbor) shape downstream.
    * Output: (qid, rn, neighbor_id, neg_label, cos_sim). */
  def hardNegatives(emb: DataFrame, idCol: String, vecCol: String,
                    labelCol: String, queryPred: Column, k: Int): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val v = emb.select(col(idCol).as("vid"), asDouble(col(vecCol)).as("v"),
      col(labelCol).as("lbl"))
    val q = v.filter(queryPred)
      .select($"vid".as("qid"), $"v".as("qv"), $"lbl".as("qlbl"))
    val scored = q.join(broadcast(v),
        $"qid" =!= $"vid" && !($"qlbl" <=> $"lbl"))
      .withColumn("cos_sim", round(cosine($"qv", $"v"), 6))
    val w = Window.partitionBy($"qid").orderBy($"cos_sim".desc, $"vid")
    scored.withColumn("rn", row_number().over(w))
      .filter($"rn" <= k)
      .select($"qid", $"rn", $"vid".as("neighbor_id"),
        $"lbl".as("neg_label"), $"cos_sim")
  }

  /** Nearest-centroid (Rocchio) classification: each label's centroid is
    * the element-wise mean of its member vectors (rounded to 6 — the
    * engines' common fixed point, the [[Cluster]] model-exchange rule);
    * every vector is assigned to the centroid of highest cosine. Output:
    * `(vid, pred_label, cos_sim)`.
    *
    * Scale shape: centroids are a (labels × dim)-keyed partial agg — the
    * corpus explodes inside the scan stage and only label-dim groups move.
    * Scoring is the q25 pattern (corpus × broadcast centroid set, one
    * fused cosine kernel per pair) and the argmax is a partial-aggregable
    * min_by, NOT a corpus-wide window. */
  def centroidClassify(emb: DataFrame, idCol: String, vecCol: String,
                       labelCol: String): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val (v0, dim) = Pq.vectors(emb, idCol, vecCol)
    val labels = emb.select(col(idCol).as("vid"), col(labelCol).as("label"))
    val v = v0.join(labels, "vid")
    val cents = v
      .select($"label", posexplode($"v").as(Seq("i", "mu0")))
      .groupBy($"label", $"i")
      .agg(round(sum($"mu0") / count(lit(1)), 6).as("mu"))
      .groupBy($"label")
      .agg(transform(array_sort(collect_list(struct($"i", $"mu"))),
        e => e.getField("mu")).as("cv"))
      .select($"label".as("clabel"), $"cv")
    v.join(broadcast(cents), lit(true))
      .withColumn("cs", round(cosine($"v", $"cv"), 6))
      .groupBy($"vid")
      // argmax tie-break: highest cs, then smallest label; NULL/NaN cs
      // must lose (same coalesce-to-+inf rule as cosineNearDupPairs)
      .agg(min_by(struct($"clabel", $"cs"),
        struct(coalesce(-$"cs", lit(Double.PositiveInfinity)).as("nc"),
               $"clabel")).as("best"))
      .select($"vid".as(idCol), $"best.clabel".as("pred_label"),
        $"best.cs".as("cos_sim"))
  }

  /** Deterministic Rademacher (±1) hyperplanes for sign-bit LSH: component
    * (k, i) is +1 when the low bit of md5("k|i")'s first byte is 0, else
    * -1. A fixed, engine-independent rule — the planes are model constants
    * that any SQL oracle can embed as literals. */
  def hyperplaneSigns(nPlanes: Int, dim: Int): Array[Array[Double]] =
    Array.tabulate(nPlanes, dim) { (k, i) =>
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$k|$i".getBytes(java.nio.charset.StandardCharsets.UTF_8))
      if ((d(0) & 1) == 0) 1.0 else -1.0
    }

  /** Deterministic Johnson-Lindenstrauss projection: `y = S·x / sqrt(d')`
    * with S the ±1 Rademacher matrix [[hyperplaneSigns]] already uses for
    * sign-bit LSH (md5-derived, engine-independent model constants) — the
    * Achlioptas (2003) database-friendly JL construction. This is the
    * dimensionality-reduction front end you run before LSH banding or
    * brute-force scoring at 100 TB: pairwise distances are preserved
    * within (1±ε) w.h.p. while the per-vector footprint drops d/d'-fold.
    *
    * Entirely MAP-SIDE: d' native codegen'd dot products per row against
    * plan-time literal planes — no model table, no join, no shuffle.
    * Output: (id, j, yj) exploded for the oracle's VALUES-literal replay,
    * rounded 6. */
  def randomProject(emb: DataFrame, idCol: String, vecCol: String,
                    outDim: Int = 16): DataFrame = {
    require(outDim >= 1, "outDim must be >= 1")
    val spark = emb.sparkSession
    import spark.implicits._
    val (v, dim) = Pq.vectors(emb, idCol, vecCol)
    val planes = hyperplaneSigns(outDim, dim)
    val scale = 1.0 / math.sqrt(outDim.toDouble)
    val ys = array((0 until outDim).map { j =>
      round(graft.functions.DotProduct.dotProduct(
        $"v", typedlit(planes(j).toSeq)) * scale, 6) + lit(0.0)
    }: _*)
    v.select($"vid".as(idCol), posexplode(ys).as(Seq("j", "yj")))
  }

  /** Vectors shaped for LSH: null and zero-length embeddings are dropped
    * (a degenerate vector has no direction — and every empty vector would
    * otherwise collapse into the same all-zero signature bucket). */
  private def lshVectors(emb: DataFrame, idCol: String, vecCol: String): DataFrame =
    emb.filter(col(vecCol).isNotNull && size(col(vecCol)) > 0)
      .select(col(idCol).as("vid"), asDouble(col(vecCol)).as("v"))

  /** Banded sign-bit signatures over pre-shaped (vid, v) rows: band b's
    * signature packs one bit per hyperplane (`dot(v, plane) >= 0`, via the
    * codegen'd [[graft.functions.DotProduct]] kernel — one fused loop per
    * plane instead of an interpreted higher-order pass). Entirely
    * MAP-SIDE — the output rows carry only (vid, band, sig), never the
    * vector. */
  private def bandsFromV(v: DataFrame, dim: Int, bands: Int,
                         planesPerBand: Int): DataFrame = {
    val spark = v.sparkSession
    import spark.implicits._
    val planes = hyperplaneSigns(bands * planesPerBand, dim)
    val bandCols = (0 until bands).map { b =>
      val sig = (0 until planesPerBand).map { j =>
        val p = planes(b * planesPerBand + j).toSeq
        when(graft.functions.DotProduct.dotProduct($"v", typedLit(p)) >= 0,
             lit(1L << j)).otherwise(lit(0L))
      }.reduce(_ + _)
      struct(lit(b).as("band"), sig.as("sig"))
    }
    v.select($"vid", explode(array(bandCols: _*)).as("bs"))
      .select($"vid", $"bs.band".as("band"), $"bs.sig".as("sig"))
  }

  /** Embedding near-dup pairs via banded random-hyperplane LSH — the
    * second scale path next to [[cosineNearDupPairs]]'s IVF bucketing.
    * Candidates are pairs sharing any band's signature (standard LSH
    * amplification: bands trade recall against candidate volume); only
    * candidates get the exact cosine. `maxBucket` drops degenerate
    * buckets before the self-join, mirroring
    * [[Dedup.minhashCandidates]] — one hot bucket of B vectors yields
    * B²/2 pairs. Recall is the textbook sign-LSH curve
    * (p_plane = 1 - θ/π per plane); pairs in no shared bucket are missed
    * by construction, and the oracle applies the identical banding. */
  def lshNearDupPairs(emb: DataFrame, idCol: String, vecCol: String,
                      minCosine: Double, bands: Int = 3,
                      planesPerBand: Int = 6,
                      maxBucket: Int = 1000): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    // the vectors feed the band computation AND both cosine join sides —
    // materialize the scan once instead of re-evaluating the input
    // lineage three times. The norm is precomputed per VECTOR so the
    // O(pairs) scoring stage walks two arrays once (dot) instead of three
    // times — identical IEEE doubles to the fused cosine kernel.
    val v0 = lshVectors(emb, idCol, vecCol)
    // corpus dimension = the MAJORITY vector length (deterministic; ties
    // break to the smaller dim). Sampling one arbitrary row would let a
    // single corrupt off-dimension vector that happens to be scanned first
    // silently define the dim and drop the entire real corpus.
    val dim = v0.groupBy(size(col("v")).as("d")).count()
      .orderBy(col("count").desc, col("d"))
      .head(1).headOption.map(_.getInt(0)).getOrElse(0)
    // uniform dimension is the contract: a vector whose length differs from
    // the corpus dim would null-dot against every hyperplane, so all its
    // sig bits silently read 0 and every such vector collapses into one
    // shared bucket. Drop them like null/empty vectors instead.
    val v = v0.filter(size(col("v")) === dim)
      .withColumn("nrm",
        sqrt(graft.functions.DotProduct.dotProduct(col("v"), col("v"))))
      .materialized()
    // both self-join sides consume the signatures: materialize once,
    // pre-partitioned on the join key
    val bb = bandsFromV(v, dim, bands, planesPerBand)
      .repartition($"band", $"sig").materialized()
    val big = bb.groupBy($"band", $"sig").agg(count(lit(1)).as("bn"))
      .filter($"bn" > maxBucket).select($"band", $"sig")
    val capped = bb.join(broadcast(big), Seq("band", "sig"), "left_anti")
    val a = capped.select($"band", $"sig", $"vid".as("vid_a"))
    val b = capped.select($"band", $"sig", $"vid".as("vid_b"))
    val cand = a.join(b, Seq("band", "sig")).filter($"vid_a" < $"vid_b")
      .select($"vid_a", $"vid_b").distinct()
    cand
      .join(v.select($"vid".as("vid_a"), $"v".as("va"), $"nrm".as("na")),
            "vid_a")
      .join(v.select($"vid".as("vid_b"), $"v".as("vb"), $"nrm".as("nb")),
            "vid_b")
      .withColumn("cos_sim",
        round(graft.functions.DotProduct.dotProduct($"va", $"vb") /
          nullif($"na" * $"nb", lit(0.0)), 6))
      .filter($"cos_sim" >= minCosine)
      .select($"vid_a", $"vid_b", $"cos_sim")
  }

  /** IVF-bucketed approximate top-k. Deterministic "training": a ~1/stride
    * hash-selected sample of vectors are centroids (see [[isCentroid]]).
    * Assignment and probe both broadcast only the centroid set. */
  def ivfTopK(emb: DataFrame, idCol: String, vecCol: String,
              queryPred: Column, k: Int,
              centroidStride: Int = 50, nprobe: Int = 2): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window

    val v = emb.select(col(idCol).as("vid"), asDouble(col(vecCol)).as("v"))
    val cents = v.filter(isCentroid($"vid", centroidStride))
      .select($"vid".as("cid"), $"v".as("cv"))

    // invert: each corpus vector -> its nearest centroid id.
    // Argmax via min_by (partial-aggregable, map-side combine) instead of a
    // row_number window: the window would SHUFFLE n×|centroids| rows; here
    // the shuffle carries one partial min per vector. Tie-break = highest
    // csim then LOWEST cid, encoded as min of (-csim, cid) — negating the
    // similarity, not the id, so string ids work too. NULL csim (degenerate
    // centroid) coalesces to +inf so it loses instead of winning the min.
    val assigned = v.join(broadcast(cents), lit(true))
      .withColumn("csim", round(cosine($"v", $"cv"), 6))
      .groupBy($"vid")
      .agg(min_by($"cid",
             struct(coalesce(-$"csim", lit(Double.PositiveInfinity)).as("nc"),
                    $"cid")).as("cid"),
           first($"v").as("v"))

    // queries probe their nprobe nearest centroids
    val q = v.filter(queryPred).select($"vid".as("qid"), $"v".as("qv"))
    val probeW = Window.partitionBy($"qid").orderBy($"csim".desc, $"cid")
    val probes = q.join(broadcast(cents), lit(true))
      .withColumn("csim", round(cosine($"qv", $"cv"), 6))
      .withColumn("crn", row_number().over(probeW))
      .filter($"crn" <= nprobe)
      .select($"qid", $"qv", $"cid")

    // candidates = union of the probed inverted lists only
    val w = Window.partitionBy($"qid").orderBy($"cos_sim".desc, $"vid")
    probes.join(assigned, Seq("cid"))
      .filter($"qid" =!= $"vid")
      .withColumn("cos_sim", round(cosine($"qv", $"v"), 6))
      .withColumn("rn", row_number().over(w))
      .filter($"rn" <= k)
      .select($"qid", $"rn", $"vid".as("neighbor_id"), $"cos_sim")
  }

  /** Embedding-centroid drift between two corpus slices, per label: the
    * cosine between the slices' per-label MEAN vectors plus their L2
    * shift — the embedding-space analogue of PSI/KS drift (those watch
    * one scalar; an upstream encoder swap or ingest shift moves the
    * whole vector, and the centroid is its cheapest sufficient
    * statistic). `sliceA` partitions rows (true = slice A, e.g. old
    * snapshot vs new, even ids vs odd).
    *
    * Shape: ONE keyed aggregate over (label, dim) — |labels| x dim
    * rows, map-side partials do the heavy summation — then a
    * dictionary-sized fold per label. Embeddings never pairwise-join;
    * at 100 TB the only full-data pass is the first aggregate. A label
    * empty in one slice yields null cosine/l2 (undefined, not 0).
    * Output: (label, n_a, n_b, centroid_cosine, centroid_l2). */
  def centroidDrift(df: DataFrame, labelCol: String, vecCol: String,
                    sliceA: Column): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val x = Par.ensure(df)
      .select(col(labelCol).as("label"), sliceA.as("in_a"),
        posexplode(asDouble(col(vecCol))).as(Seq("i", "xi")))
    val dims = x.groupBy($"label", $"i").agg(
      sum(when($"in_a", $"xi").otherwise(lit(0.0))).as("sa"),
      sum(when(!$"in_a", $"xi").otherwise(lit(0.0))).as("sb"),
      sum(when($"in_a", lit(1L)).otherwise(lit(0L))).cast("long").as("na"),
      sum(when(!$"in_a", lit(1L)).otherwise(lit(0L))).cast("long").as("nb"))
    // means via the safeDiv rule: an empty slice nulls, never throws
    val m = dims.select($"label", $"na", $"nb",
      Par.safeDiv($"sa", $"na".cast("double")).as("ma"),
      Par.safeDiv($"sb", $"nb".cast("double")).as("mb"))
    val g = m.groupBy($"label").agg(
      max($"na").as("n_a"), max($"nb").as("n_b"),
      sum($"ma" * $"mb").as("dot"),
      sum($"ma" * $"ma").as("naa"),
      sum($"mb" * $"mb").as("nbb"),
      sum(($"ma" - $"mb") * ($"ma" - $"mb")).as("ss"))
    val den = sqrt($"naa" * $"nbb")
    g.select($"label", $"n_a", $"n_b",
      (round($"dot" / when(den > 0.0, den) * 1e6) / 1e6)
        .as("centroid_cosine"),
      (round(sqrt($"ss") * 1e6) / 1e6).as("centroid_l2"))
  }
}
