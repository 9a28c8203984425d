package graft.analytics

import Par.Mat

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** TF-IDF + cosine category classification (reference README_RU.md:96-117
  * and assets/TF-IDF Visualization/main.py — the documented classification
  * capability; re-expressed as sparse inverted-index arithmetic).
  *
  * Everything is SPARSE: a document is (term, weight) rows, a class
  * centroid is the summed weights of its labeled documents, and cosine is
  * an equi-join on `term` + one aggregation — the 100 TB shape (never a
  * dense vocabulary-width vector, never a cross join of documents).
  *
  * Determinism: weights are integer-scaled reciprocal-df
  * (`w = (tf * scale) DIV df`) instead of log-idf, so every aggregate is
  * exact int64 arithmetic and the DuckDB oracle reproduces results
  * bit-for-bit (double sums would be addition-order-dependent; ln() differs
  * across libm implementations in the last ulp). The final cosine is two
  * exact integers through one IEEE division — cross-engine deterministic.
  */
object TfIdf {

  /** Sparse (doc, term, w) weights: tf = term count in doc, df = docs
    * containing term, w = (tf * scale) DIV df.
    *
    * Tokenization explodes a plain `split` and filters empty terms as a
    * row predicate (whole-stage-codegen) instead of an array-lambda
    * `filter` (interpreted per row). df stays a groupBy + join (NOT a
    * count window over `term`): both aggregates get map-side partial
    * aggregation, and the tiny dfreq side broadcasts under AQE — a window
    * would buffer every tf row of a hot term (a stopword ≈ |corpus| rows)
    * in one task's spill array with no partial aggregation. */
  def termWeights(docs: DataFrame, idCol: String, textCol: String,
                  scale: Int = 1000): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val tf = Par.ensure(docs)
      .select(col(idCol).as("doc"),
        explode(split(trim(lower(col(textCol))), "\\s+")).as("term"))
      .filter($"term" =!= "")
      .groupBy($"doc", $"term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy($"term").agg(count(lit(1)).as("df"))
    // weights feed centroids, query vectors, and both norms — materialize
    // once instead of re-tokenizing the corpus per consumer
    tf.join(dfreq, "term")
      .withColumn("w", expr(s"(tf * $scale) DIV df"))
      .select($"doc", $"term", $"tf", $"df", $"w")
      .materialized()
  }

  /** Class centroids: per-(label, term) summed weights of labeled docs. */
  def classCentroids(weights: DataFrame, labels: DataFrame,
                     docCol: String, labelCol: String): DataFrame = {
    val spark = weights.sparkSession
    import spark.implicits._
    weights
      .join(labels.select(col(docCol).as("doc"), col(labelCol).as("label")), "doc")
      .groupBy($"label", $"term").agg(sum($"w").as("cw"))
  }

  /** Pairwise document TF-IDF cosine — the reference's similarity-MATRIX
    * capability (assets/Visualization Cosine Similarity Matrix/main.py),
    * re-expressed sparse: dots come from an inverted-index self-join on
    * `term`, so work is Σ df(term)² over shared terms, never |docs|².
    * `maxDocFreq` drops stopword-grade terms before the self-join (the
    * q18-style hot-key cap); dropped terms only LOWER dots while norms
    * stay exact, and the oracle applies the identical cap. */
  def pairwiseCosine(weights: DataFrame, minCosine: Double,
                     maxDocFreq: Int = 1000): DataFrame = {
    val spark = weights.sparkSession
    import spark.implicits._
    val norms = weights.groupBy($"doc").agg(sum($"w" * $"w").as("nn"))
    // [[termWeights]] output already carries df — the hot-term cut is a
    // MAP-SIDE filter, not a recomputed groupBy + anti-join
    val cold = weights.filter($"df" <= maxDocFreq)
      .select($"term", $"doc", $"w")
    val a = cold.select($"term", $"doc".as("doc_a"), $"w".as("wa"))
    val b = cold.select($"term", $"doc".as("doc_b"), $"w".as("wb"))
    a.join(b, Seq("term")).filter($"doc_a" < $"doc_b")
      .groupBy($"doc_a", $"doc_b").agg(sum($"wa" * $"wb").as("dot"))
      .join(norms.select($"doc".as("doc_a"), $"nn".as("na")), "doc_a")
      .join(norms.select($"doc".as("doc_b"), $"nn".as("nb")), "doc_b")
      .withColumn("cos_sim",
        round($"dot".cast("double") /
          nullif(sqrt($"na".cast("double")) * sqrt($"nb".cast("double")),
                 lit(0.0)), 6))
      .filter($"cos_sim" >= minCosine)
      .select($"doc_a", $"doc_b", $"cos_sim")
  }

  /** Classify query docs: cosine(query sparse vector, class centroid) via a
    * term-keyed join; top-1 label by (cos desc, label asc) — T6 argmax via
    * partial-aggregable min_by, no window over the corpus. */
  def classify(queryWeights: DataFrame, centroids: DataFrame): DataFrame = {
    val spark = queryWeights.sparkSession
    import spark.implicits._
    val qNorm = queryWeights.groupBy($"doc").agg(sum($"w" * $"w").as("qn"))
    val cNorm = centroids.groupBy($"label").agg(sum($"cw" * $"cw").as("cn"))
    val dots = queryWeights.join(centroids, "term")
      .groupBy($"doc", $"label").agg(sum($"w" * $"cw").as("dot"))
    // nullif: a query doc whose terms all weigh 0 (tf*scale < df in a huge
    // corpus) has qn=0, and Divide THROWS on /0 under default ANSI — the
    // score degrades to null instead (argmax then picks among real scores)
    val scored = dots.join(qNorm, "doc").join(broadcast(cNorm), "label")
      .withColumn("cos_sim",
        round($"dot".cast("double") /
          nullif(sqrt($"qn".cast("double")) * sqrt($"cn".cast("double")),
                 lit(0.0)), 6))
    // null scores must sort LAST in the argmax: struct ordering is
    // nulls-FIRST, so a bare -cos_sim key would prefer a degenerate
    // (zero-norm) label over any real score. coalesce to +Inf pushes
    // nulls behind every real score, matching the oracle's
    // ORDER BY cos_sim DESC (DuckDB default null order: last).
    scored.groupBy($"doc")
      .agg(min_by(struct($"label", $"cos_sim"),
             struct(coalesce(-$"cos_sim", lit(Double.PositiveInfinity)),
                    $"label"))
        .as("best"))
      .select($"doc", $"best.label".as("predicted"), $"best.cos_sim".as("cos_sim"))
  }

  /** Feature-hashing (hashing-trick) term-frequency vectors: each word
    * maps to `bucket = first-8-hex-of-md5 mod dim` — a fixed,
    * engine-independent rule (`conv(hex, 16, 10)` here ≡
    * `('0x'||hex)::BIGINT` in the oracle) — and a document's vector is
    * its per-bucket word counts. Sparse output `(id, bucket, tf)`; rows
    * only for occupied buckets, docs with no tokens emit nothing.
    *
    * This is the text→fixed-dim bridge: the output feeds any embedding
    * operator (cosine similarity, clustering, covariance) without a
    * trained vocabulary, and the whole thing is one scan + one
    * partial-aggregable groupBy — no vocab table, no joins. */
  def hashingTf(docs: DataFrame, idCol: String, textCol: String,
                dim: Int = 64): DataFrame = {
    require(dim >= 1, "dim must be >= 1")
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).as("id"),
        explode(Dedup.tokens(col(textCol))).as("w"))
      .withColumn("bucket",
        (conv(substring(md5($"w"), 1, 8), 16, 10).cast("long") % dim)
          .cast("int"))
      .groupBy($"id", $"bucket")
      .agg(count(lit(1)).as("tf"))
  }

  /** Multinomial Naive Bayes over [[hashingTf]] buckets — the
    * fasttext-style linear text classifier every curation pipeline runs
    * (lang-id, quality tiers, domain tags), trained and scored in one
    * plan. Model: per-class prior `ln(n_c / N)` over document counts plus
    * per-(class, bucket) likelihood `ln((cnt+1) / (tot_c + dim))`
    * (add-one smoothing over the FULL class x bucket grid, so unseen
    * buckets score the floor instead of dropping out). Prediction is the
    * partial-aggregable argmax (score desc, class asc), matching
    * [[Similarity.centroidClassify]]'s tie rule.
    *
    * Scale shape: one tokenization pass (checkpointed — it feeds the
    * model aggregate AND the scoring join); the model is a
    * (classes x dim)-row broadcast; scoring multiplies the pre-aggregated
    * (id, bucket) counts by |classes| — a constant — then argmaxes with
    * map-side partials. Documents with no tokens score prior-only, so
    * every input row classifies. Log terms round to 6 before summing
    * (the internalized-model rule) so both engines sum identical terms.
    */
  def hashedNaiveBayes(docs: DataFrame, idCol: String, textCol: String,
                       classCol: String, dim: Int = 64): DataFrame = {
    require(dim >= 1, "dim must be >= 1")
    val spark = docs.sparkSession
    import spark.implicits._
    val d = Par.ensure(docs)
    val db = d.select(col(idCol).as("id"), col(classCol).as("cls"),
        explode(Dedup.tokens(col(textCol))).as("w"))
      .withColumn("bucket",
        (conv(substring(md5($"w"), 1, 8), 16, 10).cast("long") % dim)
          .cast("int"))
      .groupBy($"id", $"cls", $"bucket")
      .agg(count(lit(1)).as("tf"))
      .materialized()
    val classes = d.groupBy(col(classCol).as("cls"))
      .agg(count(lit(1)).as("n_docs"))
    val nTot = classes.agg(sum($"n_docs").as("n_tot"))
    val priors = classes.crossJoin(broadcast(nTot))
      .select($"cls",
        round(log($"n_docs".cast("double") / $"n_tot".cast("double")), 6)
          .as("prior"))
    val counts = db.groupBy($"cls", $"bucket").agg(sum($"tf").as("cn"))
    val ctot = counts.groupBy($"cls").agg(sum($"cn").as("ct"))
    // full class x bucket grid: unseen buckets must score the smoothing
    // floor, not vanish from the join
    val grid = classes.select($"cls")
      .crossJoin(spark.range(dim).select($"id".cast("int").as("bucket")))
    val model = grid
      .join(counts, Seq("cls", "bucket"), "left")
      .join(ctot, Seq("cls"), "left")
      .select($"cls".as("mcls"), $"bucket",
        round(log((coalesce($"cn", lit(0L)) + 1).cast("double") /
          (coalesce($"ct", lit(0L)) + dim).cast("double")), 6).as("logp"))
    val ll = db.join(broadcast(model), db("bucket") === model("bucket"))
      .groupBy($"id", $"mcls")
      .agg(sum($"tf".cast("double") * $"logp").as("llsum"))
      .select($"id".as("lid"), $"mcls", $"llsum")
    val full = d.select(col(idCol).as("id")).crossJoin(broadcast(priors))
    full.join(ll, full("id") === ll("lid") && full("cls") === ll("mcls"),
        "left")
      .select(full("id").as("id"), full("cls").as("cls"),
        round($"prior" + coalesce($"llsum", lit(0.0)), 6).as("score"))
      .groupBy($"id")
      // argmax tie-break: highest score, then smallest class; null score
      // cannot occur (prior is always defined) but loses defensively
      .agg(min_by(struct($"cls", $"score"),
        struct(coalesce(-$"score", lit(Double.PositiveInfinity)).as("ns"),
          $"cls")).as("best"))
      .select($"id", $"best.cls".as("pred_cls"), $"best.score".as("score"))
  }
}
