package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Corpus ingestion over arriving documents: the training-data gate
  * ([[graft.analytics.TextAnalysis.corpusFilter]]'s dedup + quality +
  * language, plus q60's decontamination) as one batch operator, and a
  * stateless scorer under a persisted quality-filter model. The gate's
  * flag expressions are the SAME code as batch (`TextAnalysis.corpusFlags`);
  * q191 runs [[ingestGateBatch]] and q277 runs [[scoreStream]].
  *
  * Scale shape: flags are map-side; exact dedup keeps the min id per
  * 32-char fingerprint (one window over the fingerprint); decontamination
  * is a left-anti join against the benchmark-sized eval fingerprint set,
  * broadcast exactly like q60's batch form. [[scoreStream]] collects its
  * model artifact into plan literals, so it also runs unchanged over a
  * `readStream` frame (EventStreamsSpec runs it over a memory stream).
  */
object CorpusIngest {

  /** Gate a documents table: keep only docs that are the min id of their
    * fingerprint (one window over the 32-byte fp — a ~50-byte/row
    * exchange, text never shuffles), pass the quality bar, match
    * `keepLang`, and do not collide with the eval set. `evalFps` must
    * carry an `fp` column of md5(text) fingerprints
    * (dimension/benchmark-sized). Output: (id, lang_guess), gated rows
    * only. */
  def ingestGateBatch(docs: DataFrame, idCol: String, textCol: String,
                      evalFps: DataFrame,
                      keepLang: String = "en"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val flagged = graft.analytics.TextAnalysis.corpusFlags(docs, textCol)
      .select(col(idCol), col("fp"), col("q_ok"), col("lang_guess"))
    flagged
      .withColumn("first_id",
        min(col(idCol)).over(Window.partitionBy(col("fp"))))
      .filter(col(idCol) === col("first_id") &&
        col("q_ok") && col("lang_guess") === keepLang)
      .join(broadcast(evalFps.select(col("fp"))), Seq("fp"), "left_anti")
      .select(col(idCol), col("lang_guess"))
  }

  /** Score a document stream under a persisted
    * [[graft.analytics.Selection.logregTrain]] `(b, wt, mu, s)` model
    * artifact — model-artifact SERVING: the trained quality filter
    * applied to continuously-arriving docs with zero streaming state
    * (no watermark, no aggregation; a crashed query restarts clean).
    *
    * The batch scorer groups exploded feature rows; a stream cannot
    * aggregate per-doc without state, so this scorer folds the SAME
    * margin entirely within each row:
    * `Σ_tokens weff(bucket(tok)) / len + w_bias − c` — algebraically
    * identical to the batch margin (x_b = tf_b/len collapses into the
    * per-token sum), associativity differing only in ulps that the
    * round-6 score absorbs. Works on batch frames too (it is plain
    * map-side column algebra), which is how the spec differentially
    * pins it to [[graft.analytics.Selection.logregScore]].
    * Output: (id, score, keep). */
  def scoreStream(model: DataFrame, docs: DataFrame, idCol: String,
                  textCol: String, dim: Int = 64): DataFrame = {
    val rows = model.select(col("b").cast("int"), col("wt").cast("double"),
        col("mu").cast("double"), col("s").cast("double"))
      .collect()
      .map(r => r.getInt(0) -> (r.getDouble(1), r.getDouble(2),
        r.getDouble(3))).toMap
    require(rows.size == dim + 1,
      s"model must have dim+1 = ${dim + 1} rows, got ${rows.size}")
    def sOf(b: Int) = { val sv = rows(b)._3; if (sv == 0.0) 1.0 else sv }
    val weff = (0 to dim).map(b => rows(b)._1 / sOf(b))
    val c = (0 to dim).map(b => rows(b)._1 * rows(b)._2 / sOf(b)).sum
    val weffArr = array(weff.take(dim).map(lit(_)): _*)
    val toks = graft.analytics.Dedup.tokens(col(textCol))
    val sxTok = aggregate(
      transform(toks, t => element_at(weffArr,
        (conv(substring(md5(t), 1, 8), 16, 10).cast("long") % dim)
          .cast("int") + 1)),
      lit(0.0), (acc, v) => acc + v)
    val mg = when(size(toks) > 0, sxTok / size(toks).cast("double"))
      .otherwise(lit(0.0)) + lit(weff(dim)) - lit(c)
    docs.select(col(idCol).as("id"),
        round(lit(1.0) / (lit(1.0) + exp(-mg)), 6).as("score"))
      .withColumn("keep", col("score") >= 0.5)
  }
}
