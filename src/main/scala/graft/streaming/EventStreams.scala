package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Event-log operators over the `events` table shape (SURVEY.md §2.8:
  * the reference is batch-only). The catalog runs the batch operators —
  * q54's [[sessionizeBatch]] and q278's [[psiMonitorBatch]] — and q192
  * runs [[clickAttribution]] on batch frames. [[clickAttribution]] and
  * [[hllUserRegisters]] are also stream-safe: watermarked, with
  * state bounded by the watermark, so a caller may hand them a
  * `readStream` frame unchanged (EventStreamsSpec runs both over a
  * memory stream against their batch forms).
  */
object EventStreams {

  final case class Event(event_id: Long, ts: Timestamp, user_id: Long,
                         event_type: String, value: Double, props: String)

  /** Streaming HLL register table for distinct users per tumbling hour:
    * `(win, bucket, r)` — the MERGEABLE sketch state (<= 64 small-int
    * rows per window), as ONE watermarked aggregation. This is how
    * distinct-per-window streams at scale: `count(distinct)` cannot
    * stream at all (unbounded state, and the estimate fold would be a
    * second chained aggregation); the register stream keeps
    * watermark-bounded state and downstream (foreachBatch / the batch
    * reader) folds registers with
    * [[graft.analytics.Sketches.estimateFromRegisters]]. Registers are
    * built by the SAME expression builder as the batch estimator
    * ([[graft.analytics.Sketches.withHllCols]]), so stream and batch
    * cannot drift — the q118 differential spec pins it. */
  def hllUserRegisters(events: DataFrame,
                       watermark: String = "2 hours"): DataFrame =
    graft.analytics.Sketches.withHllCols(
        events.withWatermark("ts", watermark),
        col("user_id").cast("string"))
      .groupBy(window(col("ts"), "1 hour").as("win"), col("bucket"))
      .agg(max(col("rho")).as("r"))

  /** Stream-STREAM interval join: attribute each purchase to a click by
    * the same user within the preceding `windowMinutes`. Both sides are
    * watermarked and the join condition bounds the time range in BOTH
    * directions, so each side's buffered state is evicted once the
    * watermark passes its window — the canonical bounded-state
    * stream-stream join shape. Shuffle key is user_id on both sides. */
  def clickAttribution(clicks: DataFrame, purchases: DataFrame,
                       windowMinutes: Int = 30,
                       watermark: String = "1 hour"): DataFrame = {
    val c = clicks
      .withWatermark("ts", watermark)
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"),
              col("event_id").as("click_id"))
    val p = purchases
      .withWatermark("ts", watermark)
      .select(col("user_id"), col("ts").as("purchase_ts"),
              col("event_id").as("purchase_id"), col("value"))
    p.join(c,
        col("user_id") === col("c_user") &&
          col("click_ts") <= col("purchase_ts") &&
          col("click_ts") >= col("purchase_ts") -
            expr(s"INTERVAL $windowMinutes MINUTES"))
      .drop("c_user")
  }

  /** Batch gap-based sessionization (a session closes after `gapMinutes`
    * of silence), expressed as windows so it is oracle-checkable: flag
    * rows whose gap from the previous event exceeds the threshold,
    * running-sum the flags into session indexes, aggregate. Two window
    * passes + one aggregation, all keyed on user — one shuffle at scale.
    * Ties on ts break by event id in both engines. */
  def sessionizeBatch(events: DataFrame, gapMinutes: Int = 30,
                      idCol: String = "event_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col(idCol))
    val gapUs = gapMinutes * 60L * 1000000L
    val newSession =
      when(lag(col("ts"), 1).over(byUser).isNull ||
             unix_micros(col("ts")) -
               unix_micros(lag(col("ts"), 1).over(byUser)) > gapUs, 1)
        .otherwise(0)
    events
      .withColumn("__new", newSession)
      .withColumn("session_idx",
        sum(col("__new")).over(byUser.rowsBetween(Window.unboundedPreceding,
                                                  Window.currentRow)))
      .groupBy(col("user_id"), col("session_idx"))
      .agg(min(col("ts")).as("session_start"),
           max(col("ts")).as("session_end"),
           count(lit(1)).as("n_events"),
           sum(col("value")).as("total_value"))
  }

  /** Hourly PSI drift monitor — per (key, HOUR) PSI of a value column
    * against a static reference slice, oracle-checkable: every hour with
    * data emits exactly one row, and the reference (the training
    * distribution) is the `refPred` slice of the same frame. The PSI
    * arithmetic is the [[graft.analytics.Stats.psiDrift]] expression tree
    * verbatim —
    * eps floor, per-bin terms as 1e9-scaled HALF_UP integers, round-6
    * total, 0.1/0.25 verdicts; keys with no reference rows emit null
    * psi + `no_data`.
    *
    * Scale shape: raw volume stops at ONE keyed aggregate — the
    * (key, hour, bin) table with the reference slice as a conditional
    * count in the same pass; the (key, bin) reference re-aggregates
    * that dictionary-x-calendar bounded grid (nBins <= 20 cells per
    * key-hour), and the bin-union grid, totals join, and per-hour
    * fold all run over it. Output: (key, hr, n, psi, verdict),
    * hr = unix hour. */
  def psiMonitorBatch(events: org.apache.spark.sql.DataFrame,
                      refPred: org.apache.spark.sql.Column,
                      keyCol: String, tsCol: String, valueCol: String,
                      binWidth: Double = 10.0, nBins: Int = 20,
                      eps: Double = 1e-4): org.apache.spark.sql.DataFrame = {
    require(binWidth > 0 && nBins >= 2 && eps > 0,
      "need binWidth > 0, nBins >= 2, eps > 0")
    import org.apache.spark.sql.functions._
    val spark = events.sparkSession
    import spark.implicits._
    val base = graft.analytics.Par.ensure(events)
      .filter(col(valueCol).isNotNull)
    val bkt = least(lit(nBins - 1), greatest(lit(0),
      floor(col(valueCol) / binWidth))).cast("int")
    // FLOOR division (pmod makes the numerator an exact multiple), not
    // `DIV`: DIV truncates toward zero, so a pre-1970 timestamp would
    // land one hour late vs the oracle's floor(epoch/3600)
    val hrOf = expr(s"(unix_micros($tsCol) - pmod(unix_micros($tsCol), " +
      "3600000000)) DIV 3600000000")
    // ONE raw scan serves BOTH distributions: the reference slice is a
    // conditional count inside the same (key, hr, bkt) aggregate the
    // current distribution needs (two separate aggs re-scanned the
    // feed twice — the only raw-volume work in this op). The grid is
    // MATERIALIZED because five consumers read it (cur twice via grid
    // and the final join, hours, ref, refTot): left lazy, each consumer
    // re-ran the raw aggregate from the source — the fold's plan still
    // carried 7 source scans and no exchange reuse. Checkpointing the
    // dictionary x calendar bounded grid (<= keys x hours x nBins rows)
    // makes every downstream consumer a scan of those blocks, so raw
    // volume is read exactly once per call at ANY scale.
    val g = base
      .select(col(keyCol).as("key"), hrOf.as("hr"), bkt.as("bkt"),
        when(refPred, 1L).otherwise(0L).as("isr"))
      .groupBy($"key", $"hr", $"bkt")
      .agg(count(lit(1)).cast("long").as("cc"),
        sum($"isr").cast("long").as("ccr"))
    val gM = graft.analytics.Par.materialize(g)
    val cur = gM.select($"key", $"hr", $"bkt", $"cc")
    // cr = 0 bins are NOT reference bins: the old filter-first agg
    // only emitted (key, bkt) groups the reference slice actually hit,
    // and the bin-union grid below must see exactly that set
    val ref = gM.groupBy($"key", $"bkt")
      .agg(sum($"ccr").cast("long").as("cr"))
      .filter($"cr" > 0L)
    val refTot = ref.groupBy($"key").agg(sum($"cr").cast("long").as("nr"))
    val hours = cur.groupBy($"key", $"hr")
      .agg(sum($"cc").cast("long").as("n"))
    // bin-union grid per (key, hour): bins present in the hour OR in
    // the key's reference — a bin on only one side still contributes
    // its eps-floored term, as in psiDrift's full-outer join
    val grid = cur.select($"key", $"hr", $"bkt")
      .union(hours.select($"key", $"hr")
        .join(ref.select($"key", $"bkt"), Seq("key")))
      .distinct()
    val nr0 = coalesce($"nr", lit(0L))
    val p = greatest(coalesce($"cr", lit(0L)).cast("double") /
      when(nr0 > 0L, nr0.cast("double")), lit(eps))
    val q = greatest(coalesce($"cc", lit(0L)).cast("double") /
      when($"n" > 0L, $"n".cast("double")), lit(eps))
    val term = round((p - q) * log(p / q) * 1e9).cast("long")
    grid
      .join(cur, Seq("key", "hr", "bkt"), "left")
      .join(ref, Seq("key", "bkt"), "left")
      .join(hours, Seq("key", "hr"))
      .join(refTot, Seq("key"), "left")
      .groupBy($"key", $"hr")
      .agg(max($"n").as("n"), max(nr0).as("nr"),
        (round(sum(term) / 1e9 * 1e6) / 1e6).as("psi_raw"))
      .select($"key", $"hr", $"n",
        when($"nr" > 0L, $"psi_raw").as("psi"))
      .withColumn("verdict",
        when($"psi".isNull, "no_data")
          .when($"psi" > 0.25, "drifted")
          .when($"psi" > 0.1, "watch")
          .otherwise("stable"))
  }
}
