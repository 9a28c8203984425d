package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming extension over the `events` stream shape
  * (SURVEY.md §2.8: the reference is batch-only — its asyncio machinery is
  * chunk concurrency, not streaming — so this is the engine's forward
  * surface for continuous feeds: q15's windowed aggregation, plus
  * streaming dedup and stateful sessions).
  *
  * All operators are plan-shape-only (readStream in, transformed stream
  * out): callers bind sources/sinks. Watermarks bound state; at scale the
  * shuffle keys are (window) / (window, user) / (user) — the same keyed
  * partitioning Spark uses for the batch equivalents.
  */
object EventStreams {

  final case class Event(event_id: Long, ts: Timestamp, user_id: Long,
                         event_type: String, value: Double, props: String)

  final case class Session(user_id: Long, session_start: Timestamp,
                           session_end: Timestamp, n_events: Long,
                           total_value: Double)

  /** q15's tumbling 1h aggregation as a stream: watermarked event time,
    * partial aggregation before the (window) shuffle. */
  def hourlyCounts(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour").as("win"))
      .agg(count(lit(1)).as("n_events"),
           sum(col("value")).as("total_value"),
           approx_count_distinct(col("user_id")).as("approx_users"))
      .select(col("win.start").as("hour"), col("n_events"),
              col("total_value"), col("approx_users"))

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

  /** Streaming exact dedup on event_id: state bounded by the watermark
    * (late duplicates beyond it are dropped by definition). */
  def dedupEvents(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** Stream-static enrichment: join the event stream against a (batch)
    * dimension — the streaming mirror of the batch category attach (J1).
    * The static side is re-planned per micro-batch, so a broadcast-sized
    * dimension costs one broadcast per batch and the STREAM side never
    * shuffles; left join keeps unmatched events with the reference's
    * 'Undefined' default. */
  def enrich(events: DataFrame, dim: DataFrame, key: String,
             defaults: Map[String, String] = Map.empty): DataFrame = {
    val joined = events.join(broadcast(dim), Seq(key), "left")
    defaults.foldLeft(joined) { case (df, (c, d)) =>
      df.withColumn(c, coalesce(col(c), lit(d)))
    }
  }

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

  /** Bridge a stream into the engine's batch sinks: each micro-batch is
    * exported through the flagship CSV path (prune + sorted header + scrub
    * via `CsvSink.exportColumns`, distributed `;`-delimited part files)
    * into a per-batch directory. This is how a continuous feed reuses the
    * reference's converter surface — exactly-once per directory because a
    * batch either commits its parts or is retried whole (the directory is
    * overwritten, keyed by batchId).
    */
  def csvBatchSink(stream: DataFrame, outDir: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      if (!batch.isEmpty)
        graft.sinks.CsvSink.writeParts(
          graft.sinks.CsvSink.exportColumns(
            batch.select(batch.columns.map(c =>
              col("`" + c + "`").cast("string").as(c)).toSeq: _*)),
          s"$outDir/batch_$batchId")
    }

  /** Batch gap-based sessionization — the same session semantics as the
    * streaming [[sessionize]] (a session closes after `gapMinutes` of
    * silence), expressed as windows so it is oracle-checkable and usable
    * on historical data: flag rows whose gap from the previous event
    * exceeds the threshold, running-sum the flags into session indexes,
    * aggregate. Two window passes + one aggregation, all keyed on user —
    * one shuffle at scale. Ties on ts break by event id in both engines. */
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

  /** Gap-based sessionization per user via flatMapGroupsWithState: a
    * session closes after `gapMinutes` of silence (event-time timeout);
    * emits one row per closed session. Custom keyed state — the case the
    * built-in operators genuinely can't express. */
  def sessionize(events: Dataset[Event], gapMinutes: Int = 30,
                 watermark: String = "2 hours"): Dataset[Session] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapMs = gapMinutes * 60L * 1000L

    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[Session, Session](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (user: Long, it: Iterator[Event], state: GroupState[Session]) =>
          if (state.hasTimedOut) {
            val closed = state.get
            state.remove()
            Iterator.single(closed)
          } else {
            val sorted = it.toSeq.sortBy(_.ts.getTime)
            var closedSessions = List.empty[Session]
            var cur = state.getOption
            // very-late events BEFORE the open session chain into their
            // own gap-merged session(s): a late BURST within the gap forms
            // ONE session (same semantics as sessionizeBatch), not one
            // single-event session each
            var lateCur: Option[Session] = None
            sorted.foreach { e =>
              cur match {
                // an event within the gap of EITHER session edge merges;
                // without the start-side bound, any late event would merge
                // (negative gap always <= gapMs) no matter how old, and a
                // mildly-late one would never extend session_start backward
                case Some(s)
                    if e.ts.getTime - s.session_end.getTime <= gapMs &&
                       s.session_start.getTime - e.ts.getTime <= gapMs =>
                  cur = Some(s.copy(
                    session_start = new Timestamp(
                      math.min(s.session_start.getTime, e.ts.getTime)),
                    session_end = new Timestamp(
                      math.max(s.session_end.getTime, e.ts.getTime)),
                    n_events = s.n_events + 1,
                    total_value = s.total_value + e.value))
                case Some(s) if e.ts.getTime > s.session_end.getTime =>
                  closedSessions ::= s
                  cur = Some(Session(user, e.ts, e.ts, 1L, e.value))
                case Some(_) =>
                  lateCur match {
                    case Some(ls)
                        if e.ts.getTime - ls.session_end.getTime <= gapMs =>
                      // sorted ascending, so only the end can move
                      lateCur = Some(ls.copy(
                        session_end = new Timestamp(
                          math.max(ls.session_end.getTime, e.ts.getTime)),
                        n_events = ls.n_events + 1,
                        total_value = ls.total_value + e.value))
                    case other =>
                      other.foreach(closedSessions ::= _)
                      lateCur = Some(Session(user, e.ts, e.ts, 1L, e.value))
                  }
                case None =>
                  cur = Some(Session(user, e.ts, e.ts, 1L, e.value))
              }
            }
            // the late chain closes with the batch (anything that could
            // still join it is just as late and arrives in a later batch
            // as its own session — the documented cross-batch divergence is
            // CROSS-batch only: within this batch, a later event may have
            // merged into the open session and pulled session_start backward
            // to within gapMs of the late chain's end, in which case
            // sessionizeBatch would have produced one session — merge here
            // so the divergence stays cross-batch
            (lateCur, cur) match {
              case (Some(ls), Some(s))
                  if s.session_start.getTime - ls.session_end.getTime <= gapMs =>
                cur = Some(s.copy(
                  session_start = new Timestamp(
                    math.min(s.session_start.getTime, ls.session_start.getTime)),
                  n_events = s.n_events + ls.n_events,
                  total_value = s.total_value + ls.total_value))
              case (Some(ls), _) => closedSessions ::= ls
              case _ => ()
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.session_end.getTime + gapMs)
            }
            closedSessions.reverseIterator
          }
      }
  }

  final case class RateAlert(event_type: String, hr: Long, c: Long,
                             n_hist: Long, z: Option[Double],
                             anomaly: Boolean)

  // parallel sorted arrays, not a Map, and PUBLIC: the state encoder's
  // generated code invokes the accessors reflectively at runtime — a
  // private class's methods are invisible to it and codegen fails
  final case class RateState(hours: Array[Long], counts: Array[Long],
                             emittedThrough: Long)

  /** The q157 rate-spike monitor over a LIVE feed: per-type hourly
    * counts z-scored against that type's trailing `trailing` closed
    * hours, via flatMapGroupsWithState — an hour emits exactly once,
    * when the event-time watermark passes its end (so its count and its
    * whole trailing window are final), with the same history/variance
    * gates as the batch [[graft.analytics.Stats.rateAnomaly]].
    *
    * State per type is a counts map pruned to the last
    * `trailing + 1` relevant hours — bounded regardless of feed volume
    * or uptime. The z is rounded HALF_UP to 6 places like the batch
    * side; the batch==stream differential (EventStreamsSpec) compares z
    * at FP tolerance because the two sides accumulate variance in
    * different orders. */
  def rateMonitor(events: Dataset[Event], trailing: Int = 24,
                  minHist: Int = 12, zThresh: Double = 2.0,
                  watermark: String = "2 hours"): Dataset[RateAlert] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[RateState, RateAlert](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (tpe: String, it: Iterator[Event], state: GroupState[RateState]) =>
          val st = state.getOption.getOrElse(
            RateState(Array.empty, Array.empty, Long.MinValue))
          var counts = st.hours.zip(st.counts).toMap
          it.foreach { e =>
            val h = Math.floorDiv(e.ts.getTime, 3600000L)
            counts = counts.updated(h, counts.getOrElse(h, 0L) + 1L)
          }
          // hour h is CLOSED once the watermark reaches its end: every
          // event of h and of its whole trailing window has arrived
          val wm = state.getCurrentWatermarkMs()
          val closedMax =
            if (wm <= 0L) Long.MinValue else Math.floorDiv(wm, 3600000L) - 1L
          val ready = counts.keys.toSeq.sorted
            .filter(h => h > st.emittedThrough && h <= closedMax)
          val out = ready.map { h =>
            val hist = counts.collect {
              case (h2, c2) if h2 >= h - trailing && h2 <= h - 1 => c2
            }.toSeq
            val n = hist.size.toLong
            val c = counts(h)
            val zOpt =
              if (n >= minHist) {
                val mu = hist.sum.toDouble / n
                val sd = math.sqrt(
                  hist.map(x => (x - mu) * (x - mu)).sum / n)
                if (sd > 0)
                  Some(BigDecimal((c - mu) / sd)
                    .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
                else None
              } else None
            RateAlert(tpe, h, c, n, zOpt,
              zOpt.exists(z => math.abs(z) > zThresh))
          }
          val newEmitted = if (ready.nonEmpty) ready.max else st.emittedThrough
          // keep only hours that can still serve a future trailing window
          // (saturating subtraction: before anything has emitted,
          // newEmitted is Long.MinValue and `- trailing` would wrap
          // around to Long.MaxValue and prune EVERYTHING)
          val cutoff =
            if (newEmitted < Long.MinValue + trailing) Long.MinValue
            else newEmitted - trailing
          val pruned = counts.filter { case (h, _) => h > cutoff }
            .toSeq.sortBy(_._1)
          state.update(RateState(pruned.map(_._1).toArray,
            pruned.map(_._2).toArray, newEmitted))
          // a group with no new input is only re-invoked by a TIMEOUT —
          // without one, hours that close on a later watermark advance
          // would sit unemitted until the type's next event. Arm it for
          // the earliest unemitted hour's close (> wm by construction:
          // were it <= wm, the hour would be in `ready` above).
          val pending = pruned.map(_._1).filter(_ > newEmitted)
          if (pending.nonEmpty)
            state.setTimeoutTimestamp((pending.min + 1L) * 3600000L)
          out.iterator
      }
  }

  final case class PctRow(event_type: String, hr: Long, n: Long,
                          p50: Long, p90: Long, p99: Long)

  // parallel arrays (see RateState): the reflective state encoder needs
  // public accessors, and Array[Array[Long]] encodes natively
  final case class PctState(hours: Array[Long], hists: Array[Array[Long]],
                            emittedThrough: Long)

  /** Per-(type, hour) VALUE-DISTRIBUTION percentiles over a LIVE feed —
    * the latency-dashboard shape — with the mergeable
    * [[graft.functions.LogHist]] sketch held directly in the state
    * store: values land in micro-units (`round(value * 1e6)`, positive
    * longs), each open hour keeps one 960-counter histogram per type,
    * and an hour emits its p50/p90/p99 EXACTLY ONCE when the event-time
    * watermark closes it — so the emitted estimates are final and equal
    * the batch [[graft.analytics.Sketches.logHistQuantiles]] over the
    * same slice bit-for-bit (all-integer sketch, same ceil-rank rule;
    * EventStreamsSpec pins the differential).
    *
    * This is the state-store payoff the batch sketch was built for:
    * exact per-hour percentiles would hold every distinct value in
    * state; the histogram is a fixed 7.5 KB per open (type, hour)
    * regardless of rate, and merges by addition if a restart replays.
    * State prunes to OPEN hours only (no trailing window); event-time
    * timeouts re-arm per type so hours close on watermark advances
    * without new data (the [[rateMonitor]] rule). */
  def percentileMonitor(events: Dataset[Event], subBits: Int = 4,
                        watermark: String = "2 hours"): Dataset[PctRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    val nb = (64 - subBits) << subBits
    val qs = Seq(0.5, 0.9, 0.99)
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[PctState, PctRow](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (tpe: String, it: Iterator[Event], state: GroupState[PctState]) =>
          val st = state.getOption.getOrElse(
            PctState(Array.empty, Array.empty, Long.MinValue))
          var hists = st.hours.zip(st.hists).toMap
          it.foreach { e =>
            val h = Math.floorDiv(e.ts.getTime, 3600000L)
            // an event for an already-emitted hour is beyond-watermark
            // late: its hour's final row is out — drop, like any
            // append-mode watermark discard
            if (h > st.emittedThrough) {
              val v = math.round(e.value * 1e6)
              if (v >= 1L) {
                val arr = hists.getOrElse(h, new Array[Long](nb))
                arr(graft.functions.LogHist.bucketIndex(v, subBits)) += 1L
                hists = hists.updated(h, arr)
              }
            }
          }
          val wm = state.getCurrentWatermarkMs()
          val closedMax =
            if (wm <= 0L) Long.MinValue else Math.floorDiv(wm, 3600000L) - 1L
          val ready = hists.keys.toSeq.sorted
            .filter(h => h > st.emittedThrough && h <= closedMax)
          val out = ready.map { h =>
            val (n, ests) = graft.functions.LogHist
              .quantilesFromCounts(hists(h), subBits, qs)
            PctRow(tpe, h, n, ests(0), ests(1), ests(2))
          }
          val newEmitted = if (ready.nonEmpty) ready.max else st.emittedThrough
          // pruned keeps only unemitted (open) hours — unlike
          // rateMonitor's trailing-window state, everything here is
          // pending by construction
          val pruned = hists.filter(_._1 > newEmitted).toSeq.sortBy(_._1)
          state.update(PctState(pruned.map(_._1).toArray,
            pruned.map(_._2).toArray, newEmitted))
          if (pruned.nonEmpty)
            state.setTimeoutTimestamp((pruned.map(_._1).min + 1L) * 3600000L)
          out.iterator
      }
  }

  final case class PsiRow(event_type: String, hr: Long, n: Long,
                          psi: Option[Double], verdict: String)
  final case class PsiState(hours: Array[Long], bins: Array[Array[Long]],
                            emittedThrough: Long)

  /** Build the per-key reference bin counts
    * [[psiMonitor]] compares against — the TRAINING distribution,
    * computed once from a batch frame with the identical binning
    * [[graft.analytics.Stats.psiDrift]] uses. Output is
    * dictionary-sized (keys x nBins), the one collect. */
  def psiReferenceBins(df: org.apache.spark.sql.DataFrame, keyCol: String,
                       valueCol: String, binWidth: Double = 10.0,
                       nBins: Int = 20): Map[String, Array[Long]] = {
    import org.apache.spark.sql.functions._
    df.filter(col(valueCol).isNotNull)
      .select(col(keyCol).cast("string").as("k"),
        least(lit(nBins - 1), greatest(lit(0),
          floor(col(valueCol) / binWidth))).cast("int").as("b"))
      .groupBy("k", "b").count()
      .collect()
      .groupBy(_.getString(0))
      .map { case (k, rows) =>
        val arr = new Array[Long](nBins)
        rows.foreach(r => arr(r.getInt(1)) = r.getLong(2))
        k -> arr
      }
  }

  /** Batch replay of [[psiMonitor]] — per (key, HOUR) PSI of a value
    * column against a static reference slice, oracle-checkable (the
    * ingestGateBatch precedent): the feed plays the stream's role and
    * every hour is closed, so every hour with data emits exactly one
    * row; the reference (the stream's broadcast training map) is the
    * `refPred` slice of the same frame. The PSI arithmetic is the
    * [[graft.analytics.Stats.psiDrift]] expression tree verbatim —
    * eps floor, per-bin terms as 1e9-scaled HALF_UP integers, round-6
    * total, 0.1/0.25 verdicts; keys with no reference rows emit null
    * psi + `no_data`, exactly the stream's unknown-key rule.
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
    // land one hour late vs the oracle's floor(epoch/3600) and the
    // stateful stream path's Math.floorDiv
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

  /** Hourly PSI drift monitor over a LIVE feed: the
    * [[graft.analytics.Stats.psiDrift]] gate (q195) per event type,
    * each CLOSED hour's value distribution scored against a static
    * per-key reference (the training distribution, a keys x nBins
    * closure-broadcast map) — "is what we're serving still what we
    * trained on", continuously. Same close-on-watermark contract as
    * [[rateMonitor]]: an hour emits exactly once, when the event-time
    * watermark passes its end, and event-time timeouts re-arm per key
    * so hours close on watermark advances without new data. State per
    * key is the open hours' nBins integer counters — bounded
    * regardless of uptime.
    *
    * The PSI arithmetic replays the batch operator's expression tree
    * exactly (eps floor, per-bin terms as HALF_UP-rounded scaled
    * integers, final round 6, 0.1/0.25 verdicts) — the differential
    * spec pins streamed rows to `psiDrift` output on identical data.
    * Keys absent from the reference emit verdict `no_data`. */
  def psiMonitor(events: Dataset[Event],
                 reference: Map[String, Array[Long]],
                 binWidth: Double = 10.0, nBins: Int = 20,
                 eps: Double = 1e-4,
                 watermark: String = "2 hours"): Dataset[PsiRow] = {
    require(binWidth > 0 && nBins >= 2 && eps > 0,
      "need binWidth > 0, nBins >= 2, eps > 0")
    val spark = events.sparkSession
    import spark.implicits._
    def halfUp(x: Double, scale: Int): BigDecimal =
      BigDecimal(x).setScale(scale, BigDecimal.RoundingMode.HALF_UP)
    def psiOf(cur: Array[Long], ref: Option[Array[Long]])
        : (Long, Option[Double], String) = {
      val n = cur.sum
      val refArr = ref.getOrElse(Array.empty[Long])
      val nr = refArr.sum
      if (n == 0L || nr == 0L) (n, None, "no_data")
      else {
        var acc = 0L
        var i = 0
        while (i < nBins) {
          val p = math.max(refArr(i).toDouble / nr, eps)
          val q = math.max(cur(i).toDouble / n, eps)
          acc += halfUp((p - q) * math.log(p / q) * 1e9, 0).toLong
          i += 1
        }
        // mirror the batch operator's robust rounding exactly:
        // round((sum/1e9) * 1e6) / 1e6
        val psi = halfUp(acc / 1e9 * 1e6, 0).toDouble / 1e6
        val verdict =
          if (psi > 0.25) "drifted" else if (psi > 0.1) "watch" else "stable"
        (n, Some(psi), verdict)
      }
    }
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[PsiState, PsiRow](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (tpe: String, it: Iterator[Event], state: GroupState[PsiState]) =>
          val st = state.getOption.getOrElse(
            PsiState(Array.empty, Array.empty, Long.MinValue))
          var bins = st.hours.zip(st.bins).toMap
          it.foreach { e =>
            val h = Math.floorDiv(e.ts.getTime, 3600000L)
            if (h > st.emittedThrough) { // beyond-watermark late: drop
              val b = math.min(nBins - 1,
                math.max(0, math.floor(e.value / binWidth).toInt))
              val arr = bins.getOrElse(h, new Array[Long](nBins))
              arr(b) += 1L
              bins = bins.updated(h, arr)
            }
          }
          val wm = state.getCurrentWatermarkMs()
          val closedMax =
            if (wm <= 0L) Long.MinValue else Math.floorDiv(wm, 3600000L) - 1L
          val ready = bins.keys.toSeq.sorted
            .filter(h => h > st.emittedThrough && h <= closedMax)
          val out = ready.map { h =>
            val (n, psi, verdict) = psiOf(bins(h), reference.get(tpe))
            PsiRow(tpe, h, n, psi, verdict)
          }
          val newEmitted = if (ready.nonEmpty) ready.max else st.emittedThrough
          val pruned = bins.filter(_._1 > newEmitted).toSeq.sortBy(_._1)
          state.update(PsiState(pruned.map(_._1).toArray,
            pruned.map(_._2).toArray, newEmitted))
          if (pruned.nonEmpty)
            state.setTimeoutTimestamp((pruned.map(_._1).min + 1L) * 3600000L)
          out.iterator
      }
  }
}
