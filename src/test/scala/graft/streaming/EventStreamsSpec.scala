package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.streaming.EventStreams.Event

class EventStreamsSpec extends SparkTestBase {

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2025-01-01 ${minute / 60}%02d:${minute % 60}%02d:00")

  private def ev(id: Long, minute: Int, user: Long = 1L, value: Double = 1.0) =
    Event(id, ts(minute), user, "click", value, "{}")

  private def runAll(name: String, df: org.apache.spark.sql.DataFrame,
                     mode: String = "append"): org.apache.spark.sql.DataFrame = {
    val q = df.writeStream.format("memory").queryName(name)
      .outputMode(mode).start()
    q.processAllAvailable(); q.stop()
    spark.table(name)
  }

  test("hllUserRegisters: streamed registers equal the batch registers " +
       "and fold to the same estimate (shared expression builder)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val events = (1 to 40).map(i => ev(i, minute = (i % 2) * 60 + i % 50,
      user = (i % 13).toLong)) // 13 distinct users across 2 hours
    in.addData(events: _*)
    val streamed = runAll("hllregs",
        EventStreams.hllUserRegisters(in.toDF()), "complete")
      .select(col("win.start").as("hour"), col("bucket"), col("r"))
    val batchDf = events.toDF()
    val batch = graft.analytics.Sketches.withHllCols(
        batchDf, col("user_id").cast("string"))
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("bucket"))
      .agg(max(col("rho")).as("r"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getTimestamp(0), r.getInt(1), r.getInt(2))).toSet
    assert(rows(streamed) === rows(batch), "register tables must match")
    val est = graft.analytics.Sketches
      .estimateFromRegisters(streamed, Seq("hour"))
      .collect().map(r => r.getTimestamp(0) -> r.getDouble(2)).toMap
    // small-cardinality regime -> linear counting, near-exact
    est.values.foreach(e => assert(math.abs(e - 13.0) / 13.0 < 0.3,
      s"estimate $e far from 13 distinct users"))
  }

  test("stream-stream click attribution joins purchases to clicks within " +
       "the window, across micro-batches, bounded state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[Event]
    val purchases = MemoryStream[Event]
    // click at 10 and 100 for user 1; purchase at 25 (attributes to click
    // 10, 15min prior) and at 140 (attributes to click 100, 40min prior —
    // OUTSIDE the 30min window)
    clicks.addData(ev(1, 10, user = 1))
    purchases.addData(ev(50, 25, user = 1))
    clicks.addData(ev(2, 100, user = 1))
    purchases.addData(ev(51, 140, user = 1))
    val out = runAll("attrib",
      EventStreams.clickAttribution(clicks.toDF(), purchases.toDF(),
                                    windowMinutes = 30))
      .orderBy("purchase_id").collect()
    assert(out.map(r => (r.getAs[Long]("purchase_id"),
                         r.getAs[Long]("click_id"))).toSeq ===
      Seq((50L, 1L))) // purchase 51 has no in-window click
  }

  test("scoreStream serves the persisted logreg artifact statelessly and " +
       "matches the batch scorer on identical docs (differential)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val train = (0L until 40L).map { i =>
      if (i % 2 == 0) (i, "good clean prose text here", 1)
      else (i, "spam junk garbage noise blob", 0)
    }.toDF("doc_id", "text", "y")
    val model = graft.analytics.Selection.logregTrain(
      train, "doc_id", "text", col("y") === 1, dim = 64, iters = 10)
    val fresh = Seq((100L, "good clean prose text here"),
      (101L, "spam junk garbage noise blob"),
      (102L, ""))
    val in = MemoryStream[(Long, String)]
    in.addData(fresh: _*)
    val q = CorpusIngest.scoreStream(model,
        in.toDF().toDF("doc_id", "text"), "doc_id", "text")
      .writeStream.format("memory").queryName("scored")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("scored")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val batch = graft.analytics.Selection.logregScore(model,
        fresh.toDF("doc_id", "text"), "doc_id", "text", lit(0), dim = 64)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(streamed.keySet === batch.keySet)
    for ((id, s) <- streamed)
      assert(math.abs(s - batch(id)) <= 1e-6,
        s"doc $id: stream $s vs batch ${batch(id)}")
    assert(streamed(100L) > streamed(101L),
      "the served model must still separate prose from spam")
  }

  test("psiMonitorBatch: per-hour PSI vs the reference slice equals " +
       "batch psiDrift on every live hour; unknown key is no_data") {
    import spark.implicits._
    val base = Timestamp.valueOf("2025-01-01 00:00:00").getTime
    val baseHr = Math.floorDiv(base, 3600000L)
    var id = 0L
    def burst(tpe: String, h: Int, values: Seq[Double]): Seq[Event] =
      values.map { v =>
        id += 1
        Event(id, new Timestamp(base + h * 3600000L + id % 3000 * 1000L),
          1L, tpe, v, "{}")
      }
    val rnd = new scala.util.Random(41)
    // reference (training) distribution per type
    val refVals = Map(
      "A" -> Seq.fill(300)(rnd.nextDouble() * 60),
      "B" -> Seq.fill(300)(rnd.nextDouble() * 200))
    // live hours: h0 matches training, h1 shifts A's mass, h2 extreme;
    // type "C" has no reference -> no_data
    val evs =
      burst("A", 0, Seq.fill(150)(rnd.nextDouble() * 60)) ++
      burst("A", 1, Seq.fill(150)(30 + rnd.nextDouble() * 90)) ++
      burst("A", 2, Seq.fill(150)(190.0 + rnd.nextDouble() * 5)) ++
      burst("B", 0, Seq.fill(100)(rnd.nextDouble() * 200)) ++
      burst("C", 0, Seq.fill(20)(rnd.nextDouble() * 10))
    // the catalog's shape (q278): ONE frame where the reference is the
    // refPred slice, parked at a far hour and excluded from the compare
    val refRows = refVals.toSeq.flatMap { case (t, vs) =>
      vs.map(v => (t, new Timestamp(base + 50 * 3600000L), 0L, v))
    }
    val liveRows = evs.map(e => (e.event_type, e.ts, 1L, e.value))
    val frame = (refRows ++ liveRows)
      .toDF("event_type", "ts", "user_id", "value")
    val batch = EventStreams.psiMonitorBatch(frame,
        refPred = col("user_id") === 0L,
        keyCol = "event_type", tsCol = "ts", valueCol = "value")
      .filter($"hr" < baseHr + 50)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), Option(r.get(3)).map(_.asInstanceOf[Double]),
          r.getString(4))).toMap
    assert(batch.keySet === Set(("A", baseHr), ("A", baseHr + 1),
      ("A", baseHr + 2), ("B", baseHr), ("C", baseHr)))
    // per (type, hour): union the reference (side 0) with that hour's
    // slice (side 1) and run the q195 operator
    for (((tpe, hr), (n, psi, verdict)) <- batch if tpe != "C") {
      val hourSlice = evs.filter(e => e.event_type == tpe &&
        Math.floorDiv(e.ts.getTime, 3600000L) == hr)
      assert(n === hourSlice.size.toLong)
      val both = refVals(tpe).map(v => (tpe, 0L, v)) ++
        hourSlice.map(e => (tpe, 1L, e.value))
      val b = graft.analytics.Stats.psiDrift(
          both.toDF("k", "side", "value"), "k", "value",
          refPred = col("side") === 0, curPred = col("side") === 1)
        .head()
      val bPsi = Option(b.get(3)).map(_.asInstanceOf[Double])
      assert(psi === bPsi, s"($tpe, $hr): monitor $psi vs psiDrift $bPsi")
      assert(verdict === b.getString(4), s"($tpe, $hr) verdict")
    }
    // drift ordering: matched hour stable-or-watch, extreme hour worst
    assert(batch(("A", baseHr))._3 !== "drifted")
    assert(batch(("A", baseHr + 2))._3 === "drifted")
    assert(batch(("C", baseHr)) === ((20L, None, "no_data")))
  }
}
