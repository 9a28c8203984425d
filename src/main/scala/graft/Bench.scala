package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = Sessions.local(cpus, appName = "graft-bench")
    // branch A/B conf passthrough (`SPARK_GRAFT_CONF="k=v,k=v"`)
    Harness.applyConf(spark)
    // warm the session (codegen, parquet reader, shuffle machinery, window
    // exec, text writer) so the first measured query isn't charged ~2-4s
    // of JVM/janino warmup
    spark.read.parquet(s"$sfDir/lineitem.parquet")
      .groupBy("l_returnflag").count().count()
    locally {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions._
      import spark.implicits._
      val w = Seq(("a", 1), ("a", 2), ("b", 3)).toDF("k", "v")
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("k")).orderBy(col("v"))))
        .select(concat_ws(";", col("k"), col("rn").cast("string")).as("value"))
      val tmp = java.nio.file.Files.createTempDirectory("graft_warm")
      w.write.mode("overwrite").text(tmp.resolve("t").toString)
      // tiny XML round-trip: compiles the offer-element concat expression
      // and the XML reader once, outside any measured query
      val x = Seq(("1", "w", "T", "1.00")).toDF("id", "name", "category_path", "price")
      val xp = tmp.resolve("w.xml").toString
      graft.sinks.XmlSink.writeYandexMarket(x, xp, date = "2025-01-01 00:00")
      spark.read.format("xml").option("rowTag", "offer").load(xp).count()
      // the SPLIT read path (lineSep text scan -> regex extract ->
      // xml(Dataset[String]) inference) is a separate plan family from the
      // native load above; q28-at-scale takes it, so warm it too
      graft.sources.XmlSource.readSplit(spark, xp, graft.sources.XmlSource.Yml)
        .count()
      // native kernel expressions (cosine/dot/ngrams) — first use pays
      // janino. collect() (not count()) so column pruning can't drop the
      // expressions, and the ngram input is a COLUMN so constant folding
      // can't evaluate it interpreted at plan time
      val vv = Seq((Array(1.0f, 2.0f), Array(3.0f, 4.0f), "a b c d"))
        .toDF("a", "b", "t")
      vv.select(
        graft.functions.CosineSimilarity.cosineSim(
          graft.analytics.Similarity.asDouble(col("a")),
          graft.analytics.Similarity.asDouble(col("b"))).as("c"),
        graft.functions.DotProduct.dotProduct(
          graft.analytics.Similarity.asDouble(col("a")),
          graft.analytics.Similarity.asDouble(col("b"))).as("d"),
        graft.functions.WordNgrams.wordNgrams(col("t"), 3).as("g"))
        .collect()
    }
    // optional args: run only the named queries (local profiling; the
    // driver passes no args and gets the full set)
    val wanted = args.toSet
    val picked =
      if (wanted.isEmpty) SparkEntry.queries
      else SparkEntry.queries.filter { case (n, _) => wanted(n) }
    // SPARK_GRAFT_BENCH_PASSES=N (default 3): run each query N times and
    // publish BOTH the first pass (cold plans — the round-over-round
    // comparison number, matching how r3–r5 measured) and the per-query
    // MEDIAN (steady state, robust to a host-load spike poisoning any
    // one pass — r7's driver artifact read 3-14x inflated because a
    // loaded host hit both of the two published passes). One artifact
    // carries both so neither can be mistaken for the other, and the
    // /proc/loadavg stamps below make an inflated run self-labeling.
    val passes = sys.env.get("SPARK_GRAFT_BENCH_PASSES")
      .map(v => v.toIntOption.getOrElse(
        sys.error(s"SPARK_GRAFT_BENCH_PASSES must be an integer, got '$v'")))
      .getOrElse(3).max(1)
    // ---- pinned calibration probe ----
    // The loadavg stamps below CANNOT see IO contention or hypervisor
    // steal: BENCH_r12 was ~3x wall-inflated on the driver host while
    // its load stamps read "quiet" (3.5-6.3 on 32 CPUs). So the
    // artifact now carries a DIRECT measurement: a fixed reference
    // workload — the warmup's lineitem groupBy-agg (parquet IO +
    // shuffle) plus a pinned 2M-row shuffle+window micro-plan (CPU +
    // sort) — timed immediately before pass 1 and again after the last
    // pass. A run whose probe reads >= 1.5x the committed quiet-host
    // band (BASELINE.md §calibration) is contended REGARDLESS of what
    // loadavg says; comparing probe_start_s/probe_end_s also shows
    // contention that arrived mid-run. The probe runs AFTER warmup, so
    // it never absorbs JVM/codegen first-use cost.
    def calibrationProbe(): Double = {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions._
      val t0 = System.nanoTime()
      spark.read.parquet(s"$sfDir/lineitem.parquet")
        .groupBy("l_returnflag")
        .agg(sum("l_quantity"), avg("l_extendedprice"), count(lit(1)))
        .collect()
      spark.range(2000000L)
        .select(col("id"), (col("id") % 1000).as("k"),
          ((col("id") * 2654435761L) % 1048576).as("v"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("k")).orderBy(col("v"), col("id"))))
        .filter(col("rn") <= 3)
        .count()
      (System.nanoTime() - t0) / 1e9
    }
    // a probe READING is taken under a fixed protocol so start and end
    // are the same instrument: drop all Spark blocks, one throwaway
    // probe (compiles the probe's plans on first use and equalizes
    // page-cache/JIT state regardless of what ran before), then the
    // timed reading. Without the shared preconditions, probe_start ran
    // hot off an identical throwaway while probe_end ran off an
    // arbitrary access history — the start-vs-end gap partly measured
    // cache state, not contention.
    def probeReading(): Double = {
      Harness.dropAllBlocks(spark)
      calibrationProbe()
      val r = calibrationProbe()
      Harness.dropAllBlocks(spark)
      r
    }
    // ---- continuous hypervisor-steal trace ----
    // Every bench adjudication since r12 ended up hand-reading
    // /proc/stat steal deltas to fingerprint contention epochs the
    // endpoint probes straddle; the artifact now samples it itself. A
    // daemon thread reads the aggregate cpu line every 5 s and records
    // the per-interval steal percentage; the artifact publishes the
    // mean, the max (an epoch's fingerprint — a 10%-steal minute shows
    // here even when the run-long mean is under 1%), and the count of
    // samples >= 2% (epoch breadth). -1 values mean /proc/stat was
    // unreadable (non-Linux host); sampling failures never fail the
    // bench.
    val stealSamples = new scala.collection.mutable.ArrayBuffer[Double]
    @volatile var stealStop = false
    def cpuTicks(): Option[(Long, Long)] =
      try {
        val src = scala.io.Source.fromFile("/proc/stat")
        try src.getLines().find(_.startsWith("cpu "))
          .flatMap(StealTrace.parseCpuLine)
        finally src.close()
      } catch { case _: Throwable => None }
    val stealThread = new Thread(() => {
      var prev = cpuTicks()
      while (!stealStop) {
        Thread.sleep(5000)
        val cur = cpuTicks()
        (prev, cur) match {
          case (Some((t0, s0)), Some((t1, s1))) if t1 > t0 =>
            stealSamples.synchronized {
              stealSamples += 100.0 * (s1 - s0) / (t1 - t0)
            }
          case _ =>
        }
        prev = cur
      }
    }, "graft-steal-trace")
    stealThread.setDaemon(true)
    stealThread.start()
    val probeStart = probeReading()
    // 1-minute load average, stamped before and after the measured
    // section: a run whose artifact carries load >> cpus explains its
    // own inflation (host contention, not an engine regression)
    def loadAvg(): Double =
      try scala.io.Source.fromFile("/proc/loadavg").mkString
        .split("\\s+").head.toDouble
      catch { case _: Throwable => -1.0 }
    val loadStart = loadAvg()
    // memo counters start from zero for the measured section, so the
    // artifact's `memos` map attributes snapshot-build cost to the memo
    // itself — pass-1 `queries` numbers still INCLUDE each build in
    // whichever consumer gate ran first in catalog order (that is the
    // honest cold cost); `memos` makes the attribution explicit. The
    // `gates` map counts size-gate branches over the same section.
    graft.analytics.Memo.resetStats()
    graft.analytics.Par.resetGateStats()
    val retried = scala.collection.mutable.ArrayBuffer[String]()
    val ordered = picked.toSeq.sortBy(_._1)
    def timeQuery(fn: (SparkSession, String) =>
        org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      val ok = try { fn(spark, sfDir).count(); true }
               catch { case _: Throwable => false }
      // a failed query must read as a FAILURE (-1), not a fast success
      val s = if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
      Harness.dropAllBlocks(spark)
      s
    }
    def med(ts: Seq[Double]): Double = ts.sorted.apply((ts.size - 1) / 2)
    // CATALOG-INTERLEAVED passes: pass p runs EVERY query once before
    // any query's pass p+1 — never all N passes of one query
    // back-to-back. A host-contention EPOCH (minutes of steal/IO that
    // starts and ends between the two endpoint probes) then lands on
    // DIFFERENT queries in different passes, so the per-query median
    // and the spread retry heal it. The back-to-back structure could
    // not: r13's driver artifact carried an epoch that inflated all 3
    // consecutive passes of a contiguous catalog block (q212–q218 read
    // 26–33 s there vs 0.17–0.73 s in three independent runs), which
    // the median kept, the within-query spread test never saw, and the
    // endpoint probes straddled. Pass 1 stays the published cold
    // number: it is the same whole-catalog first-execution sequence
    // (memo builds land in each family's first consumer) as before.
    val timesByQuery = scala.collection.mutable.Map[String, Vector[Double]]()
    for (_ <- 1 to passes; (name, fn) <- ordered)
      timesByQuery(name) =
        timesByQuery.getOrElse(name, Vector.empty) :+ timeQuery(fn)
    // pre-retry medians, captured BEFORE the retry loop: the retry
    // resamples only slow outliers, a one-sided rule that can only
    // lower the steady median — publishing the pre-retry value too
    // keeps rounds comparable for consumers that ignore `retried`
    val preRetrySteady = ordered.map { case (name, _) =>
      val ts = timesByQuery(name)
      name -> (if (ts.exists(_ < 0)) -1.0 else med(ts))
    }.toMap
    // self-healing spread retry, AFTER all passes: a spike big enough
    // to distort the median (max > 3x the median AND > 1s over it —
    // the absolute floor keeps sub-second jitter from triggering)
    // earns up to 2 extra passes, taken now — decorrelated in time
    // from whatever epoch produced the spike. The COLD first pass is
    // excluded from the trigger: pass 1 legitimately pays one-time
    // memo builds, is published as the cold number regardless, and
    // must not burn retries or mislabel the `retried` signal.
    if (passes > 2) for ((name, fn) <- ordered) {
      var times = timesByQuery(name)
      var extra = 0
      def steady = times.tail
      while (extra < 2 && !times.exists(_ < 0) &&
             steady.max > 3 * med(steady) &&
             steady.max - med(steady) > 1.0) {
        if (extra == 0) retried += name
        times = times :+ timeQuery(fn)
        extra += 1
      }
      timesByQuery(name) = times
    }
    // SPARK_GRAFT_BENCH_TRACE=1: dump every query's raw pass vector to
    // stderr — the per-pass evidence behind a published median (e.g.
    // which pass a contention epoch landed on). Diagnostic only; never
    // part of the artifact.
    if (sys.env.get("SPARK_GRAFT_BENCH_TRACE").contains("1"))
      for ((name, _) <- ordered)
        System.err.println(s"[bench-trace] $name " +
          timesByQuery(name).map(t =>
            String.format(java.util.Locale.ROOT, "%.3f", Double.box(t)))
            .mkString(" "))
    val results = ordered.map { case (name, _) =>
      val times = timesByQuery(name)
      // ANY failed pass poisons the query: a pass-1 crash that pass-2
      // happens to survive (first-run codegen, OOM) must not be
      // recorded as a clean success
      val anyFail = times.exists(_ < 0)
      // lower median across passes: one loaded pass cannot move it
      name -> (if (anyFail) -1.0 else times.head,
               if (anyFail) -1.0 else med(times))
    }
    // JSON floats must be locale-independent: the f interpolator
    // renders %.3f with the JVM default locale, and a comma-decimal
    // locale (de_DE, fr_FR) would emit "probe_start_s":1,234 —
    // unparseable, the exact `parsed: null` failure the file-write
    // fallback exists to prevent
    def jNum(d: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(d))
    def jmap(sel: ((Double, Double)) => Double): String =
      results.map { case (k, v) => Json.str(k) + ":" + sel(v) }
        .mkString("{", ",", "}")
    // totals count SUCCESSES only — summing the -1.0 failure sentinels
    // would make a broken round read as a speedup; failures are listed so
    // a smaller total can never masquerade as an improvement
    def jtotal(sel: ((Double, Double)) => Double): Double =
      results.collect { case (_, v) if sel(v) >= 0 => sel(v) }.sum
    val failed = results.collect { case (n, (v, _)) if v < 0 => Json.str(n) }
      .mkString("[", ",", "]")
    // "value"/"queries" stay the FIRST-pass numbers (comparable with prior
    // rounds); "steady_value"/"queries_steady" are the per-query medians.
    // "passes" + the loadavg stamps make the artifact self-describing.
    val loadEnd = loadAvg()
    // second probe reading: contention that arrived DURING the run
    // shows as probe_end >> probe_start; both >> the committed quiet
    // band (BASELINE.md §calibration) labels the whole artifact
    val probeEnd = probeReading()
    // ---- in-run contention probes: the memo builds ----
    // The endpoint probes cannot see a contention epoch that starts
    // and ends BETWEEN them. The memo builds can: each is
    // deterministic fixed work on fixed input, scattered through
    // pass 1 wherever its first consumer sits in catalog order — a
    // build reading >= 3x its committed quiet band (BASELINE.md
    // §memo-bands, full-run sf0.1 conditions) means the host was
    // contended AT THAT POINT of the run, regardless of what the
    // endpoint probes read. r13's driver artifact self-labels
    // instantly under this rule: logreg_models read 191.6 s against a
    // ~16 s band while both endpoint probes sat in the quiet band.
    // Bands are advisory labels, not gates: a memo missing from this
    // map (new this round) just isn't checked until its band is
    // committed. Only meaningful at the full-run sf0.1 conditions the
    // bands were measured under (subset runs are colder).
    // element-wise MAX over three quiet full runs (BENCH_LOCAL_r13 and
    // the two r14 runs) so run-to-run build spread (~1.5x observed)
    // cannot false-label; the 3x threshold sits well above it
    val memoQuietBand: Map[String, Double] = Map(
      "basket_items" -> 2.88, "basket_pairs" -> 4.72,
      "bm25_topk" -> 7.55, "brute_topk" -> 2.72,
      "graph_deg" -> 0.99, "graph_edges" -> 0.82,
      "kmeans_centroids" -> 1.16, "logreg_models" -> 6.68,
      "lsh_cand" -> 4.70, "minhash_estimate" -> 4.55,
      "ngram_jaccard" -> 3.62)
    val contendedSegments = graft.analytics.Memo.stats().toSeq
      .filter { case (n, m) =>
        m.getOrElse("builds", 0.0) > 0 &&
          memoQuietBand.get(n).exists(b => m.getOrElse("build_s", 0.0) >= 3 * b)
      }
      .sortBy(_._1)
      .map { case (n, m) =>
        Json.str(n + ":build_s=" + String.format(java.util.Locale.ROOT,
          "%.1f", Double.box(m("build_s"))) + ",band=" +
          String.format(java.util.Locale.ROOT, "%.1f",
            Double.box(memoQuietBand(n))))
      }.mkString("[", ",", "]")
    val retriedJson = retried.sorted
      .map(Json.str).mkString("[", ",", "]")
    // pre-retry steady medians for the queries the retry touched (the
    // full map would double the artifact; untouched queries' pre- and
    // post-retry medians are identical)
    val preRetryJson = retried.sorted
      .map(n => Json.str(n) + ":" + jNum(preRetrySteady(n)))
      .mkString("{", ",", "}")
    // per-memo build/hit accounting (active memos only): "build_s" is
    // the wall time the first consumer paid to snapshot the shared
    // subtree; "hits" are the later consumers that read it back
    val memosJson = graft.analytics.Memo.stats().toSeq
      .filter { case (_, m) => m.values.sum > 0 }
      .sortBy(_._1)
      .map { case (n, m) =>
        Json.str(n) + ":{" + m.toSeq.sortBy(_._1).map { case (k, v) =>
          Json.str(k) + ":" + (if (k == "build_s") jNum(v)
                              else v.toLong.toString)
        }.mkString(",") + "}"
      }.mkString("{", ",", "}")
    stealStop = true
    val (stealMean, stealMax, stealEpochs) = stealSamples.synchronized {
      if (stealSamples.isEmpty) (-1.0, -1.0, -1L)
      else (stealSamples.sum / stealSamples.length, stealSamples.max,
        stealSamples.count(_ >= 2.0).toLong)
    }
    val line = s"""{"metric":"total","value":${jtotal(_._1)},"unit":"sec","passes":$passes,"pass_order":"interleaved","load_start":$loadStart,"load_end":$loadEnd,"probe_start_s":${jNum(probeStart)},"probe_end_s":${jNum(probeEnd)},"steal_mean_pct":${jNum(stealMean)},"steal_max_pct":${jNum(stealMax)},"steal_epoch_samples":$stealEpochs,"contended_segments":$contendedSegments,"retried":$retriedJson,"steady_preretry":$preRetryJson,"steady_value":${jtotal(_._2)},"queries":${jmap(_._1)},"queries_steady":${jmap(_._2)},"memos":$memosJson,"gates":${Harness.gatesJson()},"failed":$failed,"sf":${Json.str(sfDir)}}"""
    println(line)
    // ALSO write the line to a file: the driver's harness captures only
    // the tail of sbt output and has truncated the per-query maps two
    // rounds running — the file keeps the full medians inspectable (and
    // committable as BENCH_LOCAL_r{N}.json) without re-running.
    // cwd-relative default stamped with cores and scale dir (e.g.
    // BENCH_LOCAL_c8_sf0.1.json), so runs at different core counts or
    // scales never overwrite each other; override via env
    val sfTag = Option(java.nio.file.Paths.get(sfDir).getFileName)
      .map(_.toString.replaceAll("[^A-Za-z0-9._-]", "_")).getOrElse("sf")
    val benchOut = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      s"BENCH_LOCAL_c${cpus}_$sfTag.json")
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(benchOut), line + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $benchOut: ${e.getMessage}")
    }
    // The totals print at the START of the big line above, and the
    // driver's harness keeps only the TAIL of sbt output — three rounds
    // running the captured artifact lost them (BENCH_r07–r09 all
    // `parsed: null`). Print a compact summary LAST so the totals are
    // the final thing on stdout and always survive tail truncation.
    // The summary also carries `top_steady` — the ~30 slowest steady
    // medians (~1 KB) — plus a `per_query_file` pointer to the full
    // artifact: the driver's ~3 KB tail capture beheaded the 20 KB
    // full-map line two rounds running (PERF_r13/r14 `n_common: 0`),
    // so the per-query evidence the adjudicator needs most (the steady
    // top, where every optimization target lives) now fits the capture
    // budget on the FINAL line. Additions only: no field of the prior
    // rounds' summary is removed or renamed.
    val topSteadyJson = results
      .collect { case (n, (_, s)) if s >= 0 => n -> s }
      .sortBy { case (n, s) => (-s, n) }
      .take(30)
      .map { case (n, s) => Json.str(n) + ":" + jNum(s) }
      .mkString("{", ",", "}")
    val nOk = results.count(_._2._1 >= 0)
    println(s"""{"metric":"summary","total":${jtotal(_._1)},"steady":${jtotal(_._2)},"n":$nOk,"failed":$failed,"passes":$passes,"pass_order":"interleaved","load_start":$loadStart,"load_end":$loadEnd,"probe_start_s":${jNum(probeStart)},"probe_end_s":${jNum(probeEnd)},"steal_mean_pct":${jNum(stealMean)},"steal_max_pct":${jNum(stealMax)},"contended_segments":$contendedSegments,"retried":$retriedJson,"top_steady":$topSteadyJson,"per_query_file":${Json.str(benchOut)},"sf":${Json.str(sfDir)}}""")
    spark.stop()
  }
}

/** /proc/stat aggregate-cpu-line parser for the bench's continuous
  * hypervisor-steal trace (field 8 of the `cpu ` line is cumulative
  * steal ticks; the field sum is total ticks — both monotone, so an
  * interval's steal share is Δsteal/Δtotal). Factored out of the
  * sampling thread so the parse is spec-testable without /proc. */
private[graft] object StealTrace {
  /** (totalTicks, stealTicks) from an aggregate "cpu  ..." line; None
    * for any other line or a line with fewer than 8 numeric fields
    * (pre-2.6.11 kernels had no steal column). */
  def parseCpuLine(line: String): Option[(Long, Long)] =
    if (!line.startsWith("cpu ")) None
    else {
      val f = line.trim.split("\\s+").drop(1).flatMap(_.toLongOption)
      if (f.length < 8) None else Some((f.sum, f(7)))
    }
}
