package graft.analytics

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** The session frame memo (Memo.scala): catalog gates legitimately share
  * expensive deterministic subtrees (the q19 LSH candidate graph feeds
  * five graph-family gates; the BM25 ranking feeds its own gate and the
  * retrieval-metrics gate) — the engine caches the derived frame as a
  * parquet snapshot keyed by the canonicalized input plans, so the
  * second consumer reads a two-column scan instead of re-running the
  * pipeline, while every gate stays independently verifiable (a hit is
  * bit-identical to a recompute). */
class MemoSpec extends SparkTestBase {

  import spark.implicits._

  private def docs(tag: String) = (1 to 80).map { i =>
    val base = s"$tag alpha beta gamma $i delta epsilon zeta " +
      s"w${i % 5} w${i % 7} w${i % 11} tail tokens here"
    val text = if (i % 2 == 0) base
      else s"$tag alpha beta gamma ${i - 1} delta epsilon zeta " +
        s"w${(i - 1) % 5} w${(i - 1) % 7} w${(i - 1) % 11} tail tokens here x"
    (i.toLong, text)
  }.toDF("doc_id", "text")

  private def rmTree(dir: java.nio.file.Path): Unit = {
    val walk = java.nio.file.Files.walk(dir)
    val all = try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala.toSeq
    } finally walk.close()
    all.reverse.foreach(java.nio.file.Files.deleteIfExists(_))
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("getOrCompute builds once per key, hits on the identical key " +
       "bit-for-bit, and fragments the key on params") {
    val memo = new FrameMemo("spec")
    val in = Seq((1, "a"), (2, "b"), (2, "b")).toDF("k", "v")
    var builds = 0
    def call(p: String) = memo.getOrCompute(Seq(in), p) {
      builds += 1
      in.groupBy($"k", $"v").agg(count(lit(1)).as("n"))
    }
    val first = call("p1").orderBy("k").collect().map(_.toString).toSeq
    assert(builds == 1 && memo.hits.get() == 0)
    val second = call("p1").orderBy("k").collect().map(_.toString).toSeq
    assert(builds == 1, "identical key must not rebuild")
    assert(memo.hits.get() == 1)
    assert(second == first, "a memo hit must be bit-identical")
    call("p2")
    assert(builds == 2, "different params must compute their own entry")
  }

  test("two SEPARATE reads of the same parquet path share one entry " +
       "(canonicalized-plan key), and invalidate forces a rebuild") {
    val memo = new FrameMemo("spec2")
    val dir = java.nio.file.Files.createTempDirectory("graft_memo_spec")
    try {
      Seq((1L, "x"), (2L, "y")).toDF("id", "t")
        .write.mode("overwrite").parquet(dir.toString)
      var builds = 0
      def call() = memo.getOrCompute(
        Seq(spark.read.parquet(dir.toString)), "p") {
        builds += 1
        spark.read.parquet(dir.toString).select($"id")
      }
      call(); call()
      assert(builds == 1,
        "separate reads of one path must share the memo entry")
      memo.invalidate()
      call()
      assert(builds == 2, "invalidate must force a rebuild")
    } finally rmTree(dir)
  }

  test("LSH candidate graph: the second gate-shaped consumer reads the " +
       "first consumer's snapshot and matches a direct recompute") {
    val d = docs("candmemo")
    val direct = Dedup.minhashCandidates(
        Dedup.minhashBandsFromDocs(d, "doc_id", "text"), maxBucket = 1000)
      .orderBy("doc_a", "doc_b").collect().map(_.toString).toSeq
    assert(direct.nonEmpty, "fixture must produce candidate pairs")
    val c1 = Dedup.minhashCandidatePairs(d, "doc_id", "text")
    val hitsBefore = Dedup.candidateMemo.hits.get()
    val c2 = Dedup.minhashCandidatePairs(d, "doc_id", "text")
    assert(Dedup.candidateMemo.hits.get() == hitsBefore + 1,
      "second consumer must hit the memo")
    // both consumers read the SAME parquet snapshot files
    assert(c1.inputFiles.nonEmpty &&
      c2.inputFiles.sorted.sameElements(c1.inputFiles.sorted),
      "second consumer must read the first's snapshot")
    assert(c2.orderBy("doc_a", "doc_b").collect().map(_.toString).toSeq
      == direct, "memoized pairs must equal the direct recompute")
    // a different cap is a different graph — must not share the entry
    val capped = Dedup.minhashCandidatePairs(d, "doc_id", "text",
      maxBucket = 999)
    assert(!capped.inputFiles.sorted.sameElements(c1.inputFiles.sorted),
      "different params must snapshot separately")
  }

  test("bm25 rank memo: the identical gate call shares the snapshot; a " +
       "different k computes its own; hit equals the direct recompute") {
    val d = docs("bm25memo")
    val pred = col("doc_id") % 10 === 0
    val direct = Retrieval.bm25TopKCompute(d, "doc_id", "text", pred, k = 5)
      .orderBy("qid", "rn").collect().map(_.toString).toSeq
    assert(direct.nonEmpty)
    val r1 = Retrieval.bm25TopK(d, "doc_id", "text", pred, k = 5)
    val r2 = Retrieval.bm25TopK(d, "doc_id", "text", pred, k = 5)
    assert(r1.inputFiles.nonEmpty &&
      r2.inputFiles.sorted.sameElements(r1.inputFiles.sorted),
      "identical ranking call must share the snapshot")
    assert(r2.orderBy("qid", "rn").collect().map(_.toString).toSeq
      == direct, "memoized ranking must equal the direct recompute")
    val r3 = Retrieval.bm25TopK(d, "doc_id", "text", pred, k = 3)
    assert(!r3.inputFiles.sorted.sameElements(r1.inputFiles.sorted),
      "a different k must compute its own ranking")
    assert(r3.count() < r2.count())
  }

  test("kmeans centroid memo (ValueMemo): the second clustering-family " +
       "consumer reuses the trained model and assigns identically") {
    val emb = (0L until 60L).map { i =>
      (i, Array.tabulate(8)(j => ((i % 4) * 10 + j).toFloat))
    }.toDF("vec_id", "embedding")
    val first = Cluster.kmeansAssign(emb, "vec_id", "embedding",
        k = 4, iters = 3)
      .orderBy("vec_id").collect().map(_.toString).toSeq
    val hits = Cluster.centroidMemo.hits.get()
    val second = Cluster.kmeansAssign(emb, "vec_id", "embedding",
        k = 4, iters = 3)
      .orderBy("vec_id").collect().map(_.toString).toSeq
    assert(Cluster.centroidMemo.hits.get() == hits + 1,
      "second consumer must reuse the trained centroids")
    assert(second == first, "memoized model must assign bit-identically")
    // different k is a different model
    Cluster.kmeansAssign(emb, "vec_id", "embedding", k = 3, iters = 3)
      .collect()
    assert(Cluster.centroidMemo.hits.get() == hits + 1,
      "different hyperparams must retrain")
  }

  test("gate-level cold/warm differential: representative memoized " +
       "catalog gates return IDENTICAL rows with the memos invalidated " +
       "vs warm (the driver-gate soundness claim, end-to-end)") {
    val dir = sf0001
    val spark0 = spark
    // one consumer per memo family: candidate graph (graph gate),
    // jaccard superset (histogram gate), basket pairs (rules gate),
    // centroid model (clustering gate), brute probe (knn gate),
    // bm25 ranking (metrics gate)
    val gates = Seq("q197_kcore", "q96_jaccard_histogram",
      "q204_association_rules", "q80_kmeans_cluster", "q101_knn_classify",
      "q139_retrieval_metrics")
    def run(name: String): Seq[String] =
      graft.queries.Catalog.byName(name).run(spark0, dir)
        .collect().map(_.toString).sorted.toSeq
    for (g <- gates) {
      Memo.invalidateAll()
      val cold = run(g) // builds every memo entry it needs
      val warm = run(g) // pure hits
      assert(warm == cold, s"$g: warm memo run diverged from cold")
    }
  }

  test("placement decision: memo.dir wins; a configured checkpoint dir " +
       "is second; tmpdir only on a LOCAL master; non-local with nothing " +
       "configured = bypass (None)") {
    assert(Memo.resolveRootUri(Some("hdfs://nn/memo"),
      Some("hdfs://nn/ckpt"), isLocal = false) == Some("hdfs://nn/memo"))
    assert(Memo.resolveRootUri(None, Some("hdfs://nn/ckpt/"),
      isLocal = false) == Some("hdfs://nn/ckpt/graft-memo"))
    val local = Memo.resolveRootUri(None, None, isLocal = true)
    assert(local.exists(u => u.startsWith("file:")
      && u.endsWith("/graft-memo")),
      s"local master must snapshot under a file:-qualified tmpdir: $local")
    assert(Memo.resolveRootUri(None, None, isLocal = false).isEmpty,
      "non-local master with no shared dir must bypass")
  }

  test("spark.graft.memo.dir set: the snapshot lands IN that directory " +
       "and hits read it back") {
    val root = java.nio.file.Files.createTempDirectory("graft_memo_root")
    spark.conf.set("spark.graft.memo.dir", "file:" + root.toString)
    try {
      val memo = new FrameMemo("confdir")
      val in = Seq((1, "a"), (2, "b")).toDF("k", "v")
      var builds = 0
      def call() = memo.getOrCompute(Seq(in), "p") { builds += 1; in }
      val out = call()
      assert(out.inputFiles.nonEmpty &&
        out.inputFiles.forall(_.contains(root.getFileName.toString)),
        s"snapshot must land under the configured dir: " +
          out.inputFiles.take(1).mkString)
      call()
      assert(builds == 1 && memo.hits.get() == 1,
        "second call must hit the configured-dir snapshot")
    } finally {
      spark.conf.unset("spark.graft.memo.dir")
      rmTree(root)
    }
  }

  test("non-local master, nothing configured: the memo BYPASSES — the " +
       "build expression runs per call, nothing is snapshotted") {
    Memo.placementOverrideForTests = Some(None)
    try {
      val memo = new FrameMemo("bypass")
      val in = Seq((1, "a"), (2, "b")).toDF("k", "v")
      var builds = 0
      def call() = memo.getOrCompute(Seq(in), "p") {
        builds += 1
        in.groupBy($"k").agg(count(lit(1)).as("n"))
      }
      val r1 = call()
      val r2 = call()
      assert(builds == 2, "bypass must compute the build per call")
      assert(memo.bypasses.get() == 2 && memo.hits.get() == 0
        && memo.builds.get() == 0,
        "bypass must count as bypass, never as build or hit")
      assert(r1.inputFiles.isEmpty,
        "bypass must hand back the logical build plan, not a file scan")
      assert(r2.orderBy("k").collect().map(_.toString).toSeq
        == r1.orderBy("k").collect().map(_.toString).toSeq)
    } finally Memo.placementOverrideForTests = None
  }

  test("shared shingle/sig snapshots (r15): lsh_cand, minhash_estimate, " +
       "ngram_jaccard and the calibration sets all derive from ONE " +
       "doc_shingles build and ONE minhash_sigs build per corpus — and " +
       "every operator's output is identical to the bypass (no-memo) " +
       "computation") {
    val d = docs("share")
    // reference outputs with ALL memos bypassed: the raw, priced
    // pipeline each operator would run on a non-local master with no
    // shared directory
    def outputs(): Seq[Seq[String]] = Seq(
      Dedup.minhashCandidatePairs(d, "doc_id", "text")
        .orderBy("doc_a", "doc_b").collect().map(_.toString).toSeq,
      Dedup.minhashJaccardEstimate(d, "doc_id", "text",
          minEstimate = 0.25)
        .orderBy("doc_a", "doc_b").collect().map(_.toString).toSeq,
      Dedup.ngramJaccardPairsFromDocs(d, "doc_id", "text",
          minJaccard = 0.3)
        .orderBy("doc_a", "doc_b").collect().map(_.toString).toSeq,
      Dedup.minhashCalibration(d, "doc_id", "text")
        .orderBy("bucket").collect().map(_.toString).toSeq)
    Memo.placementOverrideForTests = Some(None)
    val bypass = try outputs() finally {
      Memo.placementOverrideForTests = None
    }
    // snapshot-backed run (default local placement): same bits, and the
    // family shares one shingle build + one sig build
    Memo.invalidateAll()
    val sh0 = Dedup.shingleMemo.builds.get()
    val sg0 = Dedup.sigsMemo.builds.get()
    val snap = outputs()
    assert(snap === bypass,
      "memoized family outputs must be bit-identical to the bypass")
    assert(Dedup.shingleMemo.builds.get() - sh0 === 1,
      "the corpus must be shingled exactly once for the whole family")
    assert(Dedup.sigsMemo.builds.get() - sg0 === 1,
      "signatures must be computed exactly once for cand + estimate")
    assert(Dedup.shingleMemo.hits.get() > 0 && Dedup.sigsMemo.hits.get() > 0)
  }

  test("a 1-partition corpus (Par.ensure repartitions it) keys ONE " +
       "doc_shingles and ONE minhash_sigs entry across the q19 -> q90 " +
       "-> q257 sequence") {
    val d = docs("onepart").repartition(1)
    Memo.invalidateAll()
    val sh0 = Dedup.shingleMemo.builds.get()
    val sg0 = Dedup.sigsMemo.builds.get()
    val shHits0 = Dedup.shingleMemo.hits.get()
    val sgHits0 = Dedup.sigsMemo.hits.get()
    Dedup.minhashCandidatePairs(d, "doc_id", "text").count()
    Dedup.minhashJaccardEstimate(d, "doc_id", "text", minEstimate = 0.5)
      .count()
    Dedup.minhashCalibration(d, "doc_id", "text").count()
    assert(Dedup.shingleMemo.builds.get() - sh0 === 1,
      "the repartitioned corpus must not key a second shingle build")
    assert(Dedup.sigsMemo.builds.get() - sg0 === 1,
      "the repartitioned corpus must not key a second signature build")
    assert(Dedup.shingleMemo.hits.get() > shHits0 &&
      Dedup.sigsMemo.hits.get() > sgHits0)
  }

  test("a q115-shaped call after a q90-shaped call on a 1-partition " +
       "corpus adds no minhash_estimate, minhash_sigs or doc_shingles " +
       "build (crossGroupNearDupMatrix keys its Par.ensure'd frame)") {
    val d = docs("q115").repartition(1)
      .withColumn("grp", (col("doc_id") % 3).cast("string"))
    Memo.invalidateAll()
    Dedup.minhashJaccardEstimate(d, "doc_id", "text", minEstimate = 0.5)
      .count()
    val memos = Seq(Dedup.estimateMemo, Dedup.sigsMemo, Dedup.shingleMemo)
    val before = memos.map(_.builds.get())
    Dedup.crossGroupNearDupMatrix(d, "doc_id", "text", "grp",
      minEstimate = 0.5).count()
    assert(memos.map(_.builds.get()).zip(before).map(x => x._1 - x._2)
      === Seq(0L, 0L, 0L),
      "the q115 call must reuse the q90 call's snapshots")
  }

  test("key: a raw frame, its Par.ensure form and its .repartition(7) " +
       "form share one entry; a repartition under a Limit, or under a " +
       "nondeterministic column, keys apart") {
    val raw = spark.range(0, 80, 1, 1)
      .select($"id".as("doc_id"), concat(lit("doc "), $"id").as("text"))
    val ensured = Par.ensure(raw)
    assert(!(ensured eq raw), "Par.ensure must repartition a 1-partition frame")
    val memo = new FrameMemo("placementkey")
    var builds = 0
    def call(df: org.apache.spark.sql.DataFrame) =
      memo.getOrCompute(Seq(df.select($"doc_id", $"text")), "p") {
        builds += 1
        df.select($"doc_id")
      }
    call(raw); call(ensured); call(raw.repartition(7))
    assert(builds == 1 && memo.hits.get() == 2,
      "placement-only repartitions must not fragment the key")
    call(raw.limit(5)); call(raw.repartition(3).limit(5))
    assert(builds == 3,
      "repartition(3).limit(5) picks other rows than limit(5)")
    call(raw.withColumn("r", rand(1)))
    call(raw.repartition(3).withColumn("r", rand(1)))
    assert(builds == 5,
      "a nondeterministic column sees the partition layout")
  }

  test("eviction past maxEntries CONDEMNS, never deletes under a " +
       "reader: an earlier handed-out lazy frame still reads correctly " +
       "inside the grace window") {
    val memo = new FrameMemo("evict", maxEntries = 2)
    val in = Seq((1, "a"), (2, "b")).toDF("k", "v")
    def call(p: String) = memo.getOrCompute(Seq(in), p) {
      in.withColumn("tag", lit(p))
    }
    val early = call("A") // handed out, NOT consumed yet
    val earlyFiles = early.inputFiles.sorted.toSeq
    call("B"); call("C"); call("D") // cap 2: A then B evicted
    val rebuilt = call("A")
    assert(!rebuilt.inputFiles.sorted.sameElements(earlyFiles),
      "an evicted key must rebuild into a fresh snapshot")
    assert(early.orderBy("k").collect()
        .map(r => (r.getInt(0), r.getString(2))).toSeq
      == Seq((1, "A"), (2, "A")),
      "the earlier frame must still scan its condemned snapshot")
  }

  test("invalidate defers deletion (default grace): a frame planned " +
       "BEFORE a publish-triggered invalidate still scans afterwards — " +
       "the serving layer's publish-under-reader hazard") {
    val memo = new FrameMemo("pubgrace")
    val in = Seq((7, "x")).toDF("k", "v")
    val planned = memo.getOrCompute(Seq(in), "p") { in }
    memo.invalidate() // what GraftServer.publishStaged triggers
    assert(planned.collect().map(_.toString).toSeq == Seq("[7,x]"),
      "in-flight frame must survive invalidate until the grace lapses")
  }

  test("condemned snapshots ARE reaped once the grace window lapses " +
       "(grace=0: invalidate's sweep deletes the files)") {
    val prev = Memo.graceMs
    Memo.graceMs = 0
    try {
      val memo = new FrameMemo("reap")
      val in = Seq((1, "a")).toDF("k", "v")
      val f = memo.getOrCompute(Seq(in), "p") { in }
      val files = f.inputFiles
      assert(files.nonEmpty)
      val dir = new java.io.File(new java.net.URI(files.head)).getParentFile
      assert(dir.exists())
      memo.invalidate()
      assert(!dir.exists(),
        "a lapsed-grace sweep must delete the condemned snapshot dir")
    } finally Memo.graceMs = prev
  }

  test("condemned snapshots are reaped WITHOUT further memo traffic: " +
       "the background sweeper tick deletes a grace-lapsed dir (the " +
       "idle-server leak: sweep used to run only inside getOrCompute/" +
       "invalidate)") {
    val prev = Memo.graceMs
    Memo.graceMs = 60 * 1000L // condemn INSIDE grace: inline sweep no-op
    try {
      val memo = new FrameMemo("ticksweep")
      val in = Seq((1, "a")).toDF("k", "v")
      val f = memo.getOrCompute(Seq(in), "p") { in }
      val dir = new java.io.File(new java.net.URI(f.inputFiles.head))
        .getParentFile
      memo.invalidate()
      assert(dir.exists(),
        "invalidate inside the grace window must not delete")
      // lapse the grace with NO further memo calls: only the background
      // tick (2 s fixed delay) can reap now
      Memo.graceMs = 0
      val deadline = System.nanoTime() + 20L * 1000 * 1000 * 1000
      while (dir.exists() && System.nanoTime() < deadline)
        Thread.sleep(100)
      assert(!dir.exists(),
        "the background sweeper must reap a traffic-less memo")
    } finally Memo.graceMs = prev
  }

  test("a sweep tick CONCURRENT with getOrCompute on the same memo " +
       "neither double-deletes nor blocks the hit path (the daemon " +
       "sweeper races every serving-path call; the grace-defer and the " +
       "queue's remove-CAS make the interleaving safe BY DESIGN — this " +
       "pins that it stays safe)") {
    val prev = Memo.graceMs
    Memo.graceMs = 0 // every condemned dir is instantly reapable
    try {
      val memo = new FrameMemo("racesweep")
      val in = Seq((1, "a"), (2, "b")).toDF("k", "v")
      memo.getOrCompute(Seq(in), "live") { in } // build once
      // hammer sweep() from another thread, faster than the daemon's
      // 2 s tick ever could — the worst-case interleaving density
      val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
      val err = new java.util.concurrent.atomic.AtomicReference[Throwable]()
      val ticker = new Thread(() => {
        while (!stop.get()) {
          try memo.sweep() catch { case e: Throwable => err.set(e) }
        }
      }, "racing-sweeper")
      ticker.setDaemon(true)
      ticker.start()
      try {
        // hit path under concurrent ticks: every call must HIT (a
        // rebuild here would mean a tick deleted a live snapshot)
        // and scan correct data
        val before = memo.hits.get()
        for (_ <- 1 to 50) {
          val got = memo.getOrCompute(Seq(in), "live") {
            fail("a concurrent sweep must never evict a LIVE snapshot" +
              " — the hit path rebuilt")
          }
          assert(got.orderBy("k").collect().map(_.getString(1)).toSeq
            == Seq("a", "b"))
        }
        assert(memo.hits.get() == before + 50)
        // churn: condemn entries (publish-path invalidate) while ticks
        // race the inline sweeps for the same queue heads — the
        // remove-CAS means each dir is deleted exactly once, nothing
        // throws, and a subsequent rebuild stays readable
        for (i <- 1 to 20) {
          memo.getOrCompute(Seq(in), s"churn$i") { in }
          memo.invalidate()
        }
        val rebuilt = memo.getOrCompute(Seq(in), "live") { in }
        assert(rebuilt.collect().length == 2,
          "post-churn rebuild must scan its fresh snapshot")
      } finally {
        stop.set(true)
        ticker.join(5000)
      }
      assert(err.get() == null,
        s"sweep must never throw under concurrency: ${err.get()}")
    } finally Memo.graceMs = prev
  }

  test("session identity: two sessions get distinct memo ids (never " +
       "identity-hash collisions), and the same session is stable") {
    val s1 = spark
    val s2 = spark.newSession()
    assert(Memo.sessionId(s1) == Memo.sessionId(s1))
    assert(Memo.sessionId(s1) != Memo.sessionId(s2),
      "distinct sessions must never share a memo identity")
  }

  test("Memo.invalidateAll drops frame snapshots AND trained models " +
       "(the REFRESH-TABLE moral equivalent for in-place overwrites)") {
    val d = docs("invalidate")
    val c1 = Dedup.minhashCandidatePairs(d, "doc_id", "text")
    val files1 = c1.inputFiles.toSeq
    // model memo side: train twice, second must hit
    val label = col("doc_id") % 2 === 0
    Selection.logregTrain(d, "doc_id", "text", label, dim = 8, iters = 2)
    val mHits = Selection.logregModels.hits.get()
    Selection.logregTrain(d, "doc_id", "text", label, dim = 8, iters = 2)
    assert(Selection.logregModels.hits.get() == mHits + 1)
    Memo.invalidateAll()
    // frames: same key now recomputes into a NEW snapshot
    val c2 = Dedup.minhashCandidatePairs(d, "doc_id", "text")
    assert(!c2.inputFiles.toSeq.sorted.sameElements(files1.sorted),
      "invalidateAll must drop the frame snapshot")
    // models: same key now retrains (no new hit)
    val mHits2 = Selection.logregModels.hits.get()
    Selection.logregTrain(d, "doc_id", "text", label, dim = 8, iters = 2)
    assert(Selection.logregModels.hits.get() == mHits2,
      "invalidateAll must drop trained models")
  }

  test("parquet_schema: for all ten sf0.001 tables the memo read has the " +
       "schema and rows of a plain read (events.ts normalized), and a " +
       "second read is a hit that runs no job") {
    import graft.queries.Tables
    import org.apache.spark.sql.types._
    val dir = sf0001
    Memo.invalidateAll()
    for (t <- Seq("customer", "documents", "embeddings", "events",
        "lineitem", "nation", "orders", "part", "region", "supplier")) {
      val raw = spark.read.parquet(s"$dir/$t.parquet")
      val plain = if (t != "events") raw else raw.schema("ts").dataType match {
        case LongType => raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
        case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
        case _ => raw
      }
      Tables(spark, dir, t)
      val hits = Tables.schemas.hits.get()
      val (memo, jobs) = jobsOf(Tables(spark, dir, t))
      assert(Tables.schemas.hits.get() == hits + 1, s"$t: second read must hit")
      assert(jobs.isEmpty, s"$t: a memo read must run no job: $jobs")
      assert(memo.schema == plain.schema, s"$t: schema differs")
      assert(rows(memo) == rows(plain), s"$t: rows differ")
      if (t == "events") assert(memo.schema("ts").dataType == TimestampType)
    }
  }

  test("parquet_schema: a table rewritten at the same path with another " +
       "schema is inferred again (the key holds the file listing), and " +
       "invalidateAll drops the memo") {
    import graft.queries.Tables
    val dir = java.nio.file.Files.createTempDirectory("graft_schema_memo")
    val path = s"$dir/t.parquet"
    try {
      Seq((1L, "a"), (2L, "b")).toDF("id", "t").write.parquet(path)
      assert(Tables(spark, dir.toString, "t").columns.toSeq == Seq("id", "t"))
      val builds = Tables.schemas.builds.get()
      Tables(spark, dir.toString, "t")
      assert(Tables.schemas.builds.get() == builds, "same version must hit")
      Seq((3L, "c", 0.5)).toDF("id", "t", "x")
        .write.mode("overwrite").parquet(path)
      val v2 = Tables(spark, dir.toString, "t")
      assert(Tables.schemas.builds.get() == builds + 1,
        "a rewritten table must be inferred again")
      assert(v2.columns.toSeq == Seq("id", "t", "x"))
      assert(rows(v2) == Seq("[3,c,0.5]"))
      Memo.invalidateAll()
      Tables(spark, dir.toString, "t")
      assert(Tables.schemas.builds.get() == builds + 2,
        "invalidateAll must drop the schema memo")
    } finally rmTree(dir)
  }

  test("a FrameMemo hit runs no job before its consumer's action") {
    val memo = new FrameMemo("nojobhit")
    val in = Seq((1, "a"), (2, "b")).toDF("k", "v")
    def call() = memo.getOrCompute(Seq(in), "p") {
      in.groupBy($"k").agg(count(lit(1)).as("n"))
    }
    val built = rows(call())
    val (hit, jobs) = jobsOf(call())
    assert(memo.hits.get() == 1)
    assert(jobs.isEmpty, s"a snapshot hit must run no job: $jobs")
    assert(rows(hit) == built)
  }

  test("q90 followed by q19 builds doc_shingles and minhash_sigs once each") {
    val dir = sf0001
    Memo.invalidateAll()
    val sh0 = Dedup.shingleMemo.builds.get()
    val sg0 = Dedup.sigsMemo.builds.get()
    for (q <- Seq("q90_minhash_estimate", "q19_minhash_lsh"))
      graft.queries.Catalog.byName(q).run(spark, dir).collect()
    assert(Dedup.shingleMemo.builds.get() - sh0 === 1)
    assert(Dedup.sigsMemo.builds.get() - sg0 === 1)
  }
}
