package graft.analytics

import org.apache.spark.sql.functions._
import graft.SparkTestBase

class DedupSpec extends SparkTestBase {

  test("exact dedup tags duplicate content with min-id canonical") {
    import spark.implicits._
    val docs = Seq((1L, "same text"), (2L, "same text"), (3L, "other"))
      .toDF("doc_id", "text")
    val out = Dedup.exactDupTags(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(out.map(_.getAs[Long]("canonical_id")).toSeq === Seq(1L, 1L, 3L))
    assert(out.map(_.getAs[Int]("is_dup")).toSeq === Seq(0, 1, 0))
  }

  test("shingles: distinct 3-grams; short docs produce none") {
    import spark.implicits._
    val docs = Seq((1L, "a b c d"), (2L, "x y")).toDF("doc_id", "text")
    val sh = Dedup.shingles(docs, "doc_id", "text").orderBy("sh").collect()
    assert(sh.map(_.getString(1)).toSeq === Seq("a b c", "b c d"))
  }

  test("tokens normalize whitespace and drop empties") {
    import spark.implicits._
    val out = Seq(("  a\t b  ")).toDF("t")
      .select(Dedup.tokens(col("t")).as("toks")).collect()
      .head.getSeq[String](0)
    assert(out === Seq("a", "b"))
  }

  test("identical docs share every LSH bucket; disjoint docs share none") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "completely different words appear in this unrelated sentence"))
      .toDF("doc_id", "text")
    val sh = Dedup.shingles(docs, "doc_id", "text")
    val cands = Dedup.minhashCandidates(Dedup.minhashBands(sh)).collect()
    assert(cands.map(r => (r.getLong(0), r.getLong(1))).toSeq === Seq((1L, 2L)))
    // fast banding path agrees with the long-format signature definition
    import org.apache.spark.sql.functions.{concat_ws, collect_list, md5, struct, array_sort, transform, floor, col}
    val sigs = Dedup.minhashSignatures(sh)
    val slowBands = sigs
      .withColumn("band", floor(col("k") / 2).cast("int"))
      .groupBy(col("doc"), col("band"))
      .agg(md5(org.apache.spark.sql.functions.array_join(
        transform(array_sort(collect_list(struct(col("k"), col("sig")))),
                  s => s.getField("sig")), ",")).as("bucket"))
    val fast = Dedup.minhashBands(sh).orderBy("doc", "band").collect().toSeq
    val slow = slowBands.orderBy("doc", "band").collect().toSeq
    assert(fast.map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
      === slow.map(r => (r.getLong(0), r.getInt(1), r.getString(2))))
    // map-side array_min path == exploded groupBy path (incl. a short doc
    // that yields no shingles and must vanish from both)
    val docs2 = docs.union(Seq((4L, "too short")).toDF("doc_id", "text"))
    val mapSide = Dedup.minhashBandsFromDocs(docs2, "doc_id", "text")
      .orderBy("doc", "band").collect().toSeq
    val exploded = Dedup.minhashBands(Dedup.shingles(docs2, "doc_id", "text"))
      .orderBy("doc", "band").collect().toSeq
    assert(mapSide.map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
      === exploded.map(r => (r.getLong(0), r.getInt(1), r.getString(2))))
  }

  test("minhashJaccardEstimate: clones estimate 1.0; disjoint docs never " +
       "pair; the estimate never exceeds 1") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),  // clone of 1
      (3L, "one two three four five six seven")).toDF("doc_id", "text")
    val out = Dedup.minhashJaccardEstimate(docs, "doc_id", "text",
        minEstimate = 0.0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.toSeq === Seq((1L, 2L, 1.0)), s"got ${out.toSeq}")
  }

  test("ngram Jaccard: identical docs score 1.0") {
    import spark.implicits._
    val docs = Seq((1L, "a b c d e"), (2L, "a b c d e"), (3L, "p q r s t"))
      .toDF("doc_id", "text")
    val sh = Dedup.shingles(docs, "doc_id", "text")
    val pairs = Dedup.ngramJaccardPairs(sh, minJaccard = 0.5).collect()
    assert(pairs.length === 1)
    assert(pairs.head.getAs[Double]("jaccard") === 1.0)
  }

  test("from-docs Jaccard (map-side counts) == exploded-shingle form") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f"), (2L, "a b c d e g"), (3L, "a b c d e f"),
      (4L, "p q r s t"), (5L, "x y")).toDF("doc_id", "text")
    val viaDocs = Dedup.ngramJaccardPairsFromDocs(
        docs, "doc_id", "text", minJaccard = 0.1)
      .orderBy("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
                 r.getLong(4), r.getDouble(5))).toSeq
    val viaShingles = Dedup.ngramJaccardPairs(
        Dedup.shingles(docs, "doc_id", "text"), minJaccard = 0.1)
      .orderBy("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
                 r.getLong(4), r.getDouble(5))).toSeq
    assert(viaDocs === viaShingles)
    assert(viaDocs.nonEmpty)
  }

  test("hot-shingle cap drops pairs only connected by hot shingles") {
    import spark.implicits._
    // every doc shares 'x x x'; cap=1 removes it from the index
    val docs = (1L to 4L).map(i => (i, s"x x x unique$i token$i third$i"))
      .toDF("doc_id", "text")
    val sh = Dedup.shingles(docs, "doc_id", "text")
    val pairs = Dedup.ngramJaccardPairs(sh, minJaccard = 0.0, maxDocFreq = 1)
    assert(pairs.count() === 0)
  }

  test("prefixFilterJaccardPairs: multi-seed adversarial differential — " +
       "the accumulated positional bound must never prune a TRUE pair") {
    import spark.implicits._
    // Zipf-skewed vocab drives heavy shingle reuse, so candidate pairs
    // collide on SEVERAL prefix tokens — the alpha >= 2 regime where
    // round-10's ub2 = alpha + min(sz - pa_last, sz - pb_last) actually
    // binds; a proof error there would silently DROP a qualifying pair,
    // which no fixed-corpus test is guaranteed to hit. Near-clone pairs
    // are planted at J ~= tau knife edges.
    def corpus(seed: Int) = {
      val rnd = new scala.util.Random(seed)
      def zipfWord() = s"z${math.min(24, (1.0 /
        math.max(1e-9, rnd.nextDouble())).toInt % 25)}"
      val base = (1L to 24L).map { i =>
        val len = 5 + rnd.nextInt(12)
        (i, Seq.fill(len)(zipfWord()).mkString(" "))
      }
      val edges = base.take(6).zipWithIndex.map { case ((id, t), j) =>
        val words = t.split(" ")
        // drop/append a token: J lands near len/(len+1) and
        // (len-1)/len — knife edges for high taus
        val mutated = if (j % 2 == 0) (words :+ s"tail$j").mkString(" ")
                      else words.drop(1).mkString(" ")
        (200L + j, mutated)
      }
      (base ++ edges).toDF("doc_id", "text")
    }
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
                   r.getLong(4), r.getDouble(5))).toSeq
    for (seed <- Seq(11, 23, 37, 41, 53, 67); tau <- Seq(0.34, 0.5, 0.8)) {
      val docs = corpus(seed)
      val exact = rows(Dedup.ngramJaccardPairsFromDocs(docs, "doc_id",
        "text", minJaccard = tau, maxDocFreq = Int.MaxValue))
      val viaPrefix = rows(Dedup.prefixFilterJaccardPairs(docs, "doc_id",
        "text", minJaccard = tau))
      assert(viaPrefix === exact,
        s"seed=$seed tau=$tau: prefix-filter answer diverged from exact")
    }
  }

  test("prefixFilterJaccardPairs == the uncapped exact answer across " +
       "thresholds, and keeps hot-shingle pairs the df cap loses") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val vocab = (1 to 30).map(i => s"w$i")
    val base = (1L to 40L).map { i =>
      val len = 6 + rnd.nextInt(10)
      (i, Seq.fill(len)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val docs = (base ++ Seq(
      (101L, base.head._2),                       // exact clone
      (102L, base(1)._2 + " extraone extratwo"),  // near clone
      (103L, "hot hot hot hot hot hot"),          // hot-only pair
      (104L, "hot hot hot hot hot hot")))
      .toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
                   r.getLong(4), r.getDouble(5))).toSeq
    for (tau <- Seq(0.3, 0.5, 0.8)) {
      val exact = rows(Dedup.ngramJaccardPairsFromDocs(docs, "doc_id",
        "text", minJaccard = tau, maxDocFreq = Int.MaxValue))
      val viaPrefix = rows(Dedup.prefixFilterJaccardPairs(docs, "doc_id",
        "text", minJaccard = tau))
      assert(viaPrefix === exact, s"tau=$tau")
      assert(viaPrefix.exists(p => p._1 == 103L && p._2 == 104L),
        s"tau=$tau: the identical hot pair must qualify")
    }
    // the df cap drops the hot-only pair; the prefix filter kept it above
    val capped = Dedup.ngramJaccardPairsFromDocs(docs, "doc_id", "text",
      minJaccard = 0.5, maxDocFreq = 1)
    assert(!capped.collect().exists(r =>
      r.getLong(0) == 103L && r.getLong(1) == 104L))
    // cache-release contract: the sets table the op persists internally
    // must be GONE once the call returns — repeated PPJoin batches in a
    // long-lived session must not accumulate CacheManager storage
    assert(spark.sharedState.cacheManager.isEmpty,
      "prefixFilterJaccardPairs left a cached table behind")
  }

  test("substringDupPairs: a copied 5-token run pairs its docs with the " +
       "right span count; low-Jaccard docs still pair; hot spans capped") {
    import spark.implicits._
    val run = "p q r s t"
    val docs = Seq(
      (1L, s"$run u v w x y z aa bb cc dd"),     // shares the run with 2
      (2L, s"one two three four $run five six"), // low Jaccard vs 1
      (3L, "totally different words here now indeed friend")).toDF("doc_id", "text")
    val out = Dedup.substringDupPairs(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq === Seq((1L, 2L, 1L)), s"got ${out.toSeq}")
    // cap: a span in every doc disappears at maxDocFreq=1
    val all = (1L to 4L).map(i => (i, s"$run unique$i only$i mine$i her$i"))
      .toDF("doc_id", "text")
    assert(Dedup.substringDupPairs(all, "doc_id", "text",
      maxDocFreq = 1).count() === 0L)
  }

  test("dupShingleCoverage == local brute force on random docs " +
       "(differential)") {
    import spark.implicits._
    val rnd = new scala.util.Random(77)
    val words = Vector("aa", "bb", "cc", "dd", "ee")
    val raw = (0L until 120L).map { i =>
      (i, Seq.fill(rnd.nextInt(9))(words(rnd.nextInt(words.size)))
        .mkString(" "))
    }
    val out = Dedup.dupShingleCoverage(raw.toDF("doc_id", "text"),
        "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    // brute force: distinct 3-gram sets per doc, df over docs
    val sets = raw.map { case (i, t) =>
      val toks = t.split("\\s+").filter(_.nonEmpty)
      i -> toks.sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet
    }.toMap
    val dfCount = sets.values.toSeq.flatMap(_.toSeq)
      .groupBy(identity).view.mapValues(_.size).toMap
    for ((i, shs) <- sets) {
      val nd = shs.count(s => dfCount(s) >= 2)
      assert(out(i) === ((shs.size.toLong, nd.toLong)),
        s"doc $i: got ${out(i)}, want (${shs.size}, $nd)")
    }
  }

  test("dupShingleCoverage: shared trigram counts as dup for both docs; " +
       "unique and short docs report 0/null") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d"),      // "a b c" shared with doc 2, "b c d" unique
      (2L, "a b c x"),
      (3L, "q w"),          // no trigrams
      (4L, "z y w v u")).toDF("doc_id", "text")
    val out = Dedup.dupShingleCoverage(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
                 if (r.isNullAt(3)) None else Some(r.getDouble(3))))
    assert(out(0) === ((1L, 2L, 1L, Some(0.5))))
    assert(out(1) === ((2L, 2L, 1L, Some(0.5))))
    assert(out(2) === ((3L, 0L, 0L, None)))
    assert(out(3) === ((4L, 3L, 0L, Some(0.0))))
  }

  test("connected components: chains merge to one cluster, isolates keep " +
       "their own label, cycles terminate") {
    import spark.implicits._
    // chain 1-2-3, cycle 10-11-12-10, pair 20-21 (21 listed first: orientation
    // must not matter); node 30 appears only as a doc_b
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (11L, 12L), (12L, 10L),
                    (21L, 20L), (25L, 30L))
      .toDF("doc_a", "doc_b")
    val comp = Dedup.connectedComponents(pairs)
      .orderBy("node").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp === Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
                        10L -> 10L, 11L -> 10L, 12L -> 10L,
                        20L -> 20L, 21L -> 20L, 25L -> 25L, 30L -> 25L))
  }

  test("connected components: long chain converges within diameter rounds") {
    import spark.implicits._
    // path graph 0-1-2-...-9 labeled from the high end so labels must
    // travel the full diameter
    val pairs = (0L until 9L).map(i => (9L - i, 8L - i)).toDF("doc_a", "doc_b")
    val comp = Dedup.connectedComponents(pairs)
    assert(comp.select(countDistinct(col("comp"))).head.getLong(0) === 1L)
    assert(comp.agg(min(col("comp"))).head.getLong(0) === 0L)
    assert(comp.count() === 10L)
  }

  test("connected components: local union-find == distributed propagation " +
       "on a random graph (tier parity)") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val pairs = (1 to 200)
      .map(_ => (rnd.nextInt(80).toLong, rnd.nextInt(80).toLong))
      .filter { case (a, b) => a != b }
      .toDF("doc_a", "doc_b")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("node").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
    // small -> local tier
    val (localOut, gD) = gatesOf(Dedup.connectedComponents(pairs))
    assert(gD === Map("graph" -> (1L, 0L)), "default gate: local union-find")
    val (iterOut, gX) = gatesOf(withConf("spark.graft.gate.graph" -> "0")(
      Dedup.connectedComponents(pairs, maxIter = 20)))
    assert(gX === Map("graph" -> (0L, 1L)), "gate 0: distributed propagation")
    assert(canon(localOut) === canon(iterOut))
  }

  test("connected components of an empty pair set: size 0 takes the " +
       "distributed tier, which returns the union-find's columns and " +
       "types and no rows") {
    import spark.implicits._
    import org.apache.spark.sql.types.LongType
    val pairs = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    val (out, g) = gatesOf(Dedup.connectedComponents(pairs))
    assert(g === Map("graph" -> (0L, 1L)))
    assert(out.schema.map(f => f.name -> f.dataType) ===
      Seq("node" -> LongType, "comp" -> LongType))
    assert(out.isEmpty)
  }

  test("qualityCanonical keeps the highest-quality cluster member, " +
       "ties to the smallest id; singletons keep themselves") {
    import spark.implicits._
    val txt = "alpha beta gamma delta epsilon zeta eta theta"
    val docs = Seq(
      (1L, txt, 10L),           // cluster {1,2,3}: 3 has max quality
      (2L, txt, 10L),
      (3L, txt, 99L),
      (7L, "totally different words entirely here now", 5L))
      .toDF("doc_id", "text", "n_chars")
    val out = Dedup.qualityCanonical(docs, "doc_id", "n_chars", "text")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(3), r.getBoolean(4)))
    assert(out.toSeq === Seq((1L, 3L, false), (2L, 3L, false),
      (3L, 3L, true), (7L, 7L, true)), s"got ${out.toSeq}")
    // tie on quality -> smallest id wins
    val tied = Seq((4L, txt, 10L), (5L, txt, 10L))
      .toDF("doc_id", "text", "n_chars")
    val out2 = Dedup.qualityCanonical(tied, "doc_id", "n_chars", "text")
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(3)))
    assert(out2.toSeq === Seq((4L, 4L), (5L, 4L)))
    // STRING ids work: only the quality side is negated, never the id
    val sids = Seq(("a", txt, 10L), ("b", txt, 99L), ("c", txt, 10L))
      .toDF("doc_id", "text", "n_chars")
    val out3 = Dedup.qualityCanonical(sids, "doc_id", "n_chars", "text")
      .orderBy("doc_id").collect()
      .map(r => (r.getString(0), r.getString(3), r.getBoolean(4)))
    assert(out3.toSeq === Seq(("a", "b", false), ("b", "b", true),
      ("c", "b", false)), s"got ${out3.toSeq}")
  }

  test("leakage-safe split: every member of a component gets the same " +
       "split; all three splits appear over many singleton components") {
    import spark.implicits._
    val tagged = (1L to 300L).map(i => (i, if (i <= 10) 1L else i))
      .toDF("doc_id", "component")
    val out = Dedup.leakageSafeSplit(tagged, "doc_id", "component")
    val clusterSplits = out.filter($"component" === 1L)
      .select("split").distinct().collect().map(_.getString(0)).toSeq
    assert(clusterSplits.length === 1, "a cluster must not straddle splits")
    val splits = out.select("split").distinct().collect()
      .map(_.getString(0)).toSet
    assert(splits === Set("train", "val", "test"))
    // deterministic: same input -> same assignment
    val again = Dedup.leakageSafeSplit(tagged, "doc_id", "component")
      .orderBy("doc_id").collect().map(_.getString(2)).toSeq
    assert(again === out.orderBy("doc_id").collect().map(_.getString(2)).toSeq)
  }

  test("simhash: identical text -> identical hash, 16-bit range") {
    import spark.implicits._
    val docs = Seq((1L, "alpha beta gamma"), (2L, "alpha beta gamma"),
                   (3L, "delta epsilon zeta eta"))
      .toDF("doc_id", "text")
    val out = Dedup.simhash(docs, "doc_id", "text")
      .orderBy("doc").collect().map(_.getLong(1))
    assert(out(0) === out(1))
    assert(out.forall(h => h >= 0L && h < 65536L))
    // explode-semantics parity: zero-token docs emit NO row
    val withEmpty = docs.union(Seq((4L, "   "), (5L, "")).toDF("doc_id", "text"))
    assert(Dedup.simhash(withEmpty, "doc_id", "text").count() === 3L)
  }

  test("incrementalDedup: exact hits via the fingerprint table, near " +
       "hits via the band table, hot-bucket cap, novel docs keep") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val corpus = Seq((10L, base), (20L, s"$base with a trailing marker"),
      (30L, "some totally separate corpus document about other things"))
      .toDF("doc_id", "text")
    val shard = Seq(
      (101L, base),                                   // exact dup of 10
      (102L, s"$base and one novel tail"),            // near-dup (shares bands)
      (103L, "a wholly new document sharing no phrasing with anything"))
      .toDF("doc_id", "text")
    val fps = Dedup.corpusFingerprints(corpus, "text")
    val bands = Dedup.minhashBandsFromDocs(corpus, "doc_id", "text")
    val out = Dedup.incrementalDedup(shard, "doc_id", "text", fps, bands)
      .collect().map(r => r.getLong(0) ->
        (r.getBoolean(1), r.getLong(2), r.getBoolean(3))).toMap
    assert(out(101L)._1, "exact copy must hit the fingerprint table")
    assert(!out(101L)._3, "exact dup never keeps")
    assert(!out(102L)._1 && out(102L)._2 >= 1L && !out(102L)._3,
      s"near-dup must hit the band table: ${out(102L)}")
    assert(out(103L) === ((false, 0L, true)), "novel doc keeps")
    // hot-bucket cap: maxBucket = 0 drops every corpus bucket -> no
    // near candidates survive, exact hits unaffected
    val capped = Dedup.incrementalDedup(shard, "doc_id", "text", fps, bands,
        maxBucket = 0)
      .collect().map(r => r.getLong(0) ->
        (r.getBoolean(1), r.getLong(2), r.getBoolean(3))).toMap
    assert(capped(101L)._1 && capped(102L)._2 === 0L && capped(102L)._3)
  }

  test("CorpusIndex: write -> read round-trips the probe verdicts, " +
       "params travel with the artifact, merged() catches the next dup") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val corpus = Seq((10L, base),
      (30L, "some totally separate corpus document about other things"))
      .toDF("doc_id", "text")
    val shard = Seq((101L, base),
      (103L, "a wholly new document sharing no phrasing with anything"))
      .toDF("doc_id", "text")
    val idx = CorpusIndex.build(corpus, "doc_id", "text",
      n = 2, numHashes = 6, bandSize = 3)
    val dir = java.nio.file.Files.createTempDirectory("graft_cidx").toString
    idx.write(dir)
    val loaded = CorpusIndex.read(spark, dir)
    assert((loaded.n, loaded.numHashes, loaded.bandSize) === ((2, 6, 3)))
    val direct = Dedup.incrementalDedup(shard, "doc_id", "text",
        idx.fingerprints, idx.bands, idx.n, idx.numHashes,
        idx.bandSize)
      .orderBy("doc_id").collect().map(_.toSeq)
    val viaDisk = Dedup.incrementalDedup(shard, "doc_id", "text",
        loaded.fingerprints, loaded.bands, loaded.n, loaded.numHashes,
        loaded.bandSize)
      .orderBy("doc_id").collect().map(_.toSeq)
    assert(direct.toSeq === viaDisk.toSeq)
    assert(direct(0)(1) === true && direct(1)(3) === true)
    // accept doc 103, merge it in: its exact copy is now screened out
    val accepted = shard.filter($"doc_id" === 103L)
    val grown = idx.merged(accepted, "doc_id", "text")
    val next = Seq((201L, "a wholly new document sharing no phrasing with anything"))
      .toDF("doc_id", "text")
    val verdict = Dedup.incrementalDedup(next, "doc_id", "text",
        grown.fingerprints, grown.bands, grown.n, grown.numHashes,
        grown.bandSize)
      .collect().head
    assert(verdict.getBoolean(1) && !verdict.getBoolean(3),
      s"merged index must catch the accepted doc's copy: $verdict")
  }

  test("editDistanceVerify: exact distances under the threshold, -1 " +
       "above it, only candidate pairs scored") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumped over the lazy dog"), // dist 2
      (3L, "a completely different document with other words entirely"),
      (4L, "the quick brown fox jumps over the lazy dog")   // dist 0 to 1
    ).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("doc_a", "doc_b")
    val out = Dedup.editDistanceVerify(pairs, docs, "doc_id", "text",
        maxDist = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(out.size === 3, "exactly the candidate pairs, nothing else")
    assert(out((1L, 2L)) === 2, "jumps -> jumped is two edits")
    assert(out((1L, 4L)) === 0, "identical docs")
    assert(out((1L, 3L)) === -1, "over threshold reports -1, not a cost")
  }

  test("minhashCalibration: identical pairs land in the top bucket " +
       "with zero error in every statistic") {
    import spark.implicits._
    val t1 = "alpha beta gamma delta epsilon zeta eta theta"
    val t2 = "one two three four five six seven eight nine"
    val docs = Seq((1L, t1), (2L, t1), (3L, t2), (4L, t2))
      .toDF("doc_id", "text")
    val got = Dedup.minhashCalibration(docs, "doc_id", "text")
      .orderBy("bucket").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4)))
    // exact J = 1 and signature agreement = 8/8 for both clone pairs:
    // bucket floor(1.0*8) caps to 7, every error statistic exactly 0
    assert(got.toSeq === Seq((7, 2L, 0.0, 0.0, 0.0)))
  }

  test("minhashCalibration rejects a reused doc id, naming it, instead " +
       "of silently pairing the extra row's text into the statistics") {
    import spark.implicits._
    val base = (1 to 40).map { i =>
      (i.toLong, s"alpha beta gamma ${i % 8} delta epsilon zeta " +
        s"w${i % 5} w${i % 3} tail tokens")
    }
    // one more row under id 3, carrying doc 10's text
    val docs = (base :+ (3L -> base(9)._2)).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException](
      Dedup.minhashCalibration(docs, "doc_id", "text").collect())
    assert(e.getMessage.contains("doc_id") &&
      e.getMessage.contains("3 appears more than once"), e.getMessage)
  }
}

class SimilaritySpec extends SparkTestBase {

  test("randomProject: deterministic, right shape, JL-preserves pairwise " +
       "distances within loose bounds, and shuffle-free") {
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    val vecs = (0L until 40L).map(i =>
      (i, Array.fill(64)((rnd.nextDouble() * 2 - 1).toFloat)))
    val df = vecs.toDF("vec_id", "embedding")
    val proj = Similarity.randomProject(df, "vec_id", "embedding", outDim = 16)
    val rows = proj.collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
    assert(rows.length === 40 * 16)
    val y = rows.groupBy(_._1).view
      .mapValues(_.sortBy(_._2).map(_._3).toArray).toMap
    // JL with d'=16: E[|y_a-y_b|^2] = |x_a-x_b|^2; spot-check the ratio
    // stays within a generous (0.3, 3) band for a handful of pairs
    val x = vecs.toMap.view.mapValues(_.map(_.toDouble)).toMap
    def d2(a: Array[Double], b: Array[Double]) =
      a.zip(b).map { case (u, v) => (u - v) * (u - v) }.sum
    for ((a, b) <- Seq((0L, 1L), (2L, 3L), (10L, 30L), (5L, 25L))) {
      val ratio = d2(y(a), y(b)) / d2(x(a), x(b))
      assert(ratio > 0.3 && ratio < 3.0, s"pair ($a,$b) distorted: $ratio")
    }
    // deterministic across partitionings
    val again = Similarity.randomProject(
        df.repartition(7), "vec_id", "embedding", outDim = 16)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSet
    assert(again === rows.toSet)
    // map-side: no exchange anywhere in the projection plan
    val plan = proj.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"projection must not shuffle:\n$plan")
  }

  test("cosine of identical vectors is 1, orthogonal is 0") {
    import spark.implicits._
    val df = Seq((Array(1.0f, 0.0f), Array(1.0f, 0.0f), Array(0.0f, 1.0f)))
      .toDF("a", "b", "c")
    val r = df.select(
      Similarity.cosine(Similarity.asDouble(col("a")), Similarity.asDouble(col("b"))).as("ab"),
      Similarity.cosine(Similarity.asDouble(col("a")), Similarity.asDouble(col("c"))).as("ac"))
      .collect().head
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-12)
    assert(math.abs(r.getDouble(1)) < 1e-12)
  }

  test("brute-force top-k finds the nearest vector, excludes self") {
    import spark.implicits._
    val emb = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.9f, 0.1f)),
      (2L, Array(0.0f, 1.0f)), (3L, Array(-1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
        col("vec_id") === 0, k = 2).orderBy("rn").collect()
    assert(out.map(_.getAs[Long]("neighbor_id")).toSeq === Seq(1L, 2L))
  }

  test("kNN classify: majority vote wins; vote ties break to the smallest " +
       "label; IVF-fed vote (query_id shape) matches the exact baseline") {
    import spark.implicits._
    // query 0 at angle 0; three near neighbors labeled 7,7,3 and one far
    // vector labeled 1 -> k=3 vote is {7:2, 3:1} -> 7
    val emb = Seq(
      (0L, Array(1.0f, 0.0f), 9),
      (1L, Array(0.99f, 0.1f), 7), (2L, Array(0.98f, 0.12f), 7),
      (3L, Array(0.97f, 0.2f), 3), (4L, Array(-1.0f, 0.0f), 1))
      .toDF("vec_id", "embedding", "label")
    val pred = Similarity.knnClassify(emb, "vec_id", "embedding", "label",
        col("vec_id") === 0, k = 3).collect()
    assert(pred.length === 1)
    assert(pred.head.getAs[Int]("pred_label") === 7)
    assert(pred.head.getAs[Long]("votes") === 2L)
    // k=2 -> labels {7, 7}? no: top-2 are ids 1,2 (both 7). Force a tie
    // with k=4: {7:2, 3:1, 1:1} still 7; tie case below uses 2 vs 7 at 2-2
    val emb2 = Seq(
      (0L, Array(1.0f, 0.0f), 9),
      (1L, Array(0.99f, 0.1f), 7), (2L, Array(0.98f, 0.12f), 7),
      (3L, Array(0.97f, 0.2f), 2), (4L, Array(0.96f, 0.22f), 2))
      .toDF("vec_id", "embedding", "label")
    val tied = Similarity.knnClassify(emb2, "vec_id", "embedding", "label",
        col("vec_id") === 0, k = 4).collect()
    assert(tied.head.getAs[Int]("pred_label") === 2) // 2-2 tie -> min label
    // composition: the vote fed from the trained-IVF neighbor table
    // (query_id/dist2 shape) agrees with the exact path when the index
    // probes every cluster
    val labels = emb.select($"vec_id".as("neighbor_id"), $"label")
    val ivfNbrs = Cluster.ivfTopK(
        Cluster.train(emb, "vec_id", "embedding", k = 2, iters = 2),
        emb, emb.filter($"vec_id" === 0), "vec_id", "embedding",
        kTop = 3, nprobe = 2)
    val viaIvf = Similarity.voteFromNeighbors(ivfNbrs, labels).collect()
    assert(viaIvf.head.getAs[Int]("pred_label") === 7)
  }

  test("centroid classify assigns by nearest label-mean; cosine ties " +
       "break to the smallest label; NaN-cosine vectors never win") {
    import spark.implicits._
    // two tight clusters around e0 (label 3) and e1 (label 8)
    val emb = Seq(
      (0L, Array(1.0f, 0.05f), 3), (1L, Array(1.0f, -0.05f), 3),
      (2L, Array(0.05f, 1.0f), 8), (3L, Array(-0.05f, 1.0f), 8),
      (4L, Array(0.9f, 0.1f), 3))
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.centroidClassify(emb, "vec_id", "embedding", "label")
      .orderBy("vec_id").collect()
    assert(out.map(_.getAs[Int]("pred_label")).toSeq === Seq(3, 3, 8, 8, 3))
    assert(out.forall(_.getAs[Double]("cos_sim") > 0.9))
    // symmetric two-label corpus: both centroids at 45 degrees from a
    // probe on the diagonal -> exact cosine tie -> label asc wins
    val sym = Seq(
      (0L, Array(1.0f, 0.0f), 7), (1L, Array(0.0f, 1.0f), 2),
      (2L, Array(1.0f, 1.0f), 7))
      .toDF("vec_id", "embedding", "label")
    // note: vec 2's own label doesn't bias the argmax; centroids are
    // label means: c7 = mean(e0, diag), c2 = e1
    val pick = Similarity.centroidClassify(sym, "vec_id", "embedding", "label")
      .filter($"vec_id" === 1).collect().head
    assert(pick.getAs[Int]("pred_label") === 2)
  }

  test("IVF top-k with every vector a centroid matches brute force") {
    import spark.implicits._
    val emb = (0L to 9L).map(i =>
        (i, Array((math.cos(i * 0.5)).toFloat, (math.sin(i * 0.5)).toFloat)))
      .toDF("vec_id", "embedding")
    val bf = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
        col("vec_id") === 4, k = 3).select("rn", "neighbor_id").collect().toSeq
    val ivf = Similarity.ivfTopK(emb, "vec_id", "embedding",
        col("vec_id") === 4, k = 3, centroidStride = 1, nprobe = 10)
      .select("rn", "neighbor_id").collect().toSeq
    assert(ivf === bf)
  }

  test("IVF centroid rule works over STRING ids (hash membership, no " +
       "numeric-id contract)") {
    import spark.implicits._
    val emb = (0L to 19L).map(i =>
        (s"doc-$i",
         Array((math.cos(i * 0.5)).toFloat, (math.sin(i * 0.5)).toFloat)))
      .toDF("vec_id", "embedding")
    // stride=1 -> every vector a centroid -> IVF with wide probe == brute
    val bf = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
        col("vec_id") === "doc-4", k = 3).select("rn", "neighbor_id")
      .collect().toSeq
    val ivf = Similarity.ivfTopK(emb, "vec_id", "embedding",
        col("vec_id") === "doc-4", k = 3, centroidStride = 1, nprobe = 20)
      .select("rn", "neighbor_id").collect().toSeq
    assert(ivf === bf)
    // pair op over string ids: clones share every centroid similarity, so
    // the tie-break assigns them the same bucket and the pair is found
    val withClones = emb.unionByName(
      Seq(("dup-a", Array(0.6f, 0.8f)), ("dup-b", Array(0.6f, 0.8f)))
        .toDF("vec_id", "embedding"))
    val pairs = Similarity.cosineNearDupPairs(withClones, "vec_id",
        "embedding", minCosine = 0.99, centroidStride = 4)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(pairs.contains(("dup-a", "dup-b")))
  }

  test("a degenerate zero-norm CENTROID loses every assignment (null " +
       "csim coalesces to +inf in the min_by ordering)") {
    import spark.implicits._
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // an id inside the ~1/50 stride-50 hash window -> guaranteed centroid
    val zeroId = (1000L to 20000L).find(i => md5hex(i.toString) < "05").get
    val emb = ((0L to 19L).map(i =>
        (i, Array(math.cos(i * 0.5).toFloat, math.sin(i * 0.5).toFloat))) :+
      (zeroId, Array(0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    // without the coalesce, every vector min_by-assigns to the zero
    // centroid (null sorts first), probes never reach it, and top-k is
    // EMPTY; with it, results match brute force over the real vectors
    val ivf = Similarity.ivfTopK(emb, "vec_id", "embedding",
        col("vec_id") === 4, k = 3, centroidStride = 1, nprobe = 30)
      .select("rn", "neighbor_id").collect().toSeq
    val bf = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
        col("vec_id") === 4, k = 3).select("rn", "neighbor_id")
      .collect().toSeq
    assert(ivf.nonEmpty && ivf === bf)
  }

  test("int8 quantization: max element hits ±127, zero vector degrades " +
       "to zeros, dequantized cosine stays close to the original") {
    import spark.implicits._
    // boxed elements so a REAL null can appear in row 4: null and NaN
    // elements read as 0 — Spark's null-skipping least/greatest would
    // otherwise fabricate a +127 component
    val emb = Seq[(Long, Seq[java.lang.Float])](
      (1L, Seq[java.lang.Float](1.0f, -0.5f, 0.25f, 0.0f)),
      (2L, Seq[java.lang.Float](0.0f, 0.0f, 0.0f, 0.0f)),
      (3L, Seq[java.lang.Float](-2.0f, 1.0f, 0.5f, -0.25f)),
      (4L, Seq[java.lang.Float](2.0f, null, Float.NaN, -1.0f)))
      .toDF("vec_id", "embedding")
    val qv = graft.analytics.Quantize
      .int8Vectors(emb, "vec_id", "embedding")
      .orderBy("vec_id").collect()
    assert(qv(0).getSeq[Byte](2) === Seq[Byte](127, -63, 32, 0))
    assert(qv(1).getSeq[Byte](2) === Seq[Byte](0, 0, 0, 0))
    assert(qv(2).getSeq[Byte](2) === Seq[Byte](-127, 64, 32, -16))
    // scale from |2.0|; null/NaN dims quantize to 0, not +127
    assert(qv(3).getSeq[Byte](2) === Seq[Byte](127, 0, 0, -63))
    val sum = graft.analytics.Quantize
      .int8Summary(emb, "vec_id", "embedding")
      .orderBy("vec_id").collect()
    assert(sum(0).getLong(2) === 127L + 63 + 32)       // q_l1
    assert(sum(0).getLong(3) === 127L*127 + 63*63 + 32*32) // q_l2sq
    assert(sum(1).getDouble(1) === 0.0 && sum(1).getLong(2) === 0L)
    // dequantized direction stays close: cos(orig, dequant) > 0.999
    val v = Seq(1.0, -0.5, 0.25, 0.0)
    val deq = qv(0).getSeq[Byte](2).map(_ * qv(0).getDouble(1))
    val cos = v.zip(deq).map(p => p._1 * p._2).sum /
      (math.sqrt(v.map(x => x * x).sum) * math.sqrt(deq.map(x => x * x).sum))
    assert(cos > 0.999)
  }

  test("hyperplane signs are deterministic ±1") {
    val a = Similarity.hyperplaneSigns(4, 8)
    val b = Similarity.hyperplaneSigns(4, 8)
    assert(a.map(_.toSeq).toSeq === b.map(_.toSeq).toSeq)
    assert(a.flatten.forall(x => x == 1.0 || x == -1.0))
    // not degenerate: both signs occur
    assert(a.flatten.distinct.length == 2)
  }

  test("LSH near-dup pairs are a subset of true pairs and catch clones") {
    import spark.implicits._
    // 0/1 near-identical, 2/3 near-identical, rest scattered
    val base = Array.tabulate(16)(i => math.sin(i * 1.7).toFloat)
    val emb = (Seq(
      (0L, base), (1L, base.map(x => x * 1.01f)),
      (2L, base.map(x => -x)), (3L, base.map(x => -x * 0.99f))) ++
      (4L to 9L).map(i => (i,
        Array.tabulate(16)(j => math.cos(i * 2.1 + j * 0.9).toFloat))))
      .toDF("vec_id", "embedding")
    val out = Similarity.lshNearDupPairs(emb, "vec_id", "embedding",
        minCosine = 0.9, bands = 3, planesPerBand = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // every reported pair really has cosine >= 0.9 (exact re-check filter)
    assert(out.forall(_._3 >= 0.9))
    // identical-direction clones share every band signature -> always found
    // (cos(i*2.1+…) at i-spacing 3 ≈ 2π also yields true near-dups among
    // the fillers — they may legitimately appear too)
    val pairs = out.map(p => (p._1, p._2)).toSet
    assert(pairs.contains((0L, 1L)) && pairs.contains((2L, 3L)))
  }

  test("LSH near-dup drops vectors whose length differs from the corpus " +
       "dim instead of collapsing them into the all-zero bucket") {
    import spark.implicits._
    val base = Array.tabulate(16)(i => math.sin(i * 1.7).toFloat)
    val short = Array.tabulate(8)(i => math.cos(i * 0.4).toFloat)
    // 0/1/2: the MAJORITY dim (with clones 0/1); 90/91: clones at a
    // DIFFERENT dim — without the guard their null dots make every sig
    // bit 0 and they pair up in the shared degenerate bucket
    val emb = Seq(
      (0L, base), (1L, base.map(x => x * 1.01f)),
      (2L, base.map(x => -x)),
      (90L, short), (91L, short.map(x => x * 1.01f)))
      .toDF("vec_id", "embedding")
    val pairs = Similarity.lshNearDupPairs(emb, "vec_id", "embedding",
        minCosine = 0.9, bands = 3, planesPerBand = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)))
    assert(!pairs.exists(p => p._1 >= 90L || p._2 >= 90L))
  }

  test("mmrRerank: an exact duplicate of the top hit is demoted below " +
       "the diverse candidate; plain top-k would rank it second") {
    import spark.implicits._
    // query 0 = (0.8, 0.6); candidates: 1 = (1,0), 2 = exact duplicate
    // of 1, 3 = (0,1). simq: 1 -> 0.8, 2 -> 0.8, 3 -> 0.6 — raw top-2
    // is {1, 2}. With lambda = 0.5: step 1 picks 1 (tie with 2, id
    // tiebreak, score 0.4); step 2 scores 2 at 0.5*0.8 - 0.5*1.0 =
    // -0.1 and 3 at 0.5*0.6 - 0.5*0 = 0.3 -> 3 wins; step 3 takes the
    // leftover duplicate at -0.1
    val emb = Seq(
      (0L, Array(0.8f, 0.6f)), (1L, Array(1f, 0f)),
      (2L, Array(1f, 0f)), (3L, Array(0f, 1f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.mmrRerank(emb, "vec_id", "embedding",
        col("vec_id") === 0, candidates = 3, k = 3, lambda = 0.5)
      .orderBy("step").collect()
      .map(r => (r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq === Seq((1, 1L, 0.4), (2, 3L, 0.3), (3, 2L, -0.1)))
    // contrast: the similarity-only shortlist puts the duplicate 2nd
    val plain = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
        col("vec_id") === 0, k = 2)
      .orderBy("rn").collect().map(_.getLong(2))
    assert(plain.toSeq === Seq(1L, 2L))
    // the scale path: an externally-supplied shortlist (here the same
    // brute probe, renamed) reproduces the identical greedy trajectory
    val external = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
        col("vec_id") === 0, k = 3)
      .select(col("qid"), col("neighbor_id").as("vid"),
        col("cos_sim").as("simq"))
    val fromExt = Similarity.mmrRerankFrom(external, emb, "vec_id",
        "embedding", k = 3, lambda = 0.5)
      .orderBy("step").collect()
      .map(r => (r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(fromExt.toSeq === got.toSeq)
  }

  test("mmrRerank branch equality: the size-gated driver greedy " +
       "replays the distributed unfold bit-for-bit (same collected " +
       "doubles through the same rounding), including negative " +
       "pairwise cosines and a shortlist vid with no vector") {
    import spark.implicits._
    def run(emb: org.apache.spark.sql.DataFrame,
            shortlist: org.apache.spark.sql.DataFrame,
            k: Int, lambda: Double) =
      Similarity.mmrRerankFrom(shortlist, emb, "vec_id", "embedding",
          k = k, lambda = lambda)
        .orderBy("qid", "step").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
          r.getDouble(3))).toSeq
    // each call asserts the branch its gate decision took
    def local[A](body: => A): A = {
      val (out, g) = gatesOf(body)
      assert(g === Map("mmr" -> (1L, 0L)), "default gate: local")
      out
    }
    def withGate0[A](body: => A): A =
      withConf("spark.graft.gate.mmr" -> "0") {
        val (out, g) = gatesOf(body)
        assert(g === Map("mmr" -> (0L, 1L)), "gate 0: distributed")
        out
      }
    // negative-cosine fixture: candidate 2 is ANTI-correlated with 1,
    // so its step-2 penalty max is negative and a driver branch that
    // floors ms at 0 would diverge here
    val emb = Seq(
      (0L, Array(1.0f, 0.2f)), (1L, Array(1.0f, 0.0f)),
      (2L, Array(-1.0f, 0.1f)), (3L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val sl = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
        col("vec_id") === 0, k = 3)
      .select(col("qid"), col("neighbor_id").as("vid"),
        col("cos_sim").as("simq"))
    val drv = local(run(emb, sl, k = 3, lambda = 0.5))
    assert(drv.nonEmpty)
    assert(withGate0(run(emb, sl, k = 3, lambda = 0.5)) === drv)
    // a shortlist entry whose vid has NO vector: it never appears in
    // the pair table, so its penalty coalesces to 0.0 in both branches
    val slExtra = sl.unionByName(
      Seq((0L, 99L, 0.5)).toDF("qid", "vid", "simq"))
    val drvX = local(run(emb, slExtra, k = 4, lambda = 0.5))
    assert(drvX.exists(_._3 == 99L))
    assert(withGate0(run(emb, slExtra, k = 4, lambda = 0.5)) === drvX)
    // seeded randomized differentials: signed random vectors (negative
    // cosines arise), several queries, candidate count > k
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(4200L + seed)
      val rEmb = (0L until 24L).map(i =>
        (i, Array.fill(4)(rnd.nextFloat() * 2f - 1f)))
        .toDF("vec_id", "embedding")
      val rSl = Par.materialize(
        Similarity.bruteForceTopK(rEmb, "vec_id", "embedding",
            col("vec_id") % 6 === 0, k = 6)
          .select(col("qid"), col("neighbor_id").as("vid"),
            col("cos_sim").as("simq")))
      val d = local(run(rEmb, rSl, k = 4, lambda = 0.7))
      assert(d.nonEmpty)
      assert(withGate0(run(rEmb, rSl, k = 4, lambda = 0.7)) === d,
        s"seed=$seed branches disagree")
    }
  }

  test("mmrRerank pair gate: a SKEWED shortlist (one qid hoarding " +
       "candidates) falls through to the distributed branch when " +
       "the collected rows (shortlist + Σ per-qid candidates²) exceed " +
       "spark.graft.gate.mmr, even though the shortlist rows alone are " +
       "under it — and the result is identical to the driver replay") {
    import spark.implicits._
    // 1 qid × 30 candidates: 30 shortlist rows but 900 pair rows — a
    // threshold of 100 admits the shortlist, not the 930 collected rows
    val rnd = new scala.util.Random(77L)
    val emb = (0L until 31L).map(i =>
      (i, Array.fill(4)(rnd.nextFloat() * 2f - 1f)))
      .toDF("vec_id", "embedding")
    val sl = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
        col("vec_id") === 0L, k = 30)
      .select(col("qid"), col("neighbor_id").as("vid"),
        col("cos_sim").as("simq"))
    def run() =
      Similarity.mmrRerankFrom(sl, emb, "vec_id", "embedding",
          k = 4, lambda = 0.7)
        .orderBy("qid", "step").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
          r.getDouble(3))).toSeq
    val (driverOut, gD) =
      gatesOf(withConf("spark.graft.gate.mmr" -> "100000")(run()))
    assert(gD === Map("mmr" -> (1L, 0L)), "930 <= 100000: driver replay")
    val (distOut, gX) =
      gatesOf(withConf("spark.graft.gate.mmr" -> "100")(run()))
    assert(gX === Map("mmr" -> (0L, 1L)),
      "collected volume 930 > gate 100 must fall through to the " +
        "distributed unfold")
    assert(distOut === driverOut)
    assert(distOut.nonEmpty && distOut.map(_._2) === Seq(1, 2, 3, 4))
  }

  test("truncationRecall: a prefix that preserves the neighborhood " +
       "scores recall 1, a prefix that hides the signal dims misses; " +
       "the query itself is never its own neighbor") {
    import spark.implicits._
    // 4-dim vectors; the FIRST 2 dims separate {q, a} from {b, far},
    // the LAST 2 dims are where b secretly matches q better.
    // full-dim top-1 of q is b; prefix-2 top-1 is a -> recall 0 at d=2.
    // prefix-4 == full -> recall 1.
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 1.0f)),          // q (query)
      (1L, Array(0.9f, 0.1f, 1.0f, -1.0f)),         // a: close in d=2
      (2L, Array(0.5f, 0.5f, 0.05f, 1.1f)),         // b: close in full
      (3L, Array(-1.0f, -1.0f, -1.0f, -1.0f)))      // far everywhere
      .toDF("vec_id", "embedding")
    val got = Similarity.truncationRecall(emb, "vec_id", "embedding",
        queryPred = col("vec_id") === 0L, dims = Seq(2, 4))
      .orderBy("trunc_dim").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq === Seq((2, 1L, 0.0), (4, 1L, 1.0)))
  }

  test("centroidDrift: identical slices give cosine 1 / l2 0, " +
       "orthogonal slice centroids give cosine 0, a label empty in " +
       "one slice nulls the drift instead of faking a 0") {
    import spark.implicits._
    val emb = Seq(
      (0L, Array(1.0f, 0.0f), 1), (1L, Array(1.0f, 0.0f), 1),
      (2L, Array(0.0f, 2.0f), 2), (3L, Array(2.0f, 0.0f), 2),
      (4L, Array(1.0f, 1.0f), 3))
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.centroidDrift(emb, "label", "embedding",
        sliceA = col("vec_id") % 2 === 0)
      .orderBy("label").collect()
    assert(got(0).getDouble(3) === 1.0 && got(0).getDouble(4) === 0.0)
    // label 2: centroid (0,2) vs (2,0) — cosine 0, l2 = sqrt(8)
    assert(got(1).getDouble(3) === 0.0 &&
      math.abs(got(1).getDouble(4) - math.sqrt(8.0)) < 1e-6)
    // label 3 has no odd-id rows: n_b = 0, drift undefined
    assert(got(2).getLong(2) === 0L && got(2).isNullAt(3) &&
      got(2).isNullAt(4))
  }
}

class PqSpec extends SparkTestBase {

  private def vec(seed: Long, dim: Int): Array[Float] =
    Array.tabulate(dim)(j => math.sin(seed * 2.3 + j * 0.7).toFloat)

  test("encode: with every vector a codebook entry, qerr is 0 and codes " +
       "are valid indices") {
    import spark.implicits._
    val emb = (0L until 16L).map(i => (i, vec(i, 8))).toDF("vec_id", "embedding")
    val out = Pq.encode(emb, "vec_id", "embedding", m = 2, k = 16)
      .orderBy("vec_id").collect()
    assert(out.length === 16)
    out.foreach { r =>
      assert(r.getDouble(2) === 0.0, s"own codebook entry must encode exactly: $r")
      val codes = r.getString(1).split(",").map(_.toInt)
      assert(codes.length === 2 && codes.forall(c => c >= 0 && c < 16))
    }
  }

  test("encode: a clone of another vector gets the same codes; a vector " +
       "off the corpus dim is dropped") {
    import spark.implicits._
    val emb = ((0L until 16L).map(i => (i, vec(i, 8))) ++
      Seq((20L, vec(3L, 8)),              // exact clone of vector 3
          (21L, vec(5L, 4))))             // wrong dim -> dropped
      .toDF("vec_id", "embedding")
    val out = Pq.encode(emb, "vec_id", "embedding", m = 2, k = 16)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(!out.contains(21L))
    assert(out(20L) === out(3L))
  }

  test("native kernel encode == composed-HOF encode (codes exact, qerr " +
       "bit-identical)") {
    import spark.implicits._
    val emb = (0L until 40L).map(i => (i, vec(i, 12))).toDF("vec_id", "embedding")
    val a = Pq.encode(emb, "vec_id", "embedding", m = 3, k = 8)
      .orderBy("vec_id").collect()
    val b = Pq.encodeComposed(emb, "vec_id", "embedding", m = 3, k = 8)
      .orderBy("vec_id").collect()
    assert(a.length === b.length)
    a.zip(b).foreach { case (x, y) =>
      assert(x.getLong(0) === y.getLong(0))
      assert(x.getString(1) === y.getString(1))
      assert(x.getDouble(2) === y.getDouble(2))
    }
  }

  test("kmeansAssign: two well-separated blobs recover their generating " +
       "groups; every vector lands with its nearest centroid") {
    import spark.implicits._
    // blob A near +1s, blob B near -1s (8 dims, tiny jitter)
    def blob(sign: Double, i: Long): Array[Float] =
      Array.tabulate(8)(j => (sign * (1.0 + 0.01 * math.sin(i * 3.1 + j))).toFloat)
    val emb = ((0L until 10L).map(i => (i, blob(1.0, i))) ++
               (10L until 20L).map(i => (i, blob(-1.0, i))))
      .toDF("vec_id", "embedding")
    val out = Cluster.kmeansAssign(emb, "vec_id", "embedding", k = 2, iters = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
    assert(out.length === 20)
    val aClusters = out.filter(_._1 < 10).map(_._2).toSet
    val bClusters = out.filter(_._1 >= 10).map(_._2).toSet
    assert(aClusters.size === 1 && bClusters.size === 1 &&
      aClusters != bClusters, s"blobs must separate: ${out.toSeq}")
    // converged centroids sit inside the blobs -> distances are tiny
    assert(out.forall(_._3 < 0.1))
  }

  test("centroidProbe kernel == composed round-6 struct-sort probe on " +
       "random vectors (differential)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{array, array_sort, col, lit,
      round, slice, struct, transform, typedLit}
    val rnd = new scala.util.Random(5)
    // centroid 1 carries a NaN element, so every row sees one NaN distance
    // among finite ones — and the Inf row below sees a MIX of +Inf and NaN
    val cents: Seq[Seq[Double]] =
      Seq.fill(1)(Seq.fill(6)(rnd.nextDouble() * 2 - 1)) ++
      Seq(Seq(Double.NaN, 0.0, 0.0, 0.0, 0.0, 0.0)) ++
      Seq.fill(3)(Seq.fill(6)(rnd.nextDouble() * 2 - 1))
    // rows 200/201: one corrupt (NaN) element, and all-NaN — the kernel's
    // NaN order (last, index tie-break) must match array_sort's.
    // row 202: an Inf element — distances are +Inf to real centroids and
    // NaN to centroid 1; array_sort puts Inf BEFORE NaN, so the probe
    // order must be the Inf centroids (0,2,3) in index order — a pure
    // index fallback would wrongly emit (0,1,2)
    val emb = ((0L until 200L)
      .map(i => (i, Array.fill(6)((rnd.nextDouble() * 2 - 1).toFloat))) :+
      (200L, Array(Float.NaN, 0f, 0f, 0f, 0f, 0f)) :+
      (201L, Array.fill(6)(Float.NaN)) :+
      (202L, Array(Float.PositiveInfinity, 0f, 0f, 0f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    val composedArr = array(cents.zipWithIndex.map { case (cv, c) =>
      struct(round(Pq.d2(Similarity.asDouble(col("embedding")),
        typedLit(cv)), 6).as("pd"), lit(c).as("pc"))
    }: _*)
    val both = emb.select(
      col("vec_id"),
      graft.functions.PqKernels.centroidProbe(col("embedding"), cents, 3)
        .as("kernel"),
      transform(slice(array_sort(composedArr), 1, 3), p => p.getField("pc"))
        .as("composed"))
      .collect()
    both.foreach { r =>
      assert(r.getSeq[Int](1) === r.getSeq[Int](2), s"row $r")
    }
    // pin the absolute orders, not just kernel==composed: all-NaN row ->
    // pure index fallback; Inf row -> Inf centroids BEFORE the NaN
    // centroid 1 (the +Inf-competes rule)
    val byId = both.map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(byId(201L) === Seq(0, 1, 2))
    assert(byId(202L) === Seq(0, 2, 3))
  }

  test("kmeansIvfTopK: with nprobe=k (scan everything) the trained index " +
       "returns exact brute-force neighbors; with nprobe=1 results stay " +
       "within the probed cluster") {
    import spark.implicits._
    def blob(sign: Double, i: Long): Array[Float] =
      Array.tabulate(8)(j => (sign * (1.0 + 0.2 * math.sin(i * 3.1 + j))).toFloat)
    val emb = ((0L until 10L).map(i => (i, blob(1.0, i))) ++
               (20L until 30L).map(i => (i, blob(-1.0, i))))
      .toDF("vec_id", "embedding")
    val full = Cluster.kmeansIvfTopK(emb, "vec_id", "embedding",
        k = 2, iters = 2, kTop = 3, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
    // brute force: exact squared distance, same rounding/tie rules —
    // round HALF_UP like Spark's round() (math.rint is half-EVEN and
    // would diverge exactly at .5 ulp boundaries)
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val vecs = emb.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble)).toMap
    for ((q, qs) <- full) {
      val want = vecs.keys.filter(_ != q).toSeq
        .map(n => (r6(vecs(q).zip(vecs(n))
          .map { case (a, b) => (a - b) * (a - b) }.sum), n))
        .sorted.take(3).map(_._2)
      assert(qs.map(_._2).toSeq === want, s"query $q")
    }
    // nprobe=1: every neighbor shares the query's (well-separated) blob
    val one = Cluster.kmeansIvfTopK(emb, "vec_id", "embedding",
        k = 2, iters = 3, kTop = 3, nprobe = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(one.forall { case (q, n) => (q < 10L) == (n < 10L) },
      s"nprobe=1 stays in-cluster: ${one.toSeq}")
  }

  test("ivfPqTopK: with nprobe=k and a corpus-wide shortlist the " +
       "pipeline equals exact brute force; tight settings keep rank " +
       "order and in-shortlist membership") {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    val emb = (0L until 64L)
      .map(i => (i, Array.fill(16)((rnd.nextDouble() * 2 - 1).toFloat)))
      .toDF("vec_id", "embedding")
    val model = Cluster.train(emb, "vec_id", "embedding", k = 4, iters = 2)
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val vecs = emb.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble)).toMap
    def brute(q: Long, k: Int): Seq[Long] =
      vecs.keys.filter(_ != q).toSeq
        .map(n => (r6(vecs(q).zip(vecs(n))
          .map { case (a, b) => (a - b) * (a - b) }.sum), n))
        .sorted.take(k).map(_._2)
    // exhaustive settings: probe every list, shortlist the whole corpus
    // -> the ADC stage cannot drop a true neighbor, the exact re-rank
    // must reproduce brute force
    val full = Cluster.ivfPqTopK(model, emb, "vec_id", "embedding",
        queryPred = col("vec_id") % 8 === 0, kTop = 3, nprobe = 4,
        shortlist = 64, m = 8, kCodes = 8)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .groupBy(_._1)
    assert(full.keySet === (0L until 64L by 8L).toSet)
    for ((q, rows) <- full) {
      assert(rows.sortBy(_._2).map(_._3).toSeq === brute(q, 3), s"query $q")
    }
    // tight settings: results are ranked 1..kTop with strictly
    // nondecreasing exact distances (the re-rank invariant)
    val tight = Cluster.ivfPqTopK(model, emb, "vec_id", "embedding",
        queryPred = col("vec_id") % 8 === 0, kTop = 3, nprobe = 2,
        shortlist = 5, m = 8, kCodes = 8)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(3)))
      .groupBy(_._1)
    for ((q, rows) <- tight) {
      val sorted = rows.sortBy(_._2)
      assert(sorted.map(_._2).toSeq === (1 to sorted.size).toSeq, s"q=$q ranks")
      assert(sorted.map(_._3).toSeq === sorted.map(_._3).sorted.toSeq,
        s"q=$q distances nondecreasing")
    }
  }

  test("train/ivfTopK split: a parquet-persisted model probes without " +
       "retraining — many probe calls share one training run, results " +
       "match the one-shot composition, and the probe plan carries no " +
       "Lloyd aggregation") {
    import spark.implicits._
    def blob(sign: Double, i: Long): Array[Float] =
      Array.tabulate(8)(j => (sign * (1.0 + 0.2 * math.sin(i * 3.1 + j))).toFloat)
    val emb = ((0L until 10L).map(i => (i, blob(1.0, i))) ++
               (20L until 30L).map(i => (i, blob(-1.0, i))))
      .toDF("vec_id", "embedding")
    // train once, persist, read back — the model is a durable artifact
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_model")
    val modelPath = dir.resolve("model.parquet").toString
    Cluster.train(emb, "vec_id", "embedding", k = 2, iters = 2)
      .write.mode("overwrite").parquet(modelPath)
    val model = spark.read.parquet(modelPath)
    def res(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "dist2", "neighbor_id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    // two probe calls against the stored model: identical output, equal
    // to the one-shot train+probe composition (q95's shape)
    val p1 = Cluster.ivfTopK(model, emb, emb, "vec_id", "embedding",
      kTop = 3, nprobe = 2)
    val p2 = Cluster.ivfTopK(model, emb, emb, "vec_id", "embedding",
      kTop = 3, nprobe = 2)
    val oneShot = Cluster.kmeansIvfTopK(emb, "vec_id", "embedding",
      k = 2, iters = 2, kTop = 3, nprobe = 2)
    assert(res(p1) === res(oneShot))
    assert(res(p1) === res(p2))
    // the probe PLAN must contain no training: Lloyd's update step is the
    // only aggregation in this family (posexplode -> avg per (cluster,
    // pos)); a probe that re-runs it would drag iters corpus scans into
    // every call
    val plan = p1.queryExecution.optimizedPlan.toString
    assert(!plan.toLowerCase.contains("posexplode"),
      s"probe plan must not retrain (Lloyd posexplode/avg found):\n$plan")
    // split corpus/queries mode: probing a 2-vector query set returns
    // neighbors only for those queries, from the right blob
    val queries = Seq((100L, blob(1.0, 3L)), (101L, blob(-1.0, 23L)))
      .toDF("vec_id", "embedding")
    val split = Cluster.ivfTopK(model, emb, queries, "vec_id", "embedding",
      kTop = 3, nprobe = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(split.map(_._1).toSet === Set(100L, 101L))
    assert(split.forall { case (q, n) => (q == 100L) == (n < 10L) },
      s"split-mode neighbors come from the query's blob: ${split.toSeq}")
  }

  test("semDedup drops all-but-the-lowest-id of a near-dup group within " +
       "a cluster and keeps everything else") {
    import spark.implicits._
    // wide 20% jitter: same-blob non-clone pairs sit well below the
    // clone-only threshold (cosine ≈ 0.99x), exact clones at 1.0
    def blob(sign: Double, i: Long): Array[Float] =
      Array.tabulate(8)(j => (sign * (1.0 + 0.2 * math.sin(i * 3.1 + j))).toFloat)
    val base = blob(1.0, 99L)
    // 50/51/52: exact clones (cosine 1) inside blob A; blob B is its own
    // cluster
    val emb = ((0L until 8L).map(i => (i, blob(1.0, i))) ++
               (10L until 18L).map(i => (i, blob(-1.0, i))) ++
               Seq((50L, base), (51L, base), (52L, base)))
      .toDF("vec_id", "embedding")
    val out = Cluster.semDedup(emb, "vec_id", "embedding",
        minCosine = 0.99999, k = 2, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(out.size === 19)
    assert(out(50L) === true && out(51L) === false && out(52L) === false,
      s"clone group keeps only the lowest id: $out")
    assert(out.filter(_._1 != 51L).filter(_._1 != 52L).values.forall(identity),
      s"non-clones all keep: $out")
  }

  test("adcTopK: with every vector a codebook entry, ADC ranking equals " +
       "exact squared-euclidean brute force") {
    import spark.implicits._
    val vs = (0L until 16L).map(i => i -> vec(i, 8))
    val emb = vs.toDF("vec_id", "embedding")
    val out = Pq.adcTopK(emb, "vec_id", "embedding",
        col("vec_id") === 0, kNN = 3, m = 2, k = 16)
      .orderBy("rn").collect()
    val q = vs.head._2
    val expect = vs.tail.map { case (id, v) =>
      id -> v.zip(q).map { case (a, b) =>
        (a.toDouble - b.toDouble) * (a.toDouble - b.toDouble) }.sum
    }.sortBy { case (id, d) => (math.rint(d * 1e6) / 1e6, id) }.take(3)
    assert(out.map(_.getLong(2)).toSeq === expect.map(_._1))
    out.zip(expect).foreach { case (r, (_, d)) =>
      assert(math.abs(r.getDouble(3) - math.rint(d * 1e6) / 1e6) < 1e-9)
    }
  }
}

class TextAnalysisSpec extends SparkTestBase {

  test("sourceScorecard: dup rate counts CROSS-source fingerprint " +
       "collisions against the non-canonical holder, token share sums " +
       "to 1, thin source exposed by mean_tokens") {
    import spark.implicits._
    val docs = Seq(
      // mirrorA holds the canonical copy (lowest id) of a dup pair
      (1L, "alpha beta gamma", "mirrorA"),
      (2L, "alpha beta gamma", "mirrorB"),   // dup of doc 1
      (3L, "delta epsilon zeta eta", "mirrorA"),
      (4L, "one", "thin"),
      (5L, "two", "thin")
    ).toDF("doc_id", "text", "source")
    val got = TextAnalysis.sourceScorecard(docs, "doc_id", "text", "source")
      .orderBy("source").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4))).toMap
    // 9 corpus tokens: mirrorA 7, mirrorB 3 (dup still counts tokens),
    // thin 2 -> shares 7/12, 3/12, 2/12
    assert(got("mirrorA") === ((2L, 0.0, 3.5,
      math.round(7.0 / 12 * 1e6) / 1e6.toDouble)))
    assert(got("mirrorB") === ((1L, 1.0, 3.0,
      math.round(3.0 / 12 * 1e6) / 1e6.toDouble)),
      "the non-canonical mirror carries the dup")
    assert(got("thin")._3 === 1.0, "thin source: 1 token per doc")
    assert(math.abs(got.values.map(_._4).sum - 1.0) < 1e-5,
      "token shares sum to ~1")
  }

  test("nTokens: 0 for empty/whitespace, counts words otherwise") {
    import spark.implicits._
    val out = Seq("", "   ", "one", "one two  three").toDF("t")
      .select(TextAnalysis.nTokens(col("t")).as("n")).collect().map(_.getInt(0))
    assert(out.toSeq === Seq(0, 0, 1, 3))
  }

  test("langId picks dominant stopword set; und when none hit") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the cat and the dog is in the house"),
      (2L, "der hund und die katze ist nicht da"),
      (3L, "zzz qqq www")).toDF("doc_id", "text")
    val out = TextAnalysis.langId(docs, "doc_id", "text")
      .orderBy("doc_id").collect().map(_.getAs[String]("lang_guess"))
    assert(out.toSeq === Seq("en", "de", "und"))
  }

  test("quality flags short or punct-heavy docs low") {
    import spark.implicits._
    val docs = Seq(
      (1L, "this is a perfectly ordinary sentence with more than ten words in it"),
      (2L, "short doc"),
      (3L, "a lot of punctuation here my friend and some words to pass ten: ..,,..!!??;;;;..,,!!..")).toDF("doc_id", "text")
    val out = TextAnalysis.quality(docs, "doc_id", "text")
      .orderBy("doc_id").collect().map(_.getAs[String]("quality"))
    assert(out.toSeq === Seq("ok", "low", "low"))
  }

  test("repetition: repeated phrase raises ratio; short doc gets null") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c a b c a b c"),   // 7 trigrams, 3 distinct -> 4/7
      (2L, "all distinct words here now"), // 3 trigrams, 3 distinct -> 0
      (3L, "too short")).toDF("doc_id", "text") // 0 trigrams -> null
    val out = TextAnalysis.repetition(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(out(0).getLong(1) === 7L && out(0).getLong(2) === 3L)
    assert(math.abs(out(0).getDouble(3) - math.rint((1.0 - 3.0/7) * 1e6) / 1e6) < 1e-9)
    assert(out(1).getDouble(3) === 0.0)
    assert(out(2).getLong(1) === 0L && out(2).isNullAt(3))
  }

  test("gopherRules: long clean prose passes, short/numeric/empty docs " +
       "fail closed") {
    import spark.implicits._
    val prose = Seq.fill(5)(
      "the quick brown fox and the lazy dog ran in the field").mkString(" ")
    val nums = Seq.fill(60)("12345").mkString(" ")
    val docs = Seq(
      (1L, prose),      // 60 words, mean len 3.5, all alpha, stopwords
      (2L, "short doc here"),
      (3L, nums),       // word count ok but alpha_frac 0
      (4L, "")).toDF("doc_id", "text")
    val out = TextAnalysis.gopherRules(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(out(0).getBoolean(6), s"prose must pass: ${out(0)}")
    assert(out(0).getLong(1) === 60L)
    assert(math.abs(out(0).getDouble(2) - 3.5) < 1e-12)
    assert(!out(1).getBoolean(6), "3 words is under the floor")
    assert(!out(2).getBoolean(6), "numeric tokens fail the alpha rule")
    assert(out(2).getDouble(3) === 0.0)
    assert(!out(3).getBoolean(6), "empty doc fails closed")
    assert(out(3).getLong(1) === 0L && out(3).isNullAt(2))
  }

  test("redactPii replaces emails then phones; counts match") {
    import spark.implicits._
    val docs = Seq(
      (1L, "mail bob.smith+x@corp.example.org or call +1 (415) 555-0100 now"),
      (2L, "no pii here")).toDF("doc_id", "text")
    val out = TextAnalysis.piiCounts(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(out(0).getLong(1) === 1L && out(0).getLong(2) === 1L)
    assert(out(0).getAs[String]("redacted") ===
      "mail <EMAIL> or call <PHONE> now")
    assert(out(1).getLong(1) === 0L && out(1).getLong(2) === 0L)
    assert(out(1).getAs[String]("redacted") === "no pii here")
  }

  test("decontaminate finds train docs overlapping eval, respects minShared") {
    import spark.implicits._
    val leakedPhrase = "the quick brown fox jumps over the lazy dog"
    val docs = Seq(
      (10L, s"eval question about $leakedPhrase indeed"),   // eval (%10==0)
      (1L, s"training text containing $leakedPhrase verbatim"),
      (2L, "completely unrelated training material with different words"),
      (3L, "the quick brown only shares two trigrams maybe")).toDF("doc_id", "text")
    val out = Dedup.decontaminate(docs, "doc_id", "text",
        evalPred = col("doc_id") % 10 === 0, n = 3, minShared = 2)
      .orderBy("train_doc").collect()
    val pairs = out.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.exists(p => p._1 == 1L && p._2 == 10L && p._3 >= 6))
    assert(!pairs.exists(_._1 == 2L))
  }

  test("externalSurprisalGate: in-model words score -logp, OOV words the " +
       "floor; empty docs fail closed; broadcast and shuffled model paths " +
       "agree") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the the cat"),    // 2*2.0 + 8.0 / 3 = 4.0
      (2L, "the the the"),    // 2.0
      (3L, "zzz qqq"),        // all OOV -> 8.0
      (4L, " ")).toDF("doc_id", "text") // no tokens -> null, keep=false
    val model = Seq(("the", -2.0)).toDF("word", "logp")
    val out = TextAnalysis.externalSurprisalGate(docs, "doc_id", "text",
        model, oovLogp = -8.0, p = 0.5)
      .orderBy("doc_id").collect()
    val score = out.map(r =>
      if (r.isNullAt(1)) None else Some(r.getDouble(1)))
    assert(score.toSeq === Seq(Some(4.0), Some(2.0), Some(8.0), None))
    // p50 over (4.0, 2.0, 8.0) = 4.0 -> docs 1,2 keep; OOV doc + empty fail
    assert(out.map(_.getBoolean(2)).toSeq ===
      Seq(true, true, false, false))
    val shuffled = TextAnalysis.externalSurprisalGate(docs, "doc_id",
        "text", model, oovLogp = -8.0, p = 0.5, broadcastModel = false)
      .orderBy("doc_id").collect()
    assert(shuffled.map(_.toSeq).toSeq === out.map(_.toSeq).toSeq)
  }

  test("removeBoilerplateLines: lines in >= minDocFreq distinct docs go, " +
       "keyed by trimmed content; blanks are structure; text rebuilds " +
       "in order") {
    import spark.implicits._
    val docs = Seq(
      (1L, "unique opening\ncopyright footer\nbody one"),
      (2L, "  copyright footer \n\nbody two\ncopyright footer"), // trim-keyed + in-doc repeat (one doc for df)
      (3L, "body three\ncopyright footer"),
      (4L, "nothing shared here\n\nat all")).toDF("doc_id", "text")
    val out = Dedup.removeBoilerplateLines(docs, "doc_id", "text",
        minDocFreq = 3)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq === Seq(
      // every "copyright footer" occurrence removed (df=3 distinct docs),
      // untrimmed original lines survive elsewhere untouched
      (1L, "unique opening\nbody one", 3L, 1L),
      (2L, "\nbody two", 4L, 2L),
      (3L, "body three", 2L, 1L),
      (4L, "nothing shared here\n\nat all", 3L, 0L)))
  }

  test("keepFirstLines: duplicated lines keep ONLY the (doc,pos)-first " +
       "occurrence — including within-doc repeats — unlike the " +
       "remove-all boilerplate rule; blanks are structure") {
    import spark.implicits._
    val docs = Seq(
      (1L, "shared quote\nbody one\nshared quote"),   // in-doc repeat: 2nd goes
      (2L, "  shared quote \n\nbody two"),            // trim-keyed later occurrence goes
      (3L, "body three\nshared quote"),
      (4L, "all original\n\nhere")).toDF("doc_id", "text")
    val out = Dedup.keepFirstLines(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq === Seq(
      (1L, "shared quote\nbody one", 3L, 1L), // doc 1 pos 0 is THE first: kept
      (2L, "\nbody two", 3L, 1L),
      (3L, "body three", 2L, 1L),
      (4L, "all original\n\nhere", 3L, 0L)))
  }

  test("removeBoilerplateLines: whitespace-only lines (tabs included) " +
       "are structure — never counted toward df, never removed") {
    import spark.implicits._
    // a tab-only line in 3 docs would be 'boilerplate' if trim() missed it
    val docs = Seq(
      (1L, "alpha\n\t\nshared tail"),
      (2L, "beta\n\t\nshared tail"),
      (3L, "gamma\n\t\nshared tail")).toDF("doc_id", "text")
    val out = Dedup.removeBoilerplateLines(docs, "doc_id", "text",
        minDocFreq = 3)
      .orderBy("doc_id").collect()
    // "shared tail" (df=3) goes; the tab-only line stays in every doc
    assert(out.map(_.getString(1)).toSeq ===
      Seq("alpha\n\t", "beta\n\t", "gamma\n\t"))
    assert(out.map(_.getLong(3)).toSeq === Seq(1L, 1L, 1L))
  }

  test("reflowLines groups tokens into k-word lines; zero-token text " +
       "reflows to one empty line (no descending-sequence phantom)") {
    import spark.implicits._
    val df = Seq((1L, "a b c d e f g"), (2L, " "), (3L, "x y"))
      .toDF("doc_id", "text")
    val out = df.select(col("doc_id"),
        Dedup.reflowLines(col("text"), 3).as("r"))
      .orderBy("doc_id").collect().map(_.getString(1))
    assert(out.toSeq === Seq("a b c\nd e f\ng", "", "x y"))
  }

  test("removeBoilerplateLines: below minDocFreq nothing is removed and " +
       "text round-trips byte-identical") {
    import spark.implicits._
    val docs = Seq(
      (1L, "shared line\nalpha"),
      (2L, "shared line\nbeta")).toDF("doc_id", "text")
    val out = Dedup.removeBoilerplateLines(docs, "doc_id", "text",
        minDocFreq = 3)
      .orderBy("doc_id").collect()
    assert(out.map(_.getString(1)).toSeq ===
      Seq("shared line\nalpha", "shared line\nbeta"))
    assert(out.map(_.getLong(3)).toSeq === Seq(0L, 0L))
  }

  test("vocabulary: ranked by count desc then word; limit respected") {
    import spark.implicits._
    val docs = Seq(
      (1L, "apple apple banana cherry"),
      (2L, "apple banana banana date")).toDF("doc_id", "text")
    val out = TextAnalysis.vocabulary(docs, "doc_id", "text", topN = 3)
      .orderBy("vocab_rank").collect()
    // apple=3, banana=3 (tie -> lexicographic), cherry=1/date=1 -> cherry
    assert(out.map(r => (r.getAs[String]("word"), r.getLong(1))).toSeq ===
      Seq(("apple", 3L), ("banana", 3L), ("cherry", 1L)))
    assert(out.map(_.getAs[Int]("vocab_rank")).toSeq === Seq(1, 2, 3))
  }

  test("oovRate: tokens outside the top-N vocab count as OOV; empty doc " +
       "keeps zero tokens and a null rate") {
    import spark.implicits._
    val docs = Seq(
      (1L, "apple apple banana zebra"), // vocab(2)=apple,banana -> 1 OOV of 4
      (2L, "apple banana banana"),      // 0 OOV of 3
      (3L, "")).toDF("doc_id", "text")
    val out = TextAnalysis.oovRate(docs, "doc_id", "text", topN = 2)
      .orderBy("doc_id").collect()
    assert(out(0).getLong(1) === 4L && out(0).getLong(2) === 1L &&
      out(0).getDouble(3) === 0.25)
    assert(out(1).getLong(1) === 3L && out(1).getLong(2) === 0L &&
      out(1).getDouble(3) === 0.0)
    assert(out(2).getLong(1) === 0L && out(2).getLong(2) === 0L &&
      out(2).isNullAt(3))
  }

  test("unigramSurprisal: uniform corpus scores ln(V) per token; rare-word " +
       "docs score higher than common-word docs; empty doc is null") {
    import spark.implicits._
    // doc1 = 4x the common word, doc2 = common + rare, doc3 empty.
    // corpus: common c=5, rare c=1, T=6.
    val docs = Seq(
      (1L, "common common common common"),
      (2L, "common rare"),
      (3L, "")).toDF("doc_id", "text")
    val out = TextAnalysis.unigramSurprisal(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
    val sCommon = -math.log(5.0 / 6)
    val sRare   = -math.log(1.0 / 6)
    assert(out(0).getLong(1) === 4L)
    assert(math.abs(out(0).getDouble(2) - math.rint(sCommon * 1e6) / 1e6) < 1e-9)
    assert(math.abs(out(1).getDouble(2) -
      math.rint((sCommon + sRare) / 2 * 1e6) / 1e6) < 2e-6)
    assert(out(2).getLong(1) === 0L && out(2).isNullAt(2))
    assert(out(1).getDouble(2) > out(0).getDouble(2))
  }

  test("scriptRatios: cyrillic and CJK text classify by code-point " +
       "range; mixed text ratios sum correctly; empty is und") {
    import spark.implicits._
    val docs = Seq(
      (1L, "hello plain latin words"),
      (2L, "привет мир это тест"),
      (3L, "你好世界测试文本"),
      (4L, "abc привет"),   // 3 latin vs 6 cyrillic -> cyrillic
      (5L, "")).toDF("doc_id", "text")
    val out = TextAnalysis.scriptRatios(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(out.map(_.getAs[String]("script")).toSeq
      === Seq("latin", "cyrillic", "cjk", "cyrillic", "und"))
    assert(out(2).getAs[Double]("cjk_ratio") === 1.0)
    assert(math.abs(out(3).getAs[Double]("latin_ratio") - 3.0 / 9) < 1e-12)
    assert(out(4).isNullAt(1))
    // U+000B vertical tab counts as whitespace via the EXPLICIT class
    // (bare \s would make Java and RE2 disagree on this character)
    val vt = TextAnalysis.scriptRatios(
        Seq((1L, "ab\u000Bcd")).toDF("doc_id", "text"), "doc_id", "text")
      .head()
    assert(vt.getAs[Double]("latin_ratio") === 1.0,
      s"VT must not count in the denominator: $vt")
  }

  test("surprisalGate keeps the low-surprisal head up to the percentile " +
       "and fails empty docs closed") {
    import spark.implicits._
    // common-word docs score low (kept); the rare-word doc scores high
    val docs = Seq(
      (1L, "common common common"),
      (2L, "common common common"),
      (3L, "common common common"),
      (4L, "rare1 rare2 rare3"),
      (5L, "")).toDF("doc_id", "text")
    val out = TextAnalysis.surprisalGate(docs, "doc_id", "text", p = 0.5)
      .orderBy("doc_id").collect()
      .map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(out(1L) && out(2L) && out(3L), s"head docs keep: $out")
    assert(!out(4L), "the rare-word doc is above the median")
    assert(!out(5L), "null score fails closed")
  }

  test("bigramSurprisal == local brute force on random docs " +
       "(differential)") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val words = Vector("x", "y", "z", "w")
    val raw = (0L until 80L).map { i =>
      (i, Seq.fill(rnd.nextInt(7))(words(rnd.nextInt(words.size)))
        .mkString(" "))
    }
    val out = TextAnalysis.bigramSurprisal(raw.toDF("doc_id", "text"),
        "doc_id", "text")
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), if (r.isNullAt(2)) None else Some(r.getDouble(2)))))
      .toMap
    // brute force: corpus bigram + prefix counts, then per-doc mean -ln P
    val docBgs = raw.map { case (i, t) =>
      val toks = t.split("\\s+").filter(_.nonEmpty)
      i -> toks.sliding(2).filter(_.length == 2).map(a => (a(0), a(1))).toSeq
    }.toMap
    val bf = docBgs.values.flatten.groupBy(identity).view.mapValues(_.size).toMap
    val pf = bf.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    for ((i, bgs) <- docBgs) {
      if (bgs.isEmpty) assert(out(i) === ((0L, None)), s"doc $i empty")
      else {
        val s = bgs.map(bg => -math.log(bf(bg).toDouble / pf(bg._1))).sum
        val want = math.rint(s / bgs.size * 1e6) / 1e6
        assert(out(i)._1 === bgs.size.toLong, s"doc $i count")
        assert(math.abs(out(i)._2.get - want) < 2e-6,
          s"doc $i: got ${out(i)._2.get}, want $want")
      }
    }
  }

  test("bigramSurprisal: deterministic continuations score 0; rare " +
       "continuations score -ln of their conditional; 1-token doc is null") {
    import spark.implicits._
    // corpus bigrams: (a,b) x2 from doc1, (b,a) x1 from doc1, (a,c) x1
    // from doc2 -> prefix counts a=3, b=1
    val docs = Seq(
      (1L, "a b a b"),
      (2L, "a c"),
      (3L, "x")).toDF("doc_id", "text")
    val out = TextAnalysis.bigramSurprisal(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
    // doc1: 2*-ln(2/3) + 1*-ln(1/1), over 3 bigrams
    val exp1 = (2 * -math.log(2.0 / 3)) / 3
    val exp2 = -math.log(1.0 / 3)
    assert(out(0).getLong(1) === 3L)
    assert(math.abs(out(0).getDouble(2) - math.rint(exp1 * 1e6) / 1e6) < 2e-6)
    assert(out(1).getLong(1) === 1L)
    assert(math.abs(out(1).getDouble(2) - math.rint(exp2 * 1e6) / 1e6) < 2e-6)
    assert(out(2).getLong(1) === 0L && out(2).isNullAt(2))
  }

  test("stupidBackoffSurprisal == local brute force on random docs: " +
       "md5 train split, seen bigrams score c12/c1, unseen back off to " +
       "alpha*c(w2)/T with unseen-word floor c=1 (differential)") {
    import spark.implicits._
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    val rnd = new scala.util.Random(7)
    // vocab big enough that the train half cannot cover every bigram —
    // the backoff path must actually fire
    val words = (0 until 24).map(i => s"w$i").toVector
    val raw = (0L until 120L).map { i =>
      (i, Seq.fill(rnd.nextInt(8))(words(rnd.nextInt(words.size)))
        .mkString(" "))
    }
    val alpha = 0.4
    val out = TextAnalysis.stupidBackoffSurprisal(
        raw.toDF("doc_id", "text"), "doc_id", "text", alpha, trainFrac = 0.5)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)))))
      .toMap
    val toks = raw.map { case (i, t) =>
      i -> t.split("\\s+").filter(_.nonEmpty).toSeq }.toMap
    val train = raw.map(_._1).filter(i =>
      md5hex(i.toString).substring(0, 8) < "80000000").toSet
    assert(train.nonEmpty && train.size < raw.size)
    val docBgs = toks.view.mapValues(t =>
      t.sliding(2).filter(_.length == 2).map(a => (a(0), a(1))).toSeq).toMap
    val bf = train.toSeq.flatMap(docBgs(_)).groupBy(identity)
      .view.mapValues(_.size).toMap
    val pf = bf.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val uf = train.toSeq.flatMap(toks(_)).groupBy(identity)
      .view.mapValues(_.size).toMap
    val tt = uf.values.sum.toDouble
    var sawBackoff = false
    for ((i, bgs) <- docBgs) {
      if (bgs.isEmpty) assert(out(i) === ((0L, None, None)), s"doc $i")
      else {
        val scores = bgs.map { bg =>
          bf.get(bg) match {
            case Some(c12) => -math.log(c12.toDouble / pf(bg._1))
            case None =>
              sawBackoff = true
              -math.log(alpha * uf.getOrElse(bg._2, 1).toDouble / tt)
          }
        }
        val nbk = bgs.count(!bf.contains(_))
        val wantS = math.rint(scores.sum / bgs.size * 1e6) / 1e6
        val wantB = math.rint(nbk.toDouble / bgs.size * 1e6) / 1e6
        assert(out(i)._1 === bgs.size.toLong, s"doc $i count")
        assert(math.abs(out(i)._2.get - wantB) < 2e-6, s"doc $i backoff")
        assert(math.abs(out(i)._3.get - wantS) < 2e-6,
          s"doc $i: got ${out(i)._3.get}, want $wantS")
      }
    }
    assert(sawBackoff, "corpus must exercise the backoff path")
  }

  test("kneserNeySurprisal == local brute force: absolute discount + " +
       "continuation probability, unseen-prefix fallback to Pcont, " +
       "unseen-continuation floor 1/N1+(..) (differential)") {
    import spark.implicits._
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    val rnd = new scala.util.Random(11)
    val words = (0 until 20).map(i => s"w$i").toVector
    // a couple of SCORE-half docs (md5 >= '8') open with an
    // out-of-train-vocab word, pinning the unseen-prefix path
    val oovIds = (1000L until 1050L)
      .filter(i => md5hex(i.toString).substring(0, 8) >= "80000000").take(2)
    val raw = (0L until 100L).map { i =>
      (i, Seq.fill(rnd.nextInt(9))(words(rnd.nextInt(words.size)))
        .mkString(" "))
    } ++ oovIds.map(i => (i, s"zz$i w0 zz$i")) // (zz,w0): unseen prefix; (w0,zz): unseen continuation
    val d = 0.75
    val out = TextAnalysis.kneserNeySurprisal(
        raw.toDF("doc_id", "text"), "doc_id", "text", d, trainFrac = 0.5)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)))))
      .toMap
    val toks = raw.map { case (i, t) =>
      i -> t.split("\\s+").filter(_.nonEmpty).toSeq }.toMap
    val train = raw.map(_._1).filter(i =>
      md5hex(i.toString).substring(0, 8) < "80000000").toSet
    val docBgs = toks.view.mapValues(t =>
      t.sliding(2).filter(_.length == 2).map(a => (a(0), a(1))).toSeq).toMap
    val bf = train.toSeq.flatMap(docBgs(_)).groupBy(identity)
      .view.mapValues(_.size).toMap
    val c1 = bf.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val n1p = bf.groupBy(_._1._1).view.mapValues(_.size).toMap
    val n1c = bf.groupBy(_._1._2).view.mapValues(_.size).toMap
    val nbi = bf.size.toDouble
    var sawUnseenPrefix = false
    var sawUnseenCont = false
    for ((i, bgs) <- docBgs) {
      if (bgs.isEmpty) assert(out(i) === ((0L, None, None)), s"doc $i")
      else {
        val scores = bgs.map { case (w1, w2) =>
          if (!n1c.contains(w2)) sawUnseenCont = true
          val pcont = n1c.getOrElse(w2, 1).toDouble / nbi
          val p = c1.get(w1) match {
            case Some(cp) =>
              math.max(bf.getOrElse((w1, w2), 0).toDouble - d, 0.0) / cp +
                d * n1p(w1) / cp * pcont
            case None => sawUnseenPrefix = true; pcont
          }
          -math.log(p)
        }
        val nun = bgs.count(!bf.contains(_))
        assert(out(i)._1 === bgs.size.toLong, s"doc $i count")
        assert(math.abs(out(i)._2.get -
          math.rint(nun.toDouble / bgs.size * 1e6) / 1e6) < 2e-6,
          s"doc $i unseen rate")
        val want = math.rint(scores.sum / bgs.size * 1e6) / 1e6
        assert(math.abs(out(i)._3.get - want) < 2e-6,
          s"doc $i: got ${out(i)._3.get}, want $want")
      }
    }
    assert(sawUnseenPrefix, "corpus must exercise the unseen-prefix path")
    assert(sawUnseenCont, "corpus must exercise the unseen-continuation path")
  }

  test("c4Filters: terminal-punctuation + 5-word + javascript line " +
       "rules, then 3-line/brace/lorem page rules") {
    import spark.implicits._
    val docs = Seq(
      // 3 qualifying sentences -> keep; short/unpunctuated lines drop
      (1L, "the quick brown fox jumps high.\nshort line.\n" +
           "a second proper sentence right here!\nno terminal punct here\n" +
           "is this a qualifying question line?"),
      // qualifying lines but a '{' kills the page
      (2L, "one fine sentence with many words.\nanother fine sentence " +
           "with words.\na third fine sentence with { brace."),
      // javascript line dropped -> only 2 survive -> page dropped
      (3L, "please enable javascript to view this.\n" +
           "a first good sentence with words.\n" +
           "a second good sentence with words.\n" +
           "a third good sentence but javascript again."),
      // lorem ipsum kills the page
      (4L, "lorem ipsum dolor sit amet consectetur.\n" +
           "real sentence number two is here.\n" +
           "real sentence number three is here."),
      (5L, "")).toDF("doc_id", "text")
    val out = TextAnalysis.c4Filters(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(out(0).getLong(3) === 3L && out(0).getBoolean(4))
    assert(out(0).getString(1) ===
      "the quick brown fox jumps high.\n" +
      "a second proper sentence right here!\n" +
      "is this a qualifying question line?")
    assert(out(1).getLong(3) === 3L && !out(1).getBoolean(4)) // brace
    assert(out(2).getLong(3) === 2L && !out(2).getBoolean(4)) // js lines gone
    assert(!out(3).getBoolean(4))                             // lorem ipsum
    assert(out(4).getLong(2) === 0L && !out(4).getBoolean(4))
  }

  test("gopherLineRules: bullet/ellipsis/dup-line/dup-char fractions " +
       "with published thresholds; empty docs fail closed") {
    import spark.implicits._
    val docs = Seq(
      // 4 lines: 2 bullets, 1 ellipsis, "same line" twice (dup 1/4 lines)
      (1L, "• first point\nsame line\nsame line\n- trailing dots..."),
      // clean 2-liner
      (2L, "alpha beta\ngamma delta"),
      // 10 identical lines: dup fractions spike, pass = false
      (3L, (1 to 10).map(_ => "spam spam spam").mkString("\n")),
      (4L, "   \n\t\n")).toDF("doc_id", "text")
    val out = TextAnalysis.gopherLineRules(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(out(0).getLong(1) === 4L)
    assert(out(0).getDouble(2) === 0.5)  // bullets: "• first", "- trailing"
    assert(out(0).getDouble(3) === 0.25) // one ... line
    assert(out(0).getDouble(4) === 0.25) // one repeated line of 4
    val dupChars = 2 * "same line".length
    val totChars = "• first point".length + 2 * "same line".length +
      "- trailing dots...".length
    assert(math.abs(out(0).getDouble(5) -
      math.rint(dupChars.toDouble / totChars * 1e6) / 1e6) < 1e-9)
    assert(!out(0).getBoolean(6)) // dup-char 0.367 > 0.2
    assert(out(1).getBoolean(6) && out(1).getDouble(4) === 0.0)
    assert(out(2).getDouble(4) === 0.9 && out(2).getDouble(5) === 1.0 &&
      !out(2).getBoolean(6))
    assert(out(3).getLong(1) === 0L && out(3).isNullAt(4) &&
      !out(3).getBoolean(6)) // no lines: fail closed
  }

  test("charEntropy: uniform text = log2(alphabet), repeated char = 0, " +
       "whitespace excluded, empty doc null") {
    import spark.implicits._
    val docs = Seq(
      (1L, "aaaa"),               // one symbol: H = 0
      (2L, "ab"),                 // two equiprobable: H = 1
      (3L, "a a b\t\n"),          // whitespace excluded: counts a=2, b=1
      (4L, "   \t"),              // nothing left: null entropy
      (5L, "абвг")                // multibyte BMP: 4 distinct, H = 2
    ).toDF("doc_id", "text")
    val out = TextAnalysis.charEntropy(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(out(0).getLong(1) === 4L && out(0).getLong(2) === 1L &&
      out(0).getDouble(3) === 0.0)
    assert(out(1).getDouble(3) === 1.0)
    val h3 = math.log(3) / math.log(2) - (2.0 * 1.0 + 0.0) / 3 // 2*log2(2)/3
    assert(out(2).getLong(1) === 3L && out(2).getLong(2) === 2L)
    assert(math.abs(out(2).getDouble(3) - math.rint(h3 * 1e6) / 1e6) < 2e-6)
    assert(out(3).getLong(1) === 0L && out(3).isNullAt(3))
    assert(out(4).getLong(2) === 4L && out(4).getDouble(3) === 2.0)
  }

  test("langConfusion: cells count declared x detected, shares are of " +
       "the declared row, a language without a stopword set lands in " +
       "und — the finding, not a bug") {
    import spark.implicits._
    val docs = Seq(
      ("en", "the cat and the dog"),   // detected en
      ("en", "el perro y la casa"),    // mislabeled: detected es
      ("zh", "zhongwen wenben neirong"), // zero stopword hits -> und
      ("de", "der hund ist nicht da")) // detected de
      .toDF("lang", "text")
    val got = TextAnalysis.langConfusion(docs, "lang", "text")
      .orderBy("declared", "detected").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3)))
    assert(got.toSeq === Seq(
      ("de", "de", 1L, 1.0),
      ("en", "en", 1L, 0.5), ("en", "es", 1L, 0.5),
      ("zh", "und", 1L, 1.0)))
  }

  test("vocabCoverage: cumulative token shares at the requested ranks, " +
       "count ties break by word so the curve replays, empty tokens " +
       "from double spaces are excluded") {
    import spark.implicits._
    // counts: a=5, b=3, c=3, d=1 (total 12); rank order a, b, c, d
    val docs = Seq("a a a  a a", "b b b c", "c c d").toDF("text")
    val got = TextAnalysis.vocabCoverage(docs, "text", ks = Seq(1, 3))
      .orderBy("k").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3)))
    def r6(v: Double) = math.round(v * 1e6) / 1e6
    assert(got.toSeq === Seq(
      (1L, 5L, 12L, r6(5.0 / 12.0)),
      (3L, 11L, 12L, r6(11.0 / 12.0))))
  }

  test("vocabRichness: hand-computed Good-Turing mass and " +
       "bias-corrected Chao1 (defined even with zero doubletons)") {
    import spark.implicits._
    // counts: a=2, b=1, c=1 -> types 3, tokens 4, n1=2, n2=1
    val g = TextAnalysis.vocabRichness(Seq("a a b c").toDF("text"),
      "text").collect().head
    assert(g.getLong(0) === 3L && g.getLong(1) === 4L &&
      g.getLong(2) === 2L && g.getLong(3) === 1L)
    assert(g.getDouble(4) === 0.5)            // 2/4 unseen mass
    assert(g.getDouble(5) === 3.5)            // 3 + 2*1/(2*2)
    // no doubletons: the +1 correction keeps Chao1 finite
    val g2 = TextAnalysis.vocabRichness(Seq("x y").toDF("text"), "text")
      .collect().head
    assert(g2.getLong(3) === 0L && g2.getDouble(5) === 3.0) // 2 + 2/2
  }
}

class CorpusFilterSpec extends SparkTestBase {

  test("verdict precedence: dup beats low_quality beats non_en; keep only " +
       "when every gate passes") {
    import spark.implicits._
    val good = "the cat sat on the mat and the dog is in the house today"
    val docs = Seq(
      (1L, good),                           // keep
      (2L, good),                           // dup of 1 (also good -> dup wins)
      (3L, "short text"),                   // low_quality (few tokens)
      (4L, "der hund ist nicht hier und das haus ist gross und alt heute"),  // non_en
      (5L, "a! b! c! d! e! f! g! h! i! j! k!")  // punct-heavy -> low_quality
    ).toDF("doc_id", "text")
    val out = TextAnalysis.corpusFilter(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSeq
    assert(out === Seq(
      (1L, "keep", 1), (2L, "dup", 0), (3L, "low_quality", 0),
      (4L, "non_en", 0), (5L, "low_quality", 0)))
  }
}

class CorpusFilterDifferentialSpec extends SparkTestBase {

  test("fused corpusFilter == composing exactDupTags + quality + langId " +
       "on generated docs (incl. empty and whitespace-only)") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val words = Array("the", "cat", "sat", "mat", "und", "der", "das", "el",
                      "que", "a!", "..", "of", "and", "to", "in", "is")
    val texts = (1 to 150).map { i =>
      if (i % 17 == 0) ""
      else if (i % 19 == 0) "   "
      else (0 until rnd.nextInt(25)).map(_ => words(rnd.nextInt(words.length)))
             .mkString(" ")
    }
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val fused = TextAnalysis.corpusFilter(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val dup = Dedup.exactDupTags(docs, "doc_id", "text")
      .select($"doc_id", $"is_dup").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val q = TextAnalysis.quality(docs, "doc_id", "text")
      .select($"doc_id", $"quality").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val l = TextAnalysis.langId(docs, "doc_id", "text")
      .select($"doc_id", $"lang_guess").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val composed = fused.map { case (id, _) =>
      id -> (if (dup(id) == 1) "dup"
             else if (q(id) == "low") "low_quality"
             else if (l(id) != "en") "non_en"
             else "keep")
    }
    assert(fused.map { case (id, v) => id -> v } === composed)
  }

  test("pmiCollocations: hand-computed PMI with POSITIONAL marginals, " +
       "min-count floor, PMI-desc order with id tie-break") {
    import spark.implicits._
    // bigrams: (x,y) x4, (x,z) x1, (w,y) x1; N = 6
    // positional marginals: w1: x=5, w=1;  w2: y=5, z=1
    // PMI(x,y) = ln(4*6/(5*5)),  PMI(x,z) = PMI(w,y) = ln(6/5)
    val docs = (Seq.fill(4)("x y") ++ Seq("x z", "w y")).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    def r6(x: Double) = math.round(x * 1e6) / 1e6
    val got = TextAnalysis.pmiCollocations(docs, "doc_id", "text",
        minCount = 1L, topK = 10)
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getLong(2), r.getDouble(3)))
    assert(got.toSeq === Seq(
      ("w", "y", 1L, r6(math.log(6.0 / 5.0))), // tie: w < x
      ("x", "z", 1L, r6(math.log(6.0 / 5.0))),
      ("x", "y", 4L, r6(math.log(24.0 / 25.0)))))
    val floored = TextAnalysis.pmiCollocations(docs, "doc_id", "text",
        minCount = 2L, topK = 10)
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(floored.toSeq === Seq(("x", "y")),
      "one-off pairs die to the floor")
  }

  test("readability: hand-computed Flesch / FK-grade on pinned prose, " +
       "sentence floor for fragments, zero-word docs null") {
    import spark.implicits._
    val docs = Seq(
      (1L, "The cat sat."),  // w=3 s=1 syl=3 (e, a, a)
      (2L, "Hi! Go now?"),   // w=3 s=2 syl=3 (i, o, o)
      (3L, "zzz"),           // w=1 s=1(floor) syl=0 — consonant fragment
                             // ('y' counts as a vowel, so not "xyz")
      (4L, "   "))           // 0 words -> null scores
      .toDF("doc_id", "text")
    val got = TextAnalysis.readability(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) null else r.getDouble(4),
        if (r.isNullAt(5)) null else r.getDouble(5)))
    def f(w: Double, s: Double, syl: Double) =
      (math.round((206.835 - 1.015 * (w / s) - 84.6 * (syl / w)) * 1e6) / 1e6,
        math.round((0.39 * (w / s) + 11.8 * (syl / w) - 15.59) * 1e6) / 1e6)
    val (f1, g1) = f(3, 1, 3); val (f2, g2) = f(3, 2, 3)
    val (f3, g3) = f(1, 1, 0)
    assert(got.toSeq === Seq(
      (1L, 3L, 1L, 3L, f1, g1),
      (2L, 3L, 2L, 3L, f2, g2),
      (3L, 1L, 1L, 0L, f3, g3), // 0 syllables: valid, maximally "easy"
      (4L, 0L, 1L, 0L, null, null)))
  }
}

class MultimodalSpec extends SparkTestBase {

  test("binary plumbing: payload bytes flow through mapPartitions decode") {
    import spark.implicits._
    val docs = Seq((1L, "abcd"), (2L, "")).toDF("doc_id", "payload")
    val out = Multimodal.extractMeta(
        Multimodal.asBlobs(docs, "doc_id", "payload"))
      .orderBy("doc_id").collect()
    assert(out.map(_.n_bytes).toSeq === Seq(4L, 0L))
    assert(out.head.media_type === "image/stub")
    assert(out.head.width === (4 % 64) * 10 + 32)
  }

  test("feature extraction counts CODE POINTS (supplementary plane = one), " +
       "zeros for empty payloads") {
    import spark.implicits._
    // "a😀b": 😀 is U+1F600 (surrogate pair in UTF-16, 4 bytes in UTF-8)
    val docs = Seq((1L, "a😀b"), (2L, "")).toDF("doc_id", "payload")
    val out = Multimodal.extractFeatures(
        Multimodal.asBlobs(docs, "doc_id", "payload"))
      .orderBy("doc_id").collect()
    assert(out(0).n_cp === 3L)
    assert(out(0).sum_cp === ('a'.toLong + 0x1F600L + 'b'.toLong))
    assert(out(0).n_distinct_cp === 3L)
    assert(out(0).wsum ===
      (1L * 'a' + 2L * 0x1F600L + 3L * 'b') % 1000000007L)
    assert(out(1) === Multimodal.MediaFeatures(2L, 0L, 0L, 0L, 0L))
  }

  test("real decode: PNG produced by ImageIO reports true dimensions") {
    val img = new java.awt.image.BufferedImage(
      37, 21, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", baos)
    assert(ImageHeaders.parse(baos.toByteArray) === Some(("image/png", 37, 21)))
    val jb = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", jb)
    assert(ImageHeaders.parse(jb.toByteArray) === Some(("image/jpeg", 37, 21)))
    val bb = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "bmp", bb)
    assert(ImageHeaders.parse(bb.toByteArray) === Some(("image/bmp", 37, 21)))
    val gb = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "gif", gb)
    assert(ImageHeaders.parse(gb.toByteArray) === Some(("image/gif", 37, 21)))
  }

  test("real decode flows through the distributed mapPartitions path") {
    import spark.implicits._
    val img = new java.awt.image.BufferedImage(
      8, 5, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", baos)
    val blobs = Seq(
      Multimodal.MediaBlob(1L, "image/unknown", baos.toByteArray),
      Multimodal.MediaBlob(2L, "image/unknown", "not an image".getBytes))
      .toDS()
    val out = Multimodal.extractMeta(blobs).orderBy("doc_id").collect()
    assert(out(0).media_type === "image/png")
    assert(out(0).width === 8 && out(0).height === 5)
    assert(out(1).media_type === "image/unknown") // stub fallback
  }

  test("perceptualHash: solid image hashes to 0 (no pixel above mean); " +
       "identical payloads hash identically; half-bright image sets " +
       "exactly the bright half's bits") {
    import spark.implicits._
    def png(f: (Int, Int) => Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        8, 8, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 8; x <- 0 until 8) img.setRGB(x, y, f(x, y))
      val baos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", baos)
      baos.toByteArray
    }
    val solid = png((_, _) => 0x808080)
    val half = png((_, y) => if (y < 4) 0xffffff else 0x000000)
    val blobs = Seq(
      Multimodal.MediaBlob(1L, "image/png", solid),
      Multimodal.MediaBlob(2L, "image/png", solid),
      Multimodal.MediaBlob(3L, "image/png", half)).toDS()
    val out = Multimodal.perceptualHash(blobs).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(out(0)._2 === 0L && out(0)._3 === 0L,
      "uniform image: no pixel strictly above the mean")
    assert(out(1) === ((2L, out(0)._2, out(0)._3)), "clones hash identically")
    // top 4 rows bright -> positions 0..31 set (lo = all ones), 32..63 unset
    assert(out(2)._3 === 0xffffffffL && out(2)._2 === 0L,
      s"half-bright pattern: ${out(2)}")
  }

  test("perceptualHash is container-format invariant: the same pixels " +
       "as PNG and BMP hash identically") {
    import spark.implicits._
    val img = new java.awt.image.BufferedImage(
      11, 7, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 7; x <- 0 until 11)
      img.setRGB(x, y, ((x * 37 + y * 91) % 256) * 0x010101)
    def enc(fmt: String): Array[Byte] = {
      val baos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, fmt, baos)
      baos.toByteArray
    }
    val blobs = Seq(
      Multimodal.MediaBlob(1L, "image/png", enc("png")),
      Multimodal.MediaBlob(2L, "image/bmp", enc("bmp"))).toDS()
    val out = Multimodal.perceptualHash(blobs).orderBy("doc_id").collect()
      .map(r => (r.getLong(1), r.getLong(2)))
    assert(out(0) === out(1),
      s"the hash is a function of pixels, not the container: ${out.toSeq}")
  }

  test("phashNearDupPairs: clones collapse to one canonical, a 1-bit " +
       "flip pairs with it, a far hash does not") {
    import spark.implicits._
    val ph = Seq(
      (1L, 0L, 255L),           // canonical of {1,2}
      (2L, 0L, 255L),           // exact clone (same hash)
      (3L, 0L, 254L),           // hamming 1 from canon 1
      (4L, 0xffffL, 0xffff0000L) // far from everything
    ).toDF("doc_id", "hash_hi", "hash_lo")
    val out = Multimodal.phashNearDupPairs(ph, maxHamming = 4)
      .orderBy("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(out === Seq((1L, 3L, 1)), s"got $out")
  }

  test("syntheticBmp round-trips through the JDK decoder pixel-for-pixel") {
    for (id <- Seq(0L, 7L, 123L)) {
      val w = (id % 4 + 2).toInt; val h = (id % 3 + 2).toInt
      val img = Multimodal.decodeImage(Multimodal.syntheticBmp(id, w, h)).get
      assert(img.getWidth === w && img.getHeight === h)
      for (x <- 0 until w; y <- 0 until h)
        assert((img.getRGB(x, y) & 0xffffff) === Multimodal.synthRgb(id, x, y),
               s"pixel ($x,$y) of doc $id")
    }
  }

  test("decodeResizeChecksum matches the formula the oracle recomputes") {
    import spark.implicits._
    val docs = Seq(3L, 10L, 47L).toDF("doc_id")
    val out = Multimodal.decodeResizeChecksum(
        Multimodal.syntheticImageBlobs(docs, "doc_id"), 8, 8)
      .orderBy("doc_id").collect()
    for (r <- out) {
      val id = r.getLong(0)
      val inW = (id % 4 + 2).toInt; val inH = (id % 3 + 2).toInt
      assert(r.getInt(1) === inW && r.getInt(2) === inH)
      assert(r.getLong(5) === 54L + inH * (((inW * 3 + 3) / 4) * 4))
      val expected = (for (y <- 0 until 8; x <- 0 until 8) yield {
        val sx = x * inW / 8; val sy = y * inH / 8
        (y.toLong * 8 + x + 1) * Multimodal.synthRgb(id, sx, sy)
      }).sum
      assert(r.getLong(6) === expected, s"checksum of doc $id")
    }
  }

  test("WavHeaders parses the canonical PCM layout, skips odd-sized " +
       "chunks with their pad byte, and rejects non-PCM/garbage") {
    val wav = Multimodal.syntheticWav(7L) // rate 20000, 2ch, 107 samples
    val m = WavHeaders.parse(wav).get
    assert(m === WavHeaders.WavMeta(20000, 2, 16, 107L, 44))
    // a LIST chunk with an ODD size before fmt/data: the word-aligned
    // walk must skip its pad byte to stay on chunk boundaries
    val extra = java.nio.ByteBuffer
      .allocate(wav.length + 8 + 3 + 1)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    extra.put(wav, 0, 12)
    extra.put("LIST".getBytes).putInt(3).put("abc".getBytes).put(0.toByte)
    extra.put(wav, 12, wav.length - 12)
    assert(WavHeaders.parse(extra.array()).contains(
      WavHeaders.WavMeta(20000, 2, 16, 107L, 56)))
    assert(WavHeaders.parse("RIFFxxxxWAVE".getBytes) === None) // no chunks
    assert(WavHeaders.parse("not audio at all".getBytes) === None)
    // non-PCM format code rejected
    val nonPcm = wav.clone(); nonPcm(20) = 3 // IEEE float
    assert(WavHeaders.parse(nonPcm) === None)
  }

  test("audioFeatures decodes real 16-bit PCM samples: hand-computed " +
       "features on a crafted WAV, channel-0 zero crossings, non-16-bit " +
       "payloads dropped") {
    import spark.implicits._
    // 2ch x 4 frames; ch0: +100, -200, 0, +50  ch1: +1, +2, -3, -4
    val ch0 = Seq(100, -200, 0, 50)
    val ch1 = Seq(1, 2, -3, -4)
    val buf = java.nio.ByteBuffer.allocate(44 + 16)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes).putInt(36 + 16).put("WAVE".getBytes)
    buf.put("fmt ".getBytes).putInt(16).putShort(1).putShort(2)
      .putInt(8000).putInt(8000 * 4).putShort(4).putShort(16)
    buf.put("data".getBytes).putInt(16)
    ch0.zip(ch1).foreach { case (a, b1) =>
      buf.putShort(a.toShort).putShort(b1.toShort) }
    val blobs = Seq(
      Multimodal.MediaBlob(1L, "audio/wav", buf.array()),
      Multimodal.MediaBlob(2L, "text/plain", "not audio".getBytes)).toDS()
    val out = Multimodal.audioFeatures(blobs).collect()
    assert(out.length === 1) // non-WAV dropped
    val r = out.head
    assert(r.getLong(0) === 1L && r.getInt(1) === 8000 && r.getInt(2) === 2)
    assert(r.getLong(3) === 4L) // frames
    assert(r.getLong(4) === (ch0.sum + ch1.sum).toLong)
    assert(r.getLong(5) ===
      (ch0.map(x => x.toLong * x) ++ ch1.map(x => x.toLong * x)).sum)
    assert(r.getLong(6) === 200L)
    // ch0 crossings: +100->-200 flips, -200->0 no (zero breaks the run),
    // 0->+50 no — exactly 1; ch1's -3/-4 run must NOT count
    assert(r.getLong(7) === 1L)
    // and an 8-bit WAV (real WAV, wrong depth for the 16-bit decoder) drops
    val w8 = buf.array().clone()
    w8(34) = 8 // bitsPerSample field
    assert(Multimodal.audioFeatures(
      Seq(Multimodal.MediaBlob(3L, "audio/wav", w8)).toDS()).count() === 0L)
  }

  test("audioFeatures matches the synthetic-WAV oracle formula " +
       "(differential over generated payloads)") {
    import spark.implicits._
    val ids = Seq(0L, 1L, 2L, 3L, 7L, 49L, 50L, 101L)
    val blobs = ids.map(id =>
      Multimodal.MediaBlob(id, "audio/wav", Multimodal.syntheticWav(id))).toDS()
    val out = Multimodal.audioFeatures(blobs).orderBy("doc_id").collect()
    assert(out.length === ids.length)
    for (r <- out) {
      val id = r.getLong(0)
      val ch = 1 + (id % 2).toInt
      val nf = 100 + (id % 50).toInt
      // recompute from the byte formula, independently of the decoder
      val samples = (0 until nf * ch).map { k =>
        val v = ((id + 2 * k) % 256).toInt + 256 * ((id + 2 * k + 1) % 256).toInt
        if (v >= 32768) v - 65536 else v
      }
      assert(r.getInt(1) === 8000 + (id % 4).toInt * 4000)
      assert(r.getInt(2) === ch && r.getLong(3) === nf.toLong)
      assert(r.getLong(4) === samples.map(_.toLong).sum)
      assert(r.getLong(5) === samples.map(x => x.toLong * x).sum)
      assert(r.getLong(6) === samples.map(x => math.abs(x.toLong)).max)
      val c0 = samples.zipWithIndex.collect { case (s, k) if k % ch == 0 => s }
      assert(r.getLong(7) ===
        c0.zip(c0.tail).count { case (a, b) => a.toLong * b < 0 }.toLong)
    }
  }

  test("WavHeaders survives crafted chunk sizes: near-2^32 size (int " +
       "overflow), sub-byte bit depth — both drop, never hang or throw") {
    // chunk with size 0xFFFFFFF8: a naive int step would advance by 0
    val huge = java.nio.ByteBuffer.allocate(64)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    huge.put("RIFF".getBytes).putInt(56).put("WAVE".getBytes)
    huge.put("JUNK".getBytes).putInt(0xFFFFFFF8)
    assert(WavHeaders.parse(huge.array()) === None)
    // PCM fmt declaring 4 bits/sample: bits/8 == 0 must not divide
    val tiny = Multimodal.syntheticWav(0L).clone()
    tiny(34) = 4; tiny(35) = 0 // bitsPerSample field
    assert(WavHeaders.parse(tiny) === None)
  }

  test("Mp4Headers: truncated v1 mvhd drops instead of misreading the " +
       "v0 layout out of its 64-bit timestamp fields") {
    val v1short = java.nio.ByteBuffer.allocate(16 + 8 + 8 + 24)
    v1short.put(Multimodal.syntheticMp4(0L), 0, 16)
    v1short.putInt(40).put("moov".getBytes)
    v1short.putInt(32).put("mvhd".getBytes)
    v1short.put(1.toByte).put(Array[Byte](0, 0, 0)) // version 1, truncated
    v1short.putLong(7L).putLong(7L)                 // would misread as ts/dur
    assert(Mp4Headers.parse(v1short.array()) === None)
  }

  test("audioMeta flows through the distributed path and drops non-WAV") {
    import spark.implicits._
    val blobs = Seq(
      Multimodal.MediaBlob(1L, "audio/wav", Multimodal.syntheticWav(1L)),
      Multimodal.MediaBlob(2L, "audio/wav", "not a wav".getBytes)).toDS()
    val out = Multimodal.audioMeta(blobs).collect()
    assert(out.length === 1)
    assert(out.head.getAs[Int]("sample_rate") === 12000)
    assert(out.head.getAs[Int]("channels") === 2)
    assert(out.head.getAs[Long]("n_samples") === 101L)
    assert(out.head.getAs[Long]("duration_ms") === 101L * 1000 / 12000)
  }

  test("Mp4Headers walks boxes to mvhd (v0 and v1), skips leading boxes, " +
       "rejects garbage") {
    val mp4 = Multimodal.syntheticMp4(5L) // timescale 3000, duration 505
    assert(Mp4Headers.parse(mp4).contains(Mp4Headers.Mp4Meta(3000L, 505L)))
    assert(Mp4Headers.parse(mp4).get.durationMs === 505L * 1000 / 3000)
    // a free box between ftyp and moov must be skipped
    val withFree = java.nio.ByteBuffer.allocate(mp4.length + 12)
    withFree.put(mp4, 0, 16)
    withFree.putInt(12).put("free".getBytes).putInt(0)
    withFree.put(mp4, 16, mp4.length - 16)
    assert(Mp4Headers.parse(withFree.array())
      .contains(Mp4Headers.Mp4Meta(3000L, 505L)))
    // mvhd version 1: timescale BE32 at +20, duration BE64 at +24
    val v1 = java.nio.ByteBuffer.allocate(16 + 8 + 8 + 40)
    v1.put(mp4, 0, 16)
    v1.putInt(56).put("moov".getBytes)
    v1.putInt(48).put("mvhd".getBytes)
    v1.put(1.toByte).put(Array[Byte](0, 0, 0)) // version 1
    v1.putLong(0L).putLong(0L)                 // creation, modification
    v1.putInt(90000).putLong(123456789L)
    assert(Mp4Headers.parse(v1.array())
      .contains(Mp4Headers.Mp4Meta(90000L, 123456789L)))
    assert(Mp4Headers.parse("definitely not a video".getBytes) === None)
    assert(Mp4Headers.parse(Multimodal.syntheticWav(1L)) === None)
  }

  test("Mp4Headers.parseSampleTable: stts runs + stsz sizes fold to the " +
       "frame index; truncated or disagreeing tables drop whole") {
    // doc 5: n = 5+5%4 = 6 frames, delta = 100+5%7 = 105,
    // sizes 200+((5+i)%50) for i<6 -> 205..210
    val mp4 = Multimodal.syntheticMp4(5L)
    val fi = Mp4Headers.parseSampleTable(mp4).get
    assert(fi === Mp4Headers.Mp4FrameIndex(6L, 6L * 105, 205 + 206 + 207 +
      208 + 209 + 210, 210L))
    // fixed-size stsz (sample_size != 0, no per-sample table): find the
    // stsz payload and rewrite sample_size in place
    val fixed = mp4.clone()
    val szOff = { // locate "stsz" ascii
      var i = 0
      while (!(fixed(i) == 's' && fixed(i + 1) == 't' && fixed(i + 2) == 's'
        && fixed(i + 3) == 'z')) i += 1
      i + 4
    }
    // sample_size field is at szOff + 4 (after version/flags)
    java.nio.ByteBuffer.wrap(fixed).putInt(szOff + 4, 333)
    val ff = Mp4Headers.parseSampleTable(fixed).get
    assert(ff.totalBytes === 333L * 6 && ff.maxBytes === 333L)
    // stsz count disagreeing with stts total: malformed, drop whole
    val bad = mp4.clone()
    java.nio.ByteBuffer.wrap(bad).putInt(szOff + 8, 4) // claim 4 frames
    assert(Mp4Headers.parseSampleTable(bad) === None)
    // truncated per-sample table: declared 6 sizes, buffer cut short
    assert(Mp4Headers.parseSampleTable(
      java.util.Arrays.copyOf(mp4, mp4.length - 8)) === None)
    // no sample table at all (the pre-extension skeleton shape)
    assert(Mp4Headers.parseSampleTable("not a video".getBytes) === None)
  }

  test("videoMeta flows through the distributed path and drops non-MP4") {
    import spark.implicits._
    val blobs = Seq(
      Multimodal.MediaBlob(1L, "video/mp4", Multimodal.syntheticMp4(1L)),
      Multimodal.MediaBlob(2L, "video/mp4", "junk".getBytes)).toDS()
    val out = Multimodal.videoMeta(blobs).collect()
    assert(out.length === 1)
    assert(out.head.getAs[Long]("timescale") === 2000L)
    assert(out.head.getAs[Long]("duration_units") === 501L)
    assert(out.head.getAs[Long]("duration_ms") === 501L * 1000 / 2000)
  }

  test("sampleFrames: k evenly-spread distinct-ordinal rows, capped at " +
       "n_frames, md5 lineage keys") {
    import spark.implicits._
    // n_frames = (len % 24) + 1: len 26 -> 3 frames; len 1 -> 2 frames;
    // len 23 -> 24 frames
    val blobs = Multimodal.asBlobs(
      Seq((1L, "a" * 26), (2L, "b"), (3L, "c" * 23)).toDF("doc_id", "text"),
      "doc_id", "text")
    val meta = Multimodal.extractMeta(blobs)
    val out = Multimodal.sampleFrames(meta, k = 4)
      .orderBy("doc_id", "sample_ord").collect()
    val byDoc = out.groupBy(_.getLong(0))
    assert(byDoc(1L).map(_.getInt(2)).toSeq === Seq(0, 0, 1))    // 3 frames, k=4
    assert(byDoc(2L).map(_.getInt(2)).toSeq === Seq(0, 0))       // 2 frames
    assert(byDoc(3L).map(_.getInt(2)).toSeq === Seq(0, 7, 15, 23)) // 24 frames
    assert(out.forall(_.getString(3).length === 32))
  }

  test("non-image bytes never misparse as images") {
    assert(ImageHeaders.parse("plain text payload".getBytes) === None)
    assert(ImageHeaders.parse(Array[Byte]()) === None)
    assert(ImageHeaders.parse(Array[Byte](0xff.toByte, 0xd8.toByte)) === None)
  }
}

class StatsSpec extends SparkTestBase {

  test("psiDrift: identical halves are stable at psi 0; fully displaced " +
       "mass is drifted with the hand-computed eps-floor psi; a " +
       "one-sided key reports no_data") {
    import spark.implicits._
    val rows =
      // g_same: both sides identical (10 values in bin 0, 10 in bin 1)
      (0 until 10).flatMap(i => Seq(("g_same", 0L, 5.0), ("g_same", 1L, 5.0),
        ("g_same", 0L, 15.0), ("g_same", 1L, 15.0))) ++
      // g_move: ref all in bin 0, cur all in bin 1 — total displacement
      (0 until 10).flatMap(i => Seq(("g_move", 0L, 5.0), ("g_move", 1L, 15.0))) ++
      // g_one: current side only
      Seq(("g_one", 1L, 5.0))
    val df = rows.toDF("k", "user_id", "value")
    val got = Stats.psiDrift(df, "k", "value",
        refPred = col("user_id") % 2 === 0, curPred = col("user_id") % 2 === 1)
      .orderBy("key").collect()
      .map(r => r.getString(0) -> (Option(r.get(3)).map(_.asInstanceOf[Double]),
        r.getString(4))).toMap
    assert(got("g_same") === ((Some(0.0), "stable")))
    // displaced: p = (1, eps), q = (eps, 1) ->
    // psi = 2 * (1 - 1e-4) * ln(1 / 1e-4), each term rounded at 1e-9
    val term = math.round((1.0 - 1e-4) * math.log(1.0 / 1e-4) * 1e9)
    val expected = math.round(2.0 * term / 1e9 * 1e6) / 1e6.toDouble
    assert(got("g_move")._2 === "drifted")
    assert(math.abs(got("g_move")._1.get - expected) < 1e-9,
      s"psi ${got("g_move")._1} vs $expected")
    assert(got("g_one") === ((None, "no_data")))
  }

  test("ksDrift: disjoint supports give ks = 1 (drifted past the " +
       "alpha=.05 threshold); identical samples give ks = 0") {
    import spark.implicits._
    val rows =
      (1 to 5).flatMap(i => Seq(("dis", 0L, i.toDouble), ("dis", 1L, i + 100.0))) ++
      (1 to 5).flatMap(i => Seq(("same", 0L, i.toDouble), ("same", 1L, i.toDouble)))
    val got = Stats.ksDrift(rows.toDF("k", "user_id", "value"), "k", "value",
        refPred = col("user_id") % 2 === 0, curPred = col("user_id") % 2 === 1)
      .orderBy("key").collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4),
          r.getBoolean(5))).toMap
    val thr = math.round(1.358 * math.sqrt(10.0 / 25.0) * 1e6) / 1e6.toDouble
    assert(got("dis") === ((5L, 5L, 1.0, thr, true)))
    assert(got("same")._3 === 0.0 && !got("same")._5)
  }

  test("cohensKappa: textbook 2x2 fixture gives kappa 0.4; perfect " +
       "single-label agreement is UNDEFINED (null), not 1; null labels " +
       "drop") {
    import spark.implicits._
    // marginals a: yes 6 / no 4, b: yes 5 / no 5; agree 7 of 10
    // po = 0.7, pe = .6*.5 + .4*.5 = 0.5, kappa = 0.2/0.5 = 0.4
    val rows = Seq.fill(4)(("y", "y")) ++ Seq.fill(2)(("y", "n")) ++
      Seq.fill(1)(("n", "y")) ++ Seq.fill(3)(("n", "n"))
    val r = Stats.cohensKappa(rows.toDF("a", "b"), "a", "b").head()
    assert((r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3))
      === ((10L, 0.7, 0.5, 0.4)))
    // one shared label: po = pe = 1 -> 0/0 must be null
    val same = Seq.fill(5)(("x", "x")).toDF("a", "b")
    val s = Stats.cohensKappa(same, "a", "b").head()
    assert(s.getDouble(1) === 1.0 && s.getDouble(2) === 1.0 && s.isNullAt(3))
    // null labels excluded from n and from the marginals
    val withNull = rows ++ Seq((null, "y"), ("y", null))
    val n2 = Stats.cohensKappa(withNull.toDF("a", "b"), "a", "b").head()
    assert(n2.getLong(0) === 10L && n2.getDouble(3) === 0.4)
  }

  test("conditional-fold equivalence (r14 scan-once class): rows " +
       "passing NEITHER slice pred are excluded, rows passing BOTH " +
       "count on both sides, and a one-side-only category behaves as " +
       "the old full_outer NULL") {
    import spark.implicits._
    // user 0 = ref only, 1 = cur only, 2 = both, 3 = neither
    val rows = Seq(
      ("k", 0L, 5.0), ("k", 0L, 5.0),            // ref bin 0: 2 (+both below)
      ("k", 1L, 5.0),                             // cur bin 0: 1 (+both)
      ("k", 2L, 5.0),                             // both sides, bin 0
      ("k", 1L, 15.0),                            // cur-only bin 1
      ("k", 3L, 95.0))                            // neither: must vanish
    val df = rows.toDF("k", "user_id", "value")
    val ref = col("user_id") === 0 || col("user_id") === 2
    val cur = col("user_id") === 1 || col("user_id") === 2
    val r = Stats.psiDrift(df, "k", "value", ref, cur).head()
    // n_ref = 3 (two ref-only + one both), n_cur = 3 (two cur-only + both):
    // the 'neither' row contributes to no side, the 'both' row to each
    assert((r.getLong(1), r.getLong(2)) === ((3L, 3L)))
    // ref dist: bin0 3/3; cur dist: bin0 2/3, bin1 1/3 — psi matches the
    // hand fold with the eps floor on ref's empty bin 1
    val t0 = math.round((1.0 - 2.0 / 3) * math.log(1.0 / (2.0 / 3)) * 1e9)
    val t1 = math.round((1e-4 - 1.0 / 3) * math.log(1e-4 / (1.0 / 3)) * 1e9)
    val want = math.round((t0 + t1) / 1e9 * 1e6) / 1e6.toDouble
    assert(math.abs(r.getDouble(3) - want) < 1e-9, s"psi ${r.getDouble(3)} vs $want")
    // jsDrift: category 'c' on the cur side only — the fold's 0 count
    // must reproduce the old full_outer NULL->coalesce(0) bounded term
    val js = Stats.jsDrift(Seq(("a", 0L), ("a", 1L), ("c", 1L)).toDF("cat", "u"),
      "cat", refPred = col("u") === 0, curPred = col("u") === 1).head()
    assert((js.getLong(0), js.getLong(1), js.getLong(2)) === ((1L, 2L, 2L)))
    assert(!js.isNullAt(3) && js.getDouble(3) > 0.0 && js.getDouble(3) <= 1.0)
  }

  test("decayedTopK: repeated (item, date) rows score exactly n times " +
       "the per-date weight (the per-row integer sum), and n_rows " +
       "counts raw rows") {
    import spark.implicits._
    val facts = Seq(
      ("i1", "2024-01-10"), ("i1", "2024-01-10"), ("i1", "2024-01-10"),
      ("i1", "2024-01-08"),
      ("i2", "2024-01-10")).toDF("item", "d")
    val dim = Seq(("i1", "g"), ("i2", "g")).toDF("key", "grp")
    val got = Baskets.decayedTopK(facts, "item", "d", dim, "key", "grp",
        lambda = 0.05, k = 3)
      .orderBy("rnk").collect()
      .map(r => (r.getString(2), r.getLong(3), r.getLong(4)))
    val w0 = math.round(math.exp(0.0) * 1e6)          // age 0
    val w2 = math.round(math.exp(-0.05 * 2) * 1e6)    // age 2 days
    assert(got === Array(("i1", 4L, 3 * w0 + w2), ("i2", 1L, w0)))
  }

  test("bradleyTerry: dominance order recovered, zero-win node stays " +
       "finite via the phantom prior, geometric mean ~1, " +
       "partition-invariant, self-comparisons dropped") {
    import spark.implicits._
    // A beats B 2x, B beats C 2x, A beats C 1x (+ a self-row to drop)
    val cmp = Seq(("A", "B"), ("A", "B"), ("B", "C"), ("B", "C"),
      ("A", "C"), ("A", "A")).toDF("w", "l")
    def run(p: Int) =
      Preference.bradleyTerry(cmp.repartition(p), "w", "l", iters = 10)
        .collect()
        .map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    val m = run(1)
    assert(m("A")._1 === 3L && m("A")._2 === 3L, "A: 3 games, 3 wins")
    assert(m("B")._1 === 4L && m("B")._2 === 2L)
    assert(m("C")._1 === 3L && m("C")._2 === 0L)
    assert(m("A")._3 > m("B")._3 && m("B")._3 > m("C")._3,
      s"dominance order: $m")
    assert(m("C")._3 > 0.0, "phantom prior keeps the never-winner finite")
    val gm = math.pow(m.values.map(_._3).product, 1.0 / 3)
    assert(math.abs(gm - 1.0) < 1e-3, s"geometric mean ~1, got $gm")
    assert(run(7) === m, "hash-free deterministic recurrence")
  }

  test("bradleyTerry randomized branch differential: driver == " +
       "distributed over seeded random tournaments (skewed win counts, " +
       "never-winners, self-rows, duplicate games)") {
    import spark.implicits._
    for (seed <- 1 to 4) {
      val rnd = new scala.util.Random(2000L + seed)
      val n = 3 + rnd.nextInt(10)
      val games = (1 to 10 + rnd.nextInt(50)).map { _ =>
        (s"p${rnd.nextInt(n)}", s"p${rnd.nextInt(n)}") // self-rows arise
      }
      val cmp = games.toDF("w", "l")
      def run(): Seq[(String, Long, Long, Double)] =
        Preference.bradleyTerry(cmp, "w", "l", iters = 10)
          .orderBy("node").collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
            r.getDouble(3))).toSeq
      val (driver, gD) = gatesOf(run())
      assert(gD === Map("bt" -> (1L, 0L)), s"seed=$seed default: local")
      withConf("spark.graft.gate.bt" -> "0") {
        val (dist, gX) = gatesOf(run())
        assert(gX === Map("bt" -> (0L, 1L)), s"seed=$seed gate 0")
        assert(driver.map(t => (t._1, t._2, t._3)) ===
          dist.map(t => (t._1, t._2, t._3)), s"seed=$seed base cols")
        driver.zip(dist).foreach { case ((id, _, _, s1), (_, _, _, s2)) =>
          assert(math.abs(s1 - s2) <= 1.000001e-6,
            s"seed=$seed $id score $s1 vs $s2")
        }
      }
    }
  }

  test("bradleyTerry branch equality: the size-gated DRIVER recurrence " +
       "(default gate — dictionary-sized m) and the distributed rounds " +
       "(gate forced to 0) produce identical rows, including the " +
       "round-6 score") {
    import spark.implicits._
    val cmp = Seq(("A", "B"), ("A", "B"), ("B", "C"), ("B", "C"),
      ("A", "C"), ("D", "A"), ("D", "C"), ("B", "D")).toDF("w", "l")
    def run(): Seq[(String, Long, Long, Double)] =
      Preference.bradleyTerry(cmp, "w", "l", iters = 10)
        .orderBy("node").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getDouble(3))).toSeq
    val (driver, gD) = gatesOf(run()) // gate default 200k >> 8 pair rows
    assert(gD === Map("bt" -> (1L, 0L)), "default gate: local")
    withConf("spark.graft.gate.bt" -> "0") {
      val (distributed, gX) = gatesOf(run())
      assert(gX === Map("bt" -> (0L, 1L)), "gate 0: distributed")
      assert(driver === distributed,
        s"branches must agree:\n$driver\n$distributed")
    }
  }

  test("marginMining: integer-ratio margins hand-computed end to end; " +
       "threshold drops the weaker pair; best-target pick per source") {
    import spark.implicits._
    // sources even / targets odd, 2-D: c6 grid is (s0,t1)=1e6,
    // (s0,t3)=6e5, (s2,t1)=0, (s2,t3)=8e5. k=2 neighborhoods:
    // ax(s0)=1.6e6, ax(s2)=8e5; ay(t1)=1e6, ay(t3)=1.4e6; margin =
    // 8*c6 / (2*(ax+ay)): s0->t1 = 8/5.2 = 1.538462, s2->t3 =
    // 6.4/4.4 = 1.454545 — both their source's best and above 1.05
    val emb = Seq(
      (0L, Array(1f, 0f)), (2L, Array(0f, 1f)),
      (1L, Array(1f, 0f)), (3L, Array(0.6f, 0.8f)))
      .toDF("vec_id", "embedding")
    def run(minMargin: Double) =
      Similarity.marginMining(emb, "vec_id", "embedding",
          col("vec_id") % 2 === 0, k = 2, minMargin = minMargin)
        .orderBy("src_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getDouble(3)))
    assert(run(1.05).toSeq === Seq(
      (0L, 1L, 1.0, 1.538462), (2L, 3L, 0.8, 1.454545)))
    // tightening the threshold drops the weaker pair, keeps the other
    assert(run(1.5).toSeq === Seq((0L, 1L, 1.0, 1.538462)))
  }

  test("covariance matrix matches a direct computation; diagonal is the " +
       "variance; mismatched-dim rows are dropped") {
    import spark.implicits._
    val data = Seq(
      (0L, Array(1.0f, 2.0f, 0.0f)),
      (1L, Array(2.0f, 4.0f, 1.0f)),
      (2L, Array(3.0f, 6.0f, 0.0f)),
      (3L, Array(4.0f, 8.0f, 1.0f)),
      (4L, Array(9.9f))) // wrong dim -> dropped by the majority-dim rule
      .toDF("vec_id", "embedding")
    val out = Stats.covarianceMatrix(data, "vec_id", "embedding")
      .orderBy("i", "j").collect()
      .map(r => ((r.getInt(0), r.getInt(1)), r.getDouble(2))).toMap
    // direct population covariance over the 4 kept rows
    val xs = Seq(
      Seq(1.0, 2.0, 0.0), Seq(2.0, 4.0, 1.0),
      Seq(3.0, 6.0, 0.0), Seq(4.0, 8.0, 1.0))
    val n = xs.size.toDouble
    val mean = (0 until 3).map(i => xs.map(_(i)).sum / n)
    def cov(i: Int, j: Int) =
      xs.map(x => x(i) * x(j)).sum / n - mean(i) * mean(j)
    assert(out.size === 6) // upper triangle of 3x3
    for (i <- 0 until 3; j <- i until 3)
      assert(math.abs(out((i, j)) - cov(i, j)) < 1e-6,
        s"cov($i,$j): ${out((i, j))} vs ${cov(i, j)}")
    // col 1 = 2 * col 0 -> perfectly correlated: cov01^2 == var0 * var1
    assert(math.abs(out((0, 1)) * out((0, 1)) - out((0, 0)) * out((1, 1))) < 1e-5)
  }

  test("power iteration recovers the dominant eigenvector; sign pinned; " +
       "zero matrix keeps the start vector instead of dividing by zero") {
    // diag(5, 1): dominant axis is e0
    val m = Array(Array(5.0, 0.0), Array(0.0, 1.0))
    val w = Stats.topComponent(m, iters = 50)
    assert(math.abs(math.abs(w(0)) - 1.0) < 1e-9)
    assert(w(0) > 0) // pinned positive
    val z = Stats.topComponent(Array(Array(0.0, 0.0), Array(0.0, 0.0)), 10)
    assert(z.forall(x => !x.isNaN && !x.isInfinite))
  }

  test("standardize: z-scores match the hand computation and a " +
       "zero-variance dimension pins z = 0") {
    import spark.implicits._
    val df = Seq(
      (0L, Array(1.0f, 7.0f)), (1L, Array(2.0f, 7.0f)),
      (2L, Array(3.0f, 7.0f)), (3L, Array(4.0f, 7.0f)))
      .toDF("vec_id", "embedding")
    val out = Stats.standardize(df, "vec_id", "embedding")
      .orderBy("vec_id", "i").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
    // dim 0: mean 2.5, pop std sqrt(1.25)
    val sd = math.sqrt(1.25)
    val exp = Seq(0L, 1L, 2L, 3L).flatMap { id =>
      Seq((id, 0, BigDecimal((id + 1.0 - 2.5) / sd)
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble),
          (id, 1, 0.0))
    }
    assert(out.length === 8)
    out.zip(exp).foreach { case (g, e) =>
      assert(g._1 === e._1 && g._2 === e._2 && math.abs(g._3 - e._3) < 1e-9,
        s"$g vs $e")
    }
  }

  test("covarianceMatrix: native moments kernel matches the composed " +
       "explode form on random vectors across partitionings") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val data = (0L until 200L).map(i =>
        (i, Array.fill(16)((rnd.nextDouble() * 4 - 2).toFloat))) :+
      (999L, Array(1.0f)) // wrong dim -> dropped by the majority rule
    val df = data.toDF("vec_id", "embedding")
    val composed = Stats.covarianceMatrixComposed(df, "vec_id", "embedding")
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getDouble(2))).toMap
    for (p <- Seq(1, 7)) {
      val native = Stats.covarianceMatrix(
          df.repartition(p), "vec_id", "embedding")
        .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getDouble(2))).toMap
      assert(native.keySet === composed.keySet, s"partitions=$p")
      native.foreach { case (k, v) =>
        assert(math.abs(v - composed(k)) <= 1e-6, s"p=$p $k: $v vs ${composed(k)}")
      }
    }
  }

  test("quantileBuckets: uniform scores land q-balanced, ties sit low, " +
       "null scores bucket null, no corpus-wide window in the plan") {
    import spark.implicits._
    val df = (1 to 100).map(i => (i.toLong, i.toLong)).toDF("id", "sc")
      .union(Seq((101L, Option.empty[Long])).toDF("id", "sc"))
    val out = Stats.quantileBuckets(df, "id", $"sc", q = 4)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(2)) None else Some(r.getInt(2)))).toMap
    assert(out(101L).isEmpty, "null score -> null bucket")
    val counts = out.values.flatten.groupBy(identity).view
      .mapValues(_.size).toMap
    assert(counts.keySet === Set(1, 2, 3, 4))
    assert(counts.values.forall(c => c >= 20 && c <= 30),
      s"quartiles should balance: $counts")
    assert(out(1L).contains(1) && out(100L).contains(4))
    // monotone: a higher score never lands in a lower bucket
    val seq = (1L to 100L).map(i => out(i).get)
    assert(seq.zip(seq.tail).forall { case (a, b) => a <= b })
    // plan guard: no window over the corpus (the whole point of the op)
    val plan = Stats.quantileBuckets(df, "id", $"sc", q = 4)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"ntile-style window crept in:\n$plan")
  }

  test("pcaProject: projections onto the dominant axis of an elongated " +
       "blob capture more variance than any original coordinate") {
    import spark.implicits._
    // points along the (1, 1) diagonal with small perpendicular jitter
    val pts = (0 until 40).map { t =>
      val a = (t - 20) * 1.0
      val jit = (t % 5 - 2) * 0.05
      (t.toLong, Array((a + jit).toFloat, (a - jit).toFloat))
    }
    val df = pts.toDF("vec_id", "embedding")
    val out = Stats.pcaProject(df, "vec_id", "embedding")
      .orderBy("vec_id").collect().map(_.getDouble(1))
    val n = out.length.toDouble
    val mu = out.sum / n
    val varPc = out.map(x => (x - mu) * (x - mu)).sum / n
    val var0 = {
      val xs = pts.map(_._2(0).toDouble)
      val m0 = xs.sum / n
      xs.map(x => (x - m0) * (x - m0)).sum / n
    }
    assert(varPc > var0, s"pc1 variance $varPc should exceed axis-0 $var0")
    // deterministic: a second run produces the identical projections
    val again = Stats.pcaProject(df, "vec_id", "embedding")
      .orderBy("vec_id").collect().map(_.getDouble(1))
    assert(again.toSeq === out.toSeq)
  }

  test("aucScore: hand-computed midrank AUC with ties, perfect and " +
       "reverse separations, single-class null") {
    import spark.implicits._
    // scores: 0.1(y0), 0.4(y0), 0.4(y1), 0.9(y1) — the tied pair takes
    // midrank 2.5; rank-sum of positives = 2.5 + 4 = 6.5
    // AUC = (6.5 - 2*3/2) / (2*2) = 3.5/4 = 0.875
    val mixed = Seq((0.1, 0), (0.4, 0), (0.4, 1), (0.9, 1))
      .toDF("score", "y")
    val r = Stats.aucScore(mixed, "score", "y").head()
    assert((r.getLong(0), r.getLong(1)) === ((2L, 2L)))
    assert(r.getDouble(2) === 0.875)
    // perfect and reverse rankings
    val perfect = Seq((0.1, 0), (0.2, 0), (0.8, 1)).toDF("score", "y")
    assert(Stats.aucScore(perfect, "score", "y").head().getDouble(2) === 1.0)
    val reverse = Seq((0.9, 0), (0.8, 0), (0.1, 1)).toDF("score", "y")
    assert(Stats.aucScore(reverse, "score", "y").head().getDouble(2) === 0.0)
    // all one class -> null auc (0 denominator)
    val onecls = Seq((0.3, 1), (0.6, 1)).toDF("score", "y")
    assert(Stats.aucScore(onecls, "score", "y").head().isNullAt(2))
  }

  test("averagePrecision: tie-grouped step AP hand-computed; perfect " +
       "ranking hits 1.0; no positives -> null") {
    import spark.implicits._
    // desc groups: 0.9 (1 pos) -> 1*(1/1); 0.4 (1 pos + 1 neg, tied)
    // -> 1*(2/3); 0.1 (1 neg) -> 0. AP = (1 + 2/3)/2 = 5/6
    val mixed = Seq((0.9, 1), (0.4, 1), (0.4, 0), (0.1, 0))
      .toDF("score", "y")
    val r = Stats.averagePrecision(mixed, "score", "y").head()
    assert((r.getLong(0), r.getLong(1)) === ((2L, 2L)))
    assert(r.getDouble(2) === BigDecimal(5.0 / 6.0)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    val perfect = Seq((0.9, 1), (0.8, 1), (0.1, 0)).toDF("score", "y")
    assert(Stats.averagePrecision(perfect, "score", "y")
      .head().getDouble(2) === 1.0)
    val nopos = Seq((0.3, 0), (0.6, 0)).toDF("score", "y")
    assert(Stats.averagePrecision(nopos, "score", "y").head().isNullAt(2))
  }

  test("weightedPercentiles: hand-computed lower-bound weighted " +
       "quantiles, exact-half boundary picks the LOWER value, " +
       "fractional weights quantize exactly, duplicate values pre-" +
       "aggregate; partition-invariant") {
    import spark.implicits._
    // group a: (10, w1) (20, w2) (30, w1) — tot 4
    //   p50: cum(20) = 3 >= 2  -> 20;  p90: cum >= 3.6 -> 30
    // group b: (1, w1) (2, w1) — p50 sits EXACTLY at half: type-1
    //   lower-bound takes v = 1
    // group c: duplicates (5, w1)+(5, w1) pre-agg to w2 of tot 4 -> p50 = 5
    // group d: fractional w 0.5/1.5 -> scaled 500/1500, p50 -> 7
    val df = Seq(
      ("a", 10.0, 1.0), ("a", 20.0, 2.0), ("a", 30.0, 1.0),
      ("b", 1.0, 1.0), ("b", 2.0, 1.0),
      ("c", 5.0, 1.0), ("c", 5.0, 1.0), ("c", 6.0, 2.0),
      ("d", 3.0, 0.5), ("d", 7.0, 1.5))
      .toDF("g", "v", "w")
    def run(d: org.apache.spark.sql.DataFrame) =
      Stats.weightedPercentiles(d, "g", "v", "w")
        .orderBy("grp").collect()
        .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2),
          r.getDouble(3)))
    val got = run(df)
    assert(got.toSeq === Seq(
      ("a", 4.0, 20.0, 30.0),
      ("b", 2.0, 1.0, 2.0),
      ("c", 4.0, 5.0, 6.0),
      ("d", 2.0, 7.0, 7.0)))
    for (p <- Seq(1, 7))
      assert(run(df.repartition(p)).toSeq === got.toSeq, s"p=$p")
  }

  test("theilSenSlope: perfect line recovered exactly, one outlier " +
       "day cannot drag the median (the anti-OLS pin), even pair " +
       "counts average the middles, over-cap and single-point keys " +
       "drop") {
    import spark.implicits._
    val df = Seq(
      // key "line": y = 2x exactly -> slope 2
      ("line", 0L, 0.0), ("line", 1L, 2.0), ("line", 2L, 4.0),
      // key "outlier": 4 days on y = x, day 4 spikes to 100;
      // slopes sorted: 1,1,1,1,1,1,25,33,49,97 -> median (1+1)/2 = 1
      ("outlier", 0L, 0.0), ("outlier", 1L, 1.0), ("outlier", 2L, 2.0),
      ("outlier", 3L, 3.0), ("outlier", 4L, 100.0),
      // key "even": slopes 1,2,3,3,4,5 -> avg(3, 3) = 3
      ("even", 0L, 0.0), ("even", 1L, 1.0), ("even", 2L, 4.0),
      ("even", 3L, 9.0),
      // key "lone": a single point has no pairs -> dropped
      ("lone", 0L, 5.0))
      .toDF("k", "x", "y")
    def run(d: org.apache.spark.sql.DataFrame, cap: Int = 1000) =
      Stats.theilSenSlope(d, "k", "x", "y", maxPoints = cap)
        .orderBy("key").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getDouble(3)))
    val got = run(df)
    assert(got.toSeq === Seq(
      ("even", 4L, 6L, 3.0),
      ("line", 3L, 3L, 2.0),
      ("outlier", 5L, 10L, 1.0)))
    // cap at 4 points: "outlier" (5 points) drops whole
    assert(run(df, cap = 4).map(_._1).toSeq === Seq("even", "line"))
    for (p <- Seq(1, 7))
      assert(run(df.repartition(p)).toSeq === got.toSeq, s"p=$p")
  }

  test("welchTestsBH: identical arms test at t = 0 / p = 1 and never " +
       "reject; a separated slice rejects under BH; under-2-per-arm " +
       "slices are excluded; ranks order the family") {
    import spark.implicits._
    val rows =
      // slice s1: both arms identical -> t = 0, p = 2/(1+e^0) = 1
      Seq(1.0, 2.0, 3.0, 4.0).flatMap(v =>
        Seq(("s1", 0L, v), ("s1", 1L, v))) ++
      // slice s2: arm a ~ 10, arm b ~ 1, same spread -> |t| huge
      Seq(10.0, 10.1, 9.9, 10.2).map(v => ("s2", 0L, v)) ++
      Seq(1.0, 1.1, 0.9, 1.2).map(v => ("s2", 1L, v)) ++
      // slice s3: one row per arm -> variance undefined -> excluded
      Seq(("s3", 0L, 5.0), ("s3", 1L, 6.0))
    val df = rows.toDF("slice", "u", "value")
    val got = Stats.welchTestsBH(df, Seq("slice"), "value",
        armA = col("u") === 0L, armB = col("u") === 1L, alpha = 0.1)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getLong(5), r.getBoolean(6)))
    assert(got.map(_._1).toSeq === Seq("s2", "s1"), "ranked by p")
    val s2 = got(0); val s1 = got(1)
    // replay the Welch t for s2 with the same quantized arithmetic
    def stats(vs: Seq[Double]) = {
      val v3 = vs.map(v => math.round(v * 1000))
      val n = v3.size.toLong
      val m = v3.sum.toDouble / n / 1000
      val ss = v3.map(x => x * x).sum.toDouble
      (n, m, (ss / 1000000 - n * m * m) / (n - 1).toDouble)
    }
    val (na, ma, va) = stats(Seq(10.0, 10.1, 9.9, 10.2))
    val (nb, mb, vb) = stats(Seq(1.0, 1.1, 0.9, 1.2))
    val tExp = (ma - mb) / math.sqrt(va / na + vb / nb)
    assert(s2._4 === math.round(tExp * 1e6) / 1e6)
    assert(s2._5 === 0.0 && s2._6 === 1L && s2._7 === true,
      "p rounds to 0 and BH rejects at rank 1")
    assert(s1._4 === 0.0 && s1._5 === 1.0 && s1._7 === false,
      "identical arms: t = 0, p = 1, never rejected")
    assert(!got.exists(_._1 == "s3"), "1-per-arm slice excluded")
  }

  test("trimmedMean: a whale row cannot move the 10%-trim, trimFrac 0 " +
       "is the plain mean, small groups trim nothing") {
    import spark.implicits._
    // 1..9 + a 1000 whale: k = floor(10 * .1) = 1 -> keep ranks 2..9 =
    // values 2..9 -> mean 5.5 (the plain mean is ~104.5)
    val whale = ((1 to 9).map(_.toDouble) :+ 1000.0).map(("a", _))
    val df = whale.toDF("g", "v")
    val got = Stats.trimmedMean(df, "g", "v").collect().head
    assert((got.getLong(1), got.getLong(2), got.getDouble(3)) ===
      ((10L, 8L, 5.5)))
    val plain = Stats.trimmedMean(df, "g", "v", trimFrac = 0.0)
      .collect().head
    assert(plain.getDouble(3) === 104.5)
    // n = 3 at 10%: k = 0, nothing trimmed
    val small = Seq(("b", 1.0), ("b", 2.0), ("b", 6.0)).toDF("g", "v")
    assert(Stats.trimmedMean(small, "g", "v").collect().head
      .getDouble(3) === 3.0)
  }

  test("giniConcentration: uniform mass is exactly 0, single-owner " +
       "mass is (n-1)/n, zero-mass groups null") {
    import spark.implicits._
    val df = Seq(
      ("uni", 5L), ("uni", 5L), ("uni", 5L), ("uni", 5L),
      ("one", 0L), ("one", 0L), ("one", 12L),
      ("zero", 0L), ("zero", 0L))
      .toDF("g", "x")
    val got = Stats.giniConcentration(df, "g", "x")
      .orderBy("grp").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) null else r.getDouble(3)))
    assert(got.toSeq === Seq(
      ("one", 3L, 12L, math.round((2.0 / 3.0) * 1e6) / 1e6),
      ("uni", 4L, 20L, 0.0),
      ("zero", 2L, 0L, null)))
  }

  test("conformalGate: hand-replayed qhat at n_cal = 9 (rank 9 of 9 " +
       "residuals), shifted test half fails the coverage gate; a " +
       "calibration set too small for the quantile yields null qhat " +
       "and zero coverage") {
    import spark.implicits._
    // slice big: cal (u=1) values 1..9 -> mean 5, |res| sorted
    // 0,1,1,2,2,3,3,4,4; ceil(.9*10) = 9 -> qhat = 4.
    // test (u=0) values 1,5,9,15 -> |res| 4,0,4,10 -> covered 3/4.
    val rows =
      (1 to 9).map(v => ("big", 1L, v.toDouble)) ++
      Seq(1.0, 5.0, 9.0, 15.0).map(v => ("big", 0L, v)) ++
      // slice tiny: 2 cal rows -> rank 9(3)*0.9 needs rn >= 2.7 > 2
      Seq(("tiny", 1L, 0.0), ("tiny", 1L, 10.0), ("tiny", 0L, 5.0))
    val got = Stats.conformalGate(rows.toDF("k", "u", "v"), "k", "v",
        calibPred = col("u") === 1L)
      .orderBy("key").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3),
        if (r.isNullAt(4)) null else r.getDouble(4),
        r.getDouble(5), r.getBoolean(6)))
    assert(got.toSeq === Seq(
      ("big", 9L, 4L, 5.0, 4.0, 0.75, false),
      ("tiny", 2L, 1L, 5.0, null, 0.0, false)))
  }

  test("changepoint: a clean step lands the split on the step's last " +
       "low day with gain = total SS; a constant series picks the " +
       "earliest split at gain 0") {
    import spark.implicits._
    val step = ((1 to 4).map(d => ("s", d.toLong, 10L)) ++
      (5 to 8).map(d => ("s", d.toLong, 30L))).toDF("k", "x", "v")
    val got = Stats.changepoint(step, "k", "x", "v").collect().head
    assert((got.getLong(1), got.getLong(2), got.getLong(3),
      got.getDouble(4), got.getDouble(5), got.getDouble(6)) ===
      ((4L, 4L, 4L, 10.0, 30.0, 800.0)))
    val flat = (1 to 6).map(d => ("f", d.toLong, 7L)).toDF("k", "x", "v")
    val g2 = Stats.changepoint(flat, "k", "x", "v").collect().head
    assert(g2.getLong(1) === 1L && g2.getDouble(6) === 0.0,
      "no structure: earliest split, zero gain")
  }

  test("maseBacktest: an exactly-weekly series scores MASE 0, scoring " +
       "starts only where BOTH predictors exist, a constant series " +
       "nulls the ratio") {
    import spark.implicits._
    val weekly = (1 to 21).map(d =>
      ("w", d.toLong, ((d - 1) % 7 + 1).toLong)).toDF("k", "x", "v")
    val got = Stats.maseBacktest(weekly, "k", "x", "v").collect().head
    assert((got.getLong(1), got.getLong(2), got.getDouble(4)) ===
      ((14L, 0L, 0.0)))
    val const = (1 to 10).map(d => ("c", d.toLong, 5L)).toDF("k", "x", "v")
    val g2 = Stats.maseBacktest(const, "k", "x", "v").collect().head
    assert(g2.getLong(2) === 0L && g2.getLong(3) === 0L && g2.isNullAt(4),
      "0/0 guards to null, not a throw")
  }

  test("pearsonByGroup: exact +1/-1 on linear relations, a " +
       "hand-computed 0.5, zero-variance groups null") {
    import spark.implicits._
    val df = Seq(
      ("up", 1.0, 2.0), ("up", 2.0, 4.0), ("up", 3.0, 6.0),
      ("down", 1.0, 3.0), ("down", 2.0, 2.0), ("down", 3.0, 1.0),
      // Sx=6 Sy=6 Sxy=13 Sxx=Syy=14 -> r = 3/6 = 0.5
      ("half", 1.0, 1.0), ("half", 2.0, 3.0), ("half", 3.0, 2.0),
      ("flat", 5.0, 1.0), ("flat", 5.0, 9.0))
      .toDF("g", "x", "y")
    val got = Stats.pearsonByGroup(df, "g", "x", "y",
        xScale = 1L, yScale = 1L)
      .orderBy("grp").collect()
      .map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) null else r.getDouble(2)))
    assert(got.toSeq === Seq(
      ("down", 3L, -1.0), ("flat", 2L, null),
      ("half", 3L, 0.5), ("up", 3L, 1.0)))
  }

  test("hampelFilter: a lone spike flags and filters to the rolling " +
       "median, edge windows shrink and judge against what exists, " +
       "constant series never flags (zero deviation vs zero MAD)") {
    import spark.implicits._
    val s = ((1 to 7).map(d =>
        ("k", d.toLong, if (d == 4) 100L else 10L)) ++
      (1 to 5).map(d => ("c", d.toLong, 5L))).toDF("g", "x", "v")
    val got = Stats.hampelFilter(s, "g", "x", "v")
      .orderBy("key", "x").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getBoolean(5), r.getDouble(6)))
    val k = got.filter(_._1 == "k")
    // day 4: full 7-window, med 10, MAD 0 -> any deviation spikes
    assert(k(3) === (("k", 4L, 100L, 10.0, 0.0, true, 10.0)))
    // day 1: shrunk 4-window [10,10,10,100] -> med 10, not a spike
    assert(k(0) === (("k", 1L, 10L, 10.0, 0.0, false, 10.0)))
    // day 7: shrunk window [100,10,10,10] via days 4..7? no — days
    // 4..7 = [100,10,10,10]: med 10, v=10, no spike
    assert(k(6)._6 === false && k(6)._7 === 10.0)
    assert(got.filter(_._1 == "c").forall(r => !r._6 && r._7 === 5.0),
      "constant series: zero deviation vs zero MAD never flags")
  }

  test("holtSmoothing: hand-replayed level/trend fold, one-point " +
       "series forecasts itself, partition-invariant") {
    import spark.implicits._
    val s = Seq(("k", 1L, 10L), ("k", 2L, 12L), ("k", 3L, 14L),
      ("one", 5L, 42L)).toDF("g", "x", "v")
    def run(d: org.apache.spark.sql.DataFrame) =
      Stats.holtSmoothing(d, "g", "x", "v").orderBy("key").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
          r.getDouble(3), r.getDouble(4)))
    // replay: l=10,b=0; x=12: l=10.6, b=0.06; x=14: l=11.662, b=0.1602
    var (l, b) = (10.0, 0.0)
    for (x <- Seq(12.0, 14.0)) {
      val ln = 0.3 * x + 0.7 * (l + b)
      b = 0.1 * (ln - l) + 0.9 * b; l = ln
    }
    def r6(x: Double) = math.round(x * 1e6) / 1e6
    val got = run(s)
    assert(got.toSeq === Seq(
      ("k", 3L, r6(l), r6(b), r6(l + b)),
      ("one", 1L, 42.0, 0.0, 42.0)))
    for (p <- Seq(1, 7))
      assert(run(s.repartition(p)).toSeq === got.toSeq, s"p=$p")
  }

  test("chiSquareCells: an independent grid has zero contributions " +
       "and expected = observed, a zero-observed cell still emits " +
       "with positive expected") {
    import spark.implicits._
    // margins: rows (50, 10), cols (48, 12), n = 60 — counts exactly
    // proportional, so independence holds cell-exactly
    val rows = Seq.fill(40)(("a", "x")) ++ Seq.fill(10)(("a", "y")) ++
      Seq.fill(8)(("b", "x")) ++ Seq.fill(2)(("b", "y"))
    val got = Stats.chiSquareCells(rows.toDF("l", "s"), "l", "s")
      .orderBy("a", "b").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))
    assert(got.toSeq === Seq(
      ("a", "x", 40L, 40.0, 0.0), ("a", "y", 10L, 10.0, 0.0),
      ("b", "x", 8L, 8.0, 0.0), ("b", "y", 2L, 2.0, 0.0)))
    // drop the (b, y) rows: the grid must still emit the cell with
    // observed 0 and expected 8*10/58 > 0
    val g2 = Stats.chiSquareCells(
        rows.filterNot(_ == ("b", "y")).toDF("l", "s"), "l", "s")
      .orderBy("a", "b").collect()
    assert(g2.length === 4)
    val by = g2.find(r => r.getString(0) == "b" && r.getString(1) == "y").get
    assert(by.getLong(2) === 0L && by.getDouble(3) > 0.0 &&
      by.getDouble(4) > 0.0)
  }

  test("acfByKey: an alternating series scores -1 at lag 1 and +1 at " +
       "lag 2, calendar gaps pair nothing instead of shifting") {
    import spark.implicits._
    def day(i: Int) = java.sql.Date.valueOf(
      java.time.LocalDate.of(2024, 1, 1).plusDays(i.toLong))
    val s = (0 until 10).map(i =>
      ("k", day(i), if (i % 2 == 0) 1L else 5L))
    val got = Stats.acfByKey(s.toDF("g", "d", "v"), "g", "d", "v",
        maxLag = 2)
      .orderBy("lag_days").collect()
      .map(r => (r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq === Seq((1, 9L, -1.0), (2, 8L, 1.0)))
    // remove day 5: lag-1 pairs (4,5) and (5,6) vanish — 7 pairs, not
    // a silently re-aligned 8
    val g2 = Stats.acfByKey(
        s.filterNot(_._2 == day(5)).toDF("g", "d", "v"),
        "g", "d", "v", maxLag = 1).collect().head
    assert(g2.getLong(2) === 7L)
  }

  test("mannKendall: strictly increasing scores S = n(n-1)/2 with the " +
       "no-tie variance, an all-tied series nulls z, a single-day key " +
       "still reports") {
    import spark.implicits._
    def day(i: Int) = java.sql.Date.valueOf(
      java.time.LocalDate.of(2024, 1, 1).plusDays(i.toLong))
    val s = (0 until 10).map(i => ("up", day(i), (i + 1).toLong)) ++
      (0 until 5).map(i => ("flat", day(i), 7L)) ++
      Seq(("one", day(0), 3L))
    val got = Stats.mannKendall(s.toDF("g", "d", "v"), "g", "d", "v")
      .orderBy("key").collect()
    val flat = got(0); val one = got(1); val up = got(2)
    // up: S = 45, var = 10*9*25/18 = 125, z = 44/sqrt(125)
    assert(up.getLong(2) === 45L && up.getDouble(3) === 125.0)
    assert(math.abs(up.getDouble(4) - 44.0 / math.sqrt(125.0)) < 1e-6)
    // flat: ties kill the variance entirely -> z null, S = 0
    assert(flat.getLong(2) === 0L && flat.getDouble(3) === 0.0 &&
      flat.isNullAt(4))
    // one day: no pairs — the key must still report (S=0), not vanish
    assert(one.getLong(1) === 1L && one.getLong(2) === 0L &&
      one.isNullAt(4))
  }

  test("fanoFactor: constant series disperses at 0, an alternating " +
       "0/2 series pins sample var/mean = 4/3, single points null") {
    import spark.implicits._
    val s = (Seq.fill(5)(("flat", 7L)) ++
      Seq(("alt", 0L), ("alt", 2L), ("alt", 0L), ("alt", 2L)) ++
      Seq(("one", 3L))).toDF("g", "v")
    val got = Stats.fanoFactor(s, "g", "v")
      .orderBy("key").collect()
      .map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(3)) null else r.getDouble(3),
        if (r.isNullAt(4)) null else r.getDouble(4)))
    def r6(v: Double) = math.round(v * 1e6) / 1e6
    assert(got.toSeq === Seq(
      ("alt", 4L, r6(4.0 / 3.0), r6(4.0 / 3.0)), // mean 1: fano = var
      ("flat", 5L, 0.0, 0.0),
      ("one", 1L, null, null)))
  }

  test("bootstrapDiffCI: separated arms give a degenerate CI at the " +
       "exact diff and flag significant, identical arms sit at 0 and " +
       "don't, replicates replay") {
    import spark.implicits._
    // weighted mean of a constant is the constant: every replicate
    // diff is exactly 4.0, so the percentile band collapses onto it
    val sep = ((0 until 6).map(i => (i.toLong * 2, 1.0)) ++
      (0 until 6).map(i => (i.toLong * 2 + 1, 5.0)))
      .toDF("event_id", "value")
    val g = Stats.bootstrapDiffCI(sep, col("event_id") % 2, "value",
      "event_id", b = 8).collect().head
    assert(g.getLong(0) === 6L && g.getLong(1) === 6L)
    assert(g.getDouble(2) === 4.0 && g.getDouble(3) === 4.0 &&
      g.getDouble(4) === 4.0 && g.getBoolean(5))
    val same = ((0 until 12).map(i => (i.toLong, 3.0)))
      .toDF("event_id", "value")
    val g2 = Stats.bootstrapDiffCI(same, col("event_id") % 2, "value",
      "event_id", b = 8).collect().head
    assert(g2.getDouble(2) === 0.0 && g2.getDouble(3) === 0.0 &&
      g2.getDouble(4) === 0.0 && !g2.getBoolean(5))
    assert(Stats.bootstrapDiffCI(sep, col("event_id") % 2, "value",
      "event_id", b = 8).collect().head === g, "hash weights replay")
  }

  test("dowSeasonalIndex: two full weeks with hot Mondays index at " +
       "exactly 1.75 vs 0.875, day coverage divides per weekday") {
    import spark.implicits._
    def day(i: Int) = java.sql.Date.valueOf(
      java.time.LocalDate.of(2024, 1, 1).plusDays(i.toLong)) // Jan 1 = Mon
    val s = (0 until 14).map(i =>
      ("k", day(i), if (i % 7 == 0) 20L else 10L))
    val got = Stats.dowSeasonalIndex(s.toDF("g", "d", "v"), "g", "d", "v")
      .orderBy("isodow").collect()
      .map(r => (r.getInt(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5)))
    def r6(v: Double) = math.round(v * 1e6) / 1e6
    val overall = 160.0 / 14.0
    assert(got(0) === ((1, 40L, 2L, 20.0, r6(20.0 / overall)))) // 1.75
    assert(got.drop(1).forall(t => t._2 === 20L && t._3 === 2L &&
      t._4 === 10.0 && t._5 === r6(10.0 / overall)))            // 0.875
  }

  test("locfGapfill: gaps flag and carry the last reading forward, the " +
       "spine is each key's OWN span, a single-day key emits one " +
       "gapless row") {
    import spark.implicits._
    def day(i: Int) = java.sql.Date.valueOf(
      java.time.LocalDate.of(2024, 1, 1).plusDays(i.toLong))
    val s = Seq(("k", day(1), 10L), ("k", day(2), 20L), ("k", day(5), 50L),
      ("solo", day(9), 7L)).toDF("g", "d", "v")
    val got = Stats.locfGapfill(s, "g", "d", "v")
      .orderBy("key", "day").collect()
      .map(r => (r.getString(0), r.getDate(1), r.getLong(2),
        r.getBoolean(3)))
    assert(got.toSeq === Seq(
      ("k", day(1), 10L, false), ("k", day(2), 20L, false),
      ("k", day(3), 20L, true), ("k", day(4), 20L, true),
      ("k", day(5), 50L, false),
      ("solo", day(9), 7L, false)))
  }
}

class BpeSpec extends SparkTestBase {

  /** The classic Sennrich corpus: low×5 lower×2 newest×6 widest×3 —
    * merge sequence hand-computed (and cross-checked against an
    * independent single-threaded reference implementation). */
  private def corpus = {
    import spark.implicits._
    val words =
      Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")
    Seq((1L, words.mkString(" "))).toDF("doc_id", "text")
  }

  test("train learns the classic merge sequence with deterministic " +
       "tie-breaks (count desc, pair asc)") {
    val (merges, vocab) = Bpe.train(corpus, "text", numMerges = 8)
    val got = merges.orderBy("rank").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSeq
    assert(got === Seq(
      (0, "e", "s", 9L), (1, "es", "t", 9L), (2, "est", "</w>", 9L),
      (3, "l", "o", 7L), (4, "lo", "w", 7L), (5, "e", "w", 6L),
      (6, "ew", "est</w>", 6L), (7, "n", "ewest</w>", 6L)))
    val seg = vocab.collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getInt(2))).toMap
    assert(seg("low") === (5L, 2))     // [low, </w>]
    assert(seg("lower") === (2L, 4))   // [low, e, r, </w>]
    assert(seg("newest") === (6L, 1))  // [newest</w>]
    assert(seg("widest") === (3L, 4))  // [w, i, d, est</w>]
  }

  test("train stops early when the corpus runs out of pairs") {
    import spark.implicits._
    val tiny = Seq((1L, "a a a")).toDF("doc_id", "text")
    // word 'a' = [a, </w>]: merge 0 fuses it; then no pairs remain
    val (merges, vocab) = Bpe.train(tiny, "text", numMerges = 10)
    assert(merges.count() === 1)
    assert(vocab.collect().head.getInt(2) === 1)
  }

  test("mergePair is greedy left-to-right non-overlapping; segment " +
       "replays ranks in order and matches the trained vocab") {
    assert(Bpe.mergePair(Seq("a", "a", "a"), "a", "a") === Seq("aa", "a"))
    assert(Bpe.mergePair(Seq("x", "a", "b", "a", "b"), "a", "b") ===
      Seq("x", "ab", "ab"))
    val (merges, vocab) = Bpe.train(corpus, "text", numMerges = 8)
    val ranked = merges.orderBy("rank").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    vocab.collect().foreach { r =>
      assert(Bpe.segment(r.getString(0), ranked).size === r.getInt(2),
        s"word ${r.getString(0)}")
    }
    // unseen word segments with the same model: "lowest" -> low est</w>
    assert(Bpe.segment("lowest", ranked) === Seq("low", "est</w>"))
  }

  test("tokenCounts joins the vocab by key and sums per document") {
    import spark.implicits._
    val docs = Seq((1L, "low lower"), (2L, "newest newest widest"),
                   (3L, "   ")).toDF("doc_id", "text")
    val (_, vocab) = Bpe.train(corpus, "text", numMerges = 8)
    val out = Bpe.tokenCounts(docs, "doc_id", "text", vocab)
      .orderBy("id").collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ===
      Seq((1L, 2L, 6L),   // low(2) + lower(4)
          (2L, 3L, 6L)))  // newest(1)*2 + widest(4); doc 3 has no tokens
  }

  test("tier parity: driver-local training == distributed training " +
       "(merges AND final segmentations), Sennrich + messy corpora") {
    import spark.implicits._
    val messy = Seq(
      (1L, "аа ааб ааб la-la la-la la-la!! … …"),
      (2L, "ааб test, test, test… la-la"),
      (3L, "aaa aa aaa aa aaa")).toDF("doc_id", "text")
    for (df <- Seq(corpus, messy); n <- Seq(3, 8, 40)) {
      // local tier (default)
      val ((lm, lv), gD) = gatesOf(Bpe.train(df, "text", n))
      val ((dm, dv), gX) = gatesOf(
        withConf("spark.graft.gate.bpe" -> "0")(Bpe.train(df, "text", n)))
      assert(gD === Map("bpe" -> (1L, 0L)), s"default gate: local at n=$n")
      assert(gX === Map("bpe" -> (0L, 1L)), s"gate 0: distributed at n=$n")
      assert(lm.orderBy("rank").collect().toSeq ===
        dm.orderBy("rank").collect().toSeq, s"merges diverge at n=$n")
      assert(lv.orderBy("w").collect().toSeq ===
        dv.orderBy("w").collect().toSeq, s"vocab diverges at n=$n")
    }
  }

  test("tie-breaks follow UTF-8 binary order in BOTH tiers — a " +
       "UTF-16-code-unit comparator would invert U+FF5E vs " +
       "supplementary-plane ties") {
    import spark.implicits._
    // words '～x' and '😀x', once each: merge 0 fuses (x, </w>) count 2;
    // merge 1 ties at count 1 between (～, x</w>) and (😀, x</w>).
    // UTF-8 bytes: ～ = EF BD 9E < F0 9F 98 80 = 😀 (～ wins, as Spark's
    // orderBy and DuckDB collate); UTF-16 code units: 😀's surrogate
    // 0xD83D < 0xFF5E (😀 would win) — the divergence under test.
    val df = Seq((1L, "～x 😀x")).toDF("doc_id", "text")
    def got(m: org.apache.spark.sql.DataFrame) =
      m.orderBy("rank").collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
        .toSeq
    val (l, gD) = gatesOf(got(Bpe.train(df, "text", 2)._1))
    val (d, gX) = gatesOf(withConf("spark.graft.gate.bpe" -> "0")(
      got(Bpe.train(df, "text", 2)._1)))
    assert(gD === Map("bpe" -> (1L, 0L)), "default gate: local")
    assert(gX === Map("bpe" -> (0L, 1L)), "gate 0: distributed")
    assert(l === d)
    assert(l(1)._2 === "～", "UTF-8 order must pick U+FF5E first")
  }

  test("a threshold smaller than the vocab falls through to the " +
       "distributed tier with identical results") {
    val ((lm, _), gD) = gatesOf(Bpe.train(corpus, "text", 8))
    val ((dm, _), gX) = gatesOf(withConf("spark.graft.gate.bpe" -> "2")(
      Bpe.train(corpus, "text", 8)))
    assert(gD === Map("bpe" -> (1L, 0L)), "default gate: local")
    assert(gX === Map("bpe" -> (0L, 1L)), "gate 2: distributed")
    assert(lm.orderBy("rank").collect().toSeq ===
      dm.orderBy("rank").collect().toSeq)
  }

  test("an empty corpus: size 0 takes the distributed tier, which " +
       "returns the local tier's columns and types and no rows") {
    import spark.implicits._
    import org.apache.spark.sql.types.{IntegerType, LongType, StringType}
    val docs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val ((m, v), g) = gatesOf(Bpe.train(docs, "text", 3))
    assert(g === Map("bpe" -> (0L, 1L)))
    assert(m.schema.map(f => f.name -> f.dataType) ===
      Seq("rank" -> IntegerType, "left_sym" -> StringType,
        "right_sym" -> StringType, "pair_count" -> LongType))
    assert(v.schema.map(f => f.name -> f.dataType) ===
      Seq("w" -> StringType, "f" -> LongType, "n_tokens" -> IntegerType))
    assert(m.isEmpty && v.isEmpty)
  }
}
