package graft.analytics

import org.apache.spark.sql.functions._

import graft.SparkTestBase

class SelectionSpec extends SparkTestBase {

  test("dsirWeights: target-like docs score higher, empty docs null, " +
       "deterministic") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha alpha alpha beta", true),
      (2L, "alpha alpha alpha alpha", true),
      (3L, "gamma gamma delta delta", false),
      (4L, "gamma delta gamma delta", false),
      (5L, "alpha alpha gamma", false), // raw doc that LOOKS like target
      (6L, "", false)
    ).toDF("doc_id", "text", "is_en")
    val w = Selection.dsirWeights(docs, "doc_id", "text", $"is_en")
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(w(6L).isEmpty, "empty doc must weigh null")
    // target vocabulary (alpha) dominates docs 1/2/5; raw-only vocabulary
    // (gamma/delta) dominates 3/4 — the ratio model must rank them apart
    assert(w(2L).get > w(3L).get && w(1L).get > w(4L).get,
      s"target-like docs must outweigh raw-only docs: $w")
    assert(w(5L).get > w(3L).get,
      "a raw doc using target vocabulary still scores above raw-only text")
    val again = Selection.dsirWeights(docs, "doc_id", "text", $"is_en")
      .collect().map(r => r.getLong(0)).toSet
    assert(again === w.keySet)
  }

  test("mixCorpus: oversubscribed stratum keeps all, unlisted drops, " +
       "rates derive from counts") {
    import spark.implicits._
    val docs = (0L until 300L).map(i =>
        (i, if (i < 20) "a" else if (i < 120) "b" else "c"))
      .toDF("doc_id", "source")
    // budget 100: a wants 100*0.5=50 > 20 -> rate 1 (all 20 kept);
    // b wants 100*0.3=30 of 100 -> rate 0.3; c unlisted -> dropped
    val out = Selection.mixCorpus(docs, "doc_id", "source",
      Map("a" -> 0.5, "b" -> 0.3), budget = 100L)
    val bySrc = out.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySrc("a") === 20L, "rate clamps at 1: whole stratum kept")
    assert(!bySrc.contains("c"), "unlisted stratum must drop")
    assert(bySrc("b") > 10 && bySrc("b") < 50,
      s"~30% of 100 expected, got ${bySrc.get("b")}")
    val rates = out.select("source", "rate").distinct().collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(rates("a") === 1.0 && rates("b") === 0.3)
  }

  test("hashedNaiveBayes: disjoint vocab separates classes; empty doc " +
       "scores prior-only; every row classifies") {
    import spark.implicits._
    val docs = Seq(
      (1L, "apple apple banana apple", "fruit"),
      (2L, "banana apple apple", "fruit"),
      (3L, "apple banana banana apple", "fruit"),
      (4L, "iron copper iron zinc", "metal"),
      (5L, "zinc iron copper copper", "metal"),
      (6L, "", "fruit")
    ).toDF("doc_id", "text", "lang")
    val out = TfIdf.hashedNaiveBayes(docs, "doc_id", "text", "lang")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out.size === 6, "every input row must classify")
    for (id <- Seq(1L, 2L, 3L)) assert(out(id) === "fruit", s"doc $id")
    for (id <- Seq(4L, 5L)) assert(out(id) === "metal", s"doc $id")
    // empty doc: prior-only -> the majority class (4 fruit vs 2 metal)
    assert(out(6L) === "fruit")
  }

  test("removeRepeatedSpans: covered tokens vanish everywhere, unique " +
       "content survives, short/empty docs pass through") {
    import spark.implicits._
    val boiler = "subscribe to our newsletter for more"
    val docs = Seq(
      (1L, s"unique alpha words $boiler trailing bits"),
      (2L, s"$boiler and other original content here"),
      (3L, s"middle text $boiler"),
      (4L, "totally original document nothing shared at all"),
      (5L, "tiny doc"), (6L, "")
    ).toDF("doc_id", "text")
    val out = Dedup.removeRepeatedSpans(docs, "doc_id", "text",
        spanLen = 5, minDocFreq = 3)
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getLong(2), r.getLong(3))).toMap
    for (id <- Seq(1L, 2L, 3L)) {
      val (txt, _, removed) = out(id)
      assert(!txt.contains("newsletter"),
        s"doc $id kept boilerplate: '$txt'")
      assert(removed >= 6L, s"doc $id removed only $removed")
    }
    assert(out(1L)._1.startsWith("unique alpha words"))
    assert(out(2L)._1.endsWith("original content here"))
    assert(out(4L) === (("totally original document nothing shared at all",
      7L, 0L)))
    assert(out(5L) === (("tiny doc", 2L, 0L)), "short doc untouched")
    assert(out(6L) === (("", 0L, 0L)), "empty doc passes through")
  }

  test("contaminationScore: overlap counts and fractions are exact; " +
       "eval docs are excluded; shingle-less train docs score 0/null") {
    import spark.implicits._
    val docs = Seq(
      (0L, "the quick brown fox jumps over dogs"), // eval (id%2=0)
      (1L, "the quick brown fox sat here today"),  // shares 2 shingles
      (3L, "completely different words entirely here now"),
      (5L, "ab")                                   // < 3 tokens
    ).toDF("doc_id", "text")
    val out = Dedup.contaminationScore(docs, "doc_id", "text",
        evalPred = $"doc_id" % 2 === 0, n = 3)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2),
         if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    assert(!out.contains(0L), "eval docs are not scored")
    // doc 1 shingles: 5 total; "the quick brown" + "quick brown fox" hit
    assert(out(1L)._1 === 5L && out(1L)._2 === 2L)
    assert(out(1L)._3.contains(0.4))
    assert(out(3L)._2 === 0L && out(3L)._3.contains(0.0))
    assert(out(5L) === ((0L, 0L, None)), "no shingles -> 0/0/null")
  }

  test("crossGroupNearDupMatrix: duplicate docs across sources roll up " +
       "to the unordered source pair") {
    import spark.implicits._
    val dup = "alpha beta gamma delta epsilon zeta eta theta"
    val docs = Seq(
      (1L, dup, "sA"), (2L, dup, "sB"), (3L, dup, "sB"),
      (4L, "totally unrelated content words here all different", "sC")
    ).toDF("doc_id", "text", "source")
    val out = Dedup.crossGroupNearDupMatrix(docs, "doc_id", "text",
        "source", minEstimate = 0.9)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    assert(out === Map(("sA", "sB") -> 2L, ("sB", "sB") -> 1L),
      s"got $out")
  }

  test("winnowFingerprints: native kernel matches the composed HOF " +
       "reference on edge cases and longer texts") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val words = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta")
    val docs = (Seq(
      (1L, ""), (2L, "   "), (3L, "one two three"), (4L, "a b c d"),
      (5L, "a b c d e"), (6L, "x x x x x x x x"),
      (7L, "Tabs\tand  MIXED   Case words here repeated words here")
    ) ++ Seq(
      (21L, "Съешь ЕЩЁ этих мягких французских булок да выпей же чаю"),
      (22L, "数据 处理 引擎 数据 处理 引擎 数据 处理"),
      (23L, "mixed ASCII и кириллица and 中文 tokens punctuation, too!"),
      (24L, "ÅNGSTRÖM Straße İstanbul ﬁ ligature MIXED ümlaut")
    ) ++ (8L to 20L).map(i =>
      (i, Seq.fill(5 + rnd.nextInt(60))(words(rnd.nextInt(6))).mkString(" "))
    )).toDF("doc_id", "text")
    for ((k, w) <- Seq((4, 4), (3, 5), (1, 1), (2, 7))) {
      val native = Dedup.winnowFingerprints(docs, "doc_id", "text", k, w)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val composed = Dedup.winnowFingerprintsComposed(
          docs, "doc_id", "text", k, w)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(native === composed, s"k=$k w=$w")
    }
  }

  test("winnowFingerprints: short docs, single-window docs, and the " +
       "shared-run guarantee") {
    import spark.implicits._
    val run = "one two three four five six seven" // 7 tokens: w+k-1 with k=w=4
    val docs = Seq(
      (1L, "a b c"),                       // 3 tokens < k=4 -> nothing
      (2L, "a b c d"),                     // 1 gram -> 1 window -> 1 fp
      (3L, s"left filler $run"),
      (4L, s"$run right trailing words here")
    ).toDF("doc_id", "text")
    val fp = Dedup.winnowFingerprints(docs, "doc_id", "text", k = 4, w = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val byDoc = fp.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(!byDoc.contains(1L), "doc shorter than k emits nothing")
    assert(byDoc(2L).size === 1, "m < w emits exactly the global min")
    // any shared token run of length >= w+k-1 shares >= 1 fingerprint
    assert((byDoc(3L) & byDoc(4L)).nonEmpty,
      s"docs sharing a ${4 + 4 - 1}-token run must share a fingerprint")
    // selected fingerprints are a subset of each doc's own k-gram hashes
    assert(byDoc(3L).size <= 9, "cannot select more fps than k-grams")
  }

  test("logregTrain/logregScore split: the parquet-persisted model " +
       "artifact reproduces logregQuality exactly and scores a shard " +
       "it never trained on") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rows = (0L until 40L).map { i =>
      if (i % 2 == 0) (i, "good clean prose text here", 1)
      else (i, "spam junk garbage noise blob", 0)
    }
    val docs = rows.toDF("doc_id", "text", "y")
    val dir = java.nio.file.Files.createTempDirectory("graft_lrmodel")
    dir.toFile.deleteOnExit()
    val path = dir.resolve("model").toString
    Selection.logregTrain(docs, "doc_id", "text", col("y") === 1,
      dim = 64, iters = 10).write.mode("overwrite").parquet(path)
    val model = spark.read.parquet(path)
    val viaArtifact = Selection.logregScore(model, docs, "doc_id", "text",
        col("y") === 1, dim = 64)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val direct = Selection.logregQuality(docs, "doc_id", "text",
        col("y") === 1, dim = 64, iters = 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(viaArtifact === direct,
      "persisted model must reproduce train-and-score exactly")
    // probe a shard the model never saw: new spam-like doc scores low,
    // new prose-like doc scores high (TRAINING stats standardize it)
    val fresh = Seq((1000L, "good clean prose text here", 1),
      (1001L, "spam junk garbage noise blob", 0)).toDF("doc_id", "text", "y")
    val probed = Selection.logregScore(model, fresh, "doc_id", "text",
        col("y") === 1, dim = 64)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(probed(1000L) > probed(1001L),
      s"unseen prose ${probed(1000L)} must outscore unseen spam ${probed(1001L)}")
  }

  test("logregQuality: separable corpus learns the boundary, empty doc " +
       "rides the bias, deterministic across partitionings") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // positives say 'good', negatives say 'spam' — linearly separable
    // in hashed-unigram space
    val rows = (0L until 40L).map { i =>
      if (i % 2 == 0) (i, "good clean prose text here", 1)
      else (i, "spam junk garbage noise blob", 0)
    } :+ (99L, "", 1)
    val docs = rows.toDF("doc_id", "text", "y")
    val out = Selection.logregQuality(docs, "doc_id", "text",
        col("y") === 1, dim = 64, iters = 10)
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(2), r.getBoolean(3))).toMap
    val posScores = (0L until 40L by 2).map(out(_)._1)
    val negScores = (1L until 40L by 2).map(out(_)._1)
    assert(posScores.min > negScores.max,
      s"separable data must separate: pos ${posScores.min} " +
        s"vs neg ${negScores.max}")
    assert(out(0L)._2 && !out(1L)._2, "keep tracks the 0.5 threshold")
    // the all-identical-feature empty doc gets the bias-only score
    assert(out.contains(99L), "token-free doc must still be scored")
    // partition invariance: round-6 gradient fixed-point kills sum-order
    // sensitivity
    val again = Selection.logregQuality(docs.repartition(7), "doc_id",
        "text", col("y") === 1, dim = 64, iters = 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert((0L until 40L).forall(i => again(i) === out(i)._1),
      "scores must be identical under a different partitioning")
  }

  test("logreg model cache: a second consumer with the same input plan, " +
       "label, and hyperparams hits the session memo and scores " +
       "identically") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rows = (0L until 30L).map { i =>
      if (i % 2 == 0) (i, "good clean prose text here", 1)
      else (i, "spam junk garbage noise blob", 0)
    }
    val docs = rows.toDF("doc_id", "text", "y")
    // distinct hyperparams from every other test so this key is fresh
    val first = Selection.logregQuality(docs, "doc_id", "text",
        col("y") === 1, dim = 32, iters = 7)
      .orderBy("id").collect().map(_.toString).toSeq
    val before = Selection.logregModels.hits.get()
    val second = Selection.logregQuality(docs, "doc_id", "text",
        col("y") === 1, dim = 32, iters = 7)
      .orderBy("id").collect().map(_.toString).toSeq
    assert(Selection.logregModels.hits.get() == before + 1,
      "second identical consumer must hit the model cache")
    assert(second == first, "cached model must score bit-identically")
    // a train-consumer with the same key rides the same memo
    val model = Selection.logregTrain(docs, "doc_id", "text",
      col("y") === 1, dim = 32, iters = 7)
    assert(Selection.logregModels.hits.get() == before + 2,
      "logregTrain with the same key must also hit")
    assert(model.count() == 33)
    // different hyperparams miss: the key carries them
    Selection.logregQuality(docs, "doc_id", "text",
      col("y") === 1, dim = 32, iters = 8).collect()
    assert(Selection.logregModels.hits.get() == before + 2,
      "a different iteration count must be a cache miss")
    // the label keys on its RESOLVED expression, not its string form:
    // an int- vs long-literal predicate prints identically ("(y = 1)")
    // but differs structurally (the analyzed plan carries the cast) —
    // it must MISS, never collide
    Selection.logregQuality(docs, "doc_id", "text",
      col("y") === 1L, dim = 32, iters = 7).collect()
    assert(Selection.logregModels.hits.get() == before + 2,
      "a structurally different label must be a cache miss")
    // explicit invalidation (the in-place-overwrite escape hatch)
    // forces the next identical consumer to retrain
    Selection.logregModels.invalidate()
    Selection.logregQuality(docs, "doc_id", "text",
      col("y") === 1, dim = 32, iters = 7).collect()
    assert(Selection.logregModels.hits.get() == before + 2,
      "invalidate must clear the memo")
  }

  test("woeBuckets: a perfectly separating feature posts symmetric " +
       "smoothed WOE, negative values bucket by FLOOR not truncation, " +
       "informative buckets contribute positive IV") {
    import spark.implicits._
    val df = (Seq.fill(4)((-0.5, 0L)) ++ Seq.fill(4)((0.5, 1L)))
      .toDF("x", "y")
    val got = Selection.woeBuckets(df, col("x"), col("y"))
      .orderBy("bucket").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5)))
    // smoothed: woe = ln((0.5/4)/(4.5/4)) = -ln 9 on the pure-neg
    // bucket, +ln 9 on the pure-pos one; both IVs = +ln 9
    val w = math.log(9.0)
    def r6(v: Double) = math.round(v * 1e6) / 1e6
    assert(got.toSeq === Seq(
      // floor(-500/200) = -3: truncation toward zero would say -2
      (-3L, 4L, 0L, 4L, r6(-w), r6(w)),
      (2L, 4L, 4L, 0L, r6(w), r6(w))))
  }

  test("decileLift: top deciles capture the positives (lift = 1/base " +
       "rate), cumulative gains reach 1, tied scores share a decile " +
       "instead of splitting on row order") {
    import spark.implicits._
    // scores 1..20, positives at the top 4: deciles 0/1 are pure
    val df = (1 to 20).map(i => (i.toDouble, if (i >= 17) 1L else 0L))
      .toDF("x", "y")
    val got = Selection.decileLift(df, col("x"), col("y"))
      .orderBy("decile").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5)))
    assert(got.length === 10)
    assert(got(0) === ((0L, 2L, 2L, 1.0, 5.0, 0.5)))
    assert(got(1) === ((1L, 2L, 2L, 1.0, 5.0, 1.0)))
    assert(got(9)._3 === 0L && got(9)._5 === 0.0 && got(9)._6 === 1.0)
    // one distinct score: every row lands in ONE decile — a row-rank
    // split would scatter them by arbitrary order
    val g2 = Selection.decileLift(Seq.fill(20)((5.0, 1L)).toDF("x", "y"),
      col("x"), col("y")).collect()
    assert(g2.length === 1 && g2.head.getLong(0) === 0L &&
      g2.head.getLong(1) === 20L)
  }
}
