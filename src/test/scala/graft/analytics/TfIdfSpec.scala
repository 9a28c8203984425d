package graft.analytics

import org.apache.spark.sql.functions._
import graft.SparkTestBase

class TfIdfSpec extends SparkTestBase {

  test("termWeights: tf counts, df across docs, integer reciprocal-df weight") {
    import spark.implicits._
    val docs = Seq((1L, "cat cat dog"), (2L, "dog fish")).toDF("doc_id", "text")
    val w = TfIdf.termWeights(docs, "doc_id", "text", scale = 1000)
      .orderBy("doc", "term").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(w.toSeq === Seq(
      (1L, "cat", 2L, 1L, 2000L),  // tf=2, df=1 -> 2000
      (1L, "dog", 1L, 2L, 500L),   // tf=1, df=2 -> 500
      (2L, "dog", 1L, 2L, 500L),
      (2L, "fish", 1L, 1L, 1000L)))
  }

  test("classify: separable corpus classifies held-out docs correctly") {
    import spark.implicits._
    val docs = Seq(
      (1L, "spark shuffle executor partition", "tech"),
      (2L, "executor partition codegen spark", "tech"),
      (3L, "sonata violin orchestra tempo", "music"),
      (4L, "tempo orchestra opera violin", "music"),
      // held-out queries:
      (10L, "spark partition pipeline", "tech"),
      (11L, "violin opera concert", "music"))
      .toDF("doc_id", "text", "label")
    val weights = TfIdf.termWeights(docs, "doc_id", "text")
    val cents = TfIdf.classCentroids(
      weights.filter($"doc" < 10), docs.filter($"doc_id" < 10), "doc_id", "label")
    val out = TfIdf.classify(weights.filter($"doc" >= 10), cents)
      .orderBy("doc").collect()
    assert(out.map(_.getAs[String]("predicted")).toSeq === Seq("tech", "music"))
    // unseen query terms (df=1, high self-weight) deflate the cosine;
    // correctness of the argmax is the contract, magnitude just positive
    assert(out.forall(_.getAs[Double]("cos_sim") > 0.0))
  }

  test("classify tie-break is deterministic: cos desc then label asc") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta", "a"), (2L, "alpha beta", "b"), // identical centroids
      (10L, "alpha beta", "q"))
      .toDF("doc_id", "text", "label")
    val weights = TfIdf.termWeights(docs, "doc_id", "text")
    val cents = TfIdf.classCentroids(
      weights.filter($"doc" < 10), docs.filter($"doc_id" < 10), "doc_id", "label")
    val out = TfIdf.classify(weights.filter($"doc" === 10), cents).collect()
    assert(out.head.getAs[String]("predicted") === "a")
  }

  test("pairwiseCosine: identical docs score 1.0, disjoint docs are absent") {
    import spark.implicits._
    val docs = Seq(
      (1L, "red fish blue fish"), (2L, "red fish blue fish"),
      (3L, "entirely different words here")).toDF("doc_id", "text")
    val w = TfIdf.termWeights(docs, "doc_id", "text")
    val out = TfIdf.pairwiseCosine(w, minCosine = 0.1).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(out.keySet === Set((1L, 2L)))
    assert(math.abs(out((1L, 2L)) - 1.0) < 1e-9)
  }

  test("decontaminate with an empty eval set returns no pairs") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val docs = Seq((1L, "a b c d e"), (2L, "a b c d e")).toDF("doc_id", "text")
    val out = Dedup.decontaminate(docs, "doc_id", "text",
      evalPred = lit(false), n = 3, minShared = 1)
    assert(out.count() === 0L)
  }
}

class HashingTfSpec extends SparkTestBase {

  test("hashingTf buckets by md5[0:8] mod dim, counts per bucket, and " +
       "emits nothing for token-free docs") {
    import spark.implicits._
    val docs = Seq((1L, "alpha alpha beta"), (2L, "  ")).toDF("doc_id", "text")
    val out = TfIdf.hashingTf(docs, "doc_id", "text", dim = 8)
      .orderBy("id", "bucket").collect()
    def bucket(w: String): Int = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(w.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
      (java.lang.Long.parseLong(hex, 16) % 8).toInt
    }
    val expected = Seq(("alpha", 2L), ("beta", 1L))
      .groupBy { case (w, _) => bucket(w) }
      .view.mapValues(_.map(_._2).sum).toMap
    assert(out.map(r => r.getInt(1) -> r.getLong(2)).toMap === expected)
    assert(out.forall(_.getLong(0) === 1L)) // doc 2 absent
  }
}
