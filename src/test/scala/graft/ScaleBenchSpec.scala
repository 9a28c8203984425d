package graft

import graft.queries.{Catalog, Tables}
import graft.sources.FileTree
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll

/** The scaled tables ScaleBench runs the catalog over: x1 is the
  * verified input, copies are content-disjoint, joins keep their
  * per-copy fan-out, and the hand-wired entries track the catalog. */
class ScaleBenchSpec extends SparkTestBase with BeforeAndAfterAll {

  private val base = "/root/testdata/sf0.001"
  private lazy val tmp = java.nio.file.Files.createTempDirectory("graft_scale_spec")
  private lazy val x1 = {
    val d = tmp.resolve("x1").toString
    ScaleBench.writeScaled(spark, base, d, 1, Set.empty); d
  }
  private lazy val x2 = {
    val d = tmp.resolve("x2").toString
    ScaleBench.writeScaled(spark, base, d, 2, ScaleBench.fixtures); d
  }

  override def afterAll(): Unit = FileTree.delete(tmp)

  private def rows(q: String, dir: String): Seq[String] =
    Catalog.byName(q).run(spark, dir).collect().map(_.toString).toSeq.sorted

  test("x1 yields the base rows for representative catalog queries") {
    for (q <- Seq("q01_multivalue_dedup", "q02_category_path",
                  "q19_minhash_lsh", "q30_tfidf_classify",
                  "q189_attribution", "q262_equal_freq_bins"))
      assert(rows(q, x1) === rows(q, base), q)
  }

  test("x2 doubles every non-dimension table with disjoint keys, " +
       "disjoint token sets, and dimension tables copied once") {
    val keys = Map("customer" -> "c_custkey", "documents" -> "doc_id",
      "embeddings" -> "vec_id", "events" -> "event_id",
      "lineitem" -> "l_orderkey", "orders" -> "o_orderkey",
      "part" -> "p_partkey", "supplier" -> "s_suppkey",
      "nation" -> "n_nationkey", "region" -> "r_regionkey")
    assert(keys.keySet === ScaleBench.tableNames.toSet)
    for ((t, key) <- keys) {
      val b = Tables(spark, base, t)
      val s = Tables(spark, x2, t)
      val f = if (t == "nation" || t == "region") 1 else 2
      assert(s.count() === f * b.count(), t)
      assert(s.select(key).distinct().count() ===
        f * b.select(key).distinct().count(), s"$t.$key")
    }
    val toks = Tables(spark, x2, "documents")
      .select((col("doc_id") >= 10000000L).as("copy"),
        explode(analytics.Dedup.tokens(col("text"))).as("w"))
      .distinct()
    val shared = toks.groupBy("w").agg(countDistinct("copy").as("n"))
      .filter(col("n") > 1).count()
    assert(shared === 0, "copies must not share a token")
    assert(Tables(spark, x2, "documents")
      .filter(col("n_chars") =!= length(col("text"))).count() === 0)
  }

  test("x2 keeps exactly 2x the base lineitem-orders and " +
       "lineitem-part join cardinality") {
    def joins(dir: String) = {
      val li = Tables(spark, dir, "lineitem")
      (li.join(Tables(spark, dir, "orders"),
          col("l_orderkey") === col("o_orderkey")).count(),
       li.join(Tables(spark, dir, "part"),
          col("l_partkey") === col("p_partkey")).count())
    }
    val (o, p) = joins(base)
    assert(o > 0 && p > 0)
    assert(joins(x2) === ((2 * o, 2 * p)))
  }

  test("every override names a catalog entry (plus a named stress " +
       "fixture), and runs over the x2 tables") {
    val catalog = Catalog.byName
    for ((name, run) <- ScaleBench.overrides) {
      val Array(q, fx @ _*) = name.split('@')
      assert(catalog.contains(q), s"$name: no catalog entry $q")
      assert(fx.forall(ScaleBench.fixtures), s"$name: unknown fixture")
      assert(run(spark, x2, 2).count() >= 0, name)
    }
  }
}
