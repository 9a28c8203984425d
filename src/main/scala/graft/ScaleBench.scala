package graft

import graft.analytics.{Cluster, Events, Graph, Memo, Par, Similarity, Stats}
import graft.queries.{Catalog, Tables}
import graft.sources.FileTree

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Scaling-curve harness (evidence for SCALE.md; not run by the driver):
  * runs CATALOG entries — the same oracle-verified wiring Verify and
  * Bench run — over k content-disjoint copies of all ten testdata tables.
  *
  * For each k it writes `<tmp>/x<k>/<table>.parquet`, then per query
  * times `Catalog.byName(q).run(spark, dir).count()` (Bench's timed op)
  * once cold (after `Memo.invalidateAll()` and a block drop) and once
  * warm, printing one JSON line per (k, cpus, query):
  * `{"k","cpus","query","rows","cold_s","warm_s","error","gates","sf"}`,
  * where `gates` counts the size-gate decisions of both runs
  * (`Par.gateStats`, gates that decided only).
  *
  * Copy 0 is the base rows unchanged, so x1 is exactly the verified
  * input. Copy i > 0 shifts every key, primary and foreign alike
  * (orderkey, partkey, suppkey, custkey, doc/vec/event/user ids), so
  * joins keep their per-copy fan-out; prefixes every document token
  * (`c<i>_`) so term and shingle spaces are disjoint; flips embedding
  * signs by a per-copy ±1 pattern; and moves events +64 days per copy.
  * `nation` and `region` are dimensions: one copy at every k.
  *
  * Only [[overrides]] is hand-wired: parameters that must grow with the
  * corpus to keep the operator's contract, and named stress fixtures.
  *
  * Usage: SPARK_GRAFT_SF_DIR=<testdata>/sf0.1 SPARK_GRAFT_SCALE_KS=1,3,10
  *   runMain graft.ScaleBench [query ...]   (no names: the whole catalog
  *   plus every stress entry; SPARK_GRAFT_CONF passes session confs, e.g.
  *   spark.graft.gate.cumsum=0 to time a distributed branch)
  *
  * Subcommand `split <feed.xml>`: throughput comparison of the S2
  * distributed element splitter vs the native multiLine scan on a
  * large single-file feed (the SCALE.md splitter-vs-multiLine row).
  */
object ScaleBench {

  /** Manual splitter-vs-native comparison (formerly its own main). */
  private def splitBench(spark: SparkSession, path: String): Unit = {
    def time(name: String)(f: => Long): Unit = {
      val t0 = System.nanoTime(); val n = f
      println(f"[splitbench] $name%-28s ${(System.nanoTime() - t0) / 1e9}%6.1fs  rows=$n")
    }
    // warm the JVM/codegen on a small read first
    spark.read.text(path).limit(10).count()
    time("readSplit (distributed)") {
      sources.XmlSource.readSplit(spark, path, sources.XmlSource.Yml).count()
    }
    time("multiLine (single-core)") {
      spark.read.format("xml")
        .option("rowTag", "offer")
        .option("attributePrefix", sources.XmlSource.AttrPrefix)
        .option("valueTag", sources.XmlSource.ValueTag)
        .option("ignoreSurroundingSpaces", "true")
        .load(path).count()
    }
  }

  private[graft] val tableNames = Seq("customer", "documents", "embeddings",
    "events", "lineitem", "nation", "orders", "part", "region", "supplier")
  private val dimensions = Set("nation", "region")

  /** Copy i of a testdata table (copy 0 = the base rows unchanged). */
  private def copyOf(base: DataFrame, table: String, i: Int,
                     dim: Int): DataFrame = if (i == 0) base else {
    def shift(stride: Long)(c: String) = c -> (col(c) + lit(i * stride))
    val tpch = shift(100000000L) _
    val repl: Map[String, Column] = (table match {
      case "documents" =>
        val text = regexp_replace(col("text"), "(\\S+)", s"c${i}_$$1")
        Seq(shift(10000000L)("doc_id"), "text" -> text,
          "n_chars" -> length(text).cast("long"))
      case "embeddings" =>
        // norm-preserving, and two different patterns decorrelate any
        // pair of vectors — a circular shift would not (smooth embeddings
        // autocorrelate under shifts, inflating cross-copy LSH pairs)
        val signs: Seq[Float] = (0 until dim).map { j =>
          val d = java.security.MessageDigest.getInstance("MD5")
            .digest(s"copy$i|$j".getBytes("UTF-8"))
          if ((d(0) & 1) == 0) 1.0f else -1.0f
        }
        Seq(shift(10000000L)("vec_id"), "embedding" ->
          zip_with(col("embedding"), typedLit(signs), (x, s) => x * s))
      case "events" =>
        // the base feed spans ~30 days, so copies occupy disjoint hours
        Seq(shift(1000000000L)("event_id"), shift(1000000L)("user_id"),
          "ts" -> (col("ts") + expr(s"INTERVAL ${i * 64} DAYS")))
      case "lineitem" => Seq("l_orderkey", "l_partkey", "l_suppkey").map(tpch)
      case "orders"   => Seq("o_orderkey", "o_custkey").map(tpch)
      case "part"     => Seq(tpch("p_partkey"))
      case "supplier" => Seq(tpch("s_suppkey"))
      case "customer" => Seq(tpch("c_custkey"))
    }).toMap
    base.select(base.columns.toSeq.map(c => repl.getOrElse(c, col(c)).as(c)): _*)
  }

  /** Write the k-copy tables of `sfDir` into `dir`, plus the named stress
    * fixtures asked for (`hub`, `hot`; `biggrid` needs no file). */
  private[graft] def writeScaled(spark: SparkSession, sfDir: String,
                                 dir: String, k: Int,
                                 fixtures: Set[String]): Unit = {
    for (t <- tableNames) {
      val base = Tables(spark, sfDir, t)
      val dim = if (t == "embeddings")
        base.select(size(col("embedding"))).head().getInt(0) else 0
      (0 until (if (dimensions(t)) 1 else k)).map(copyOf(base, t, _, dim))
        .reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
    if (fixtures("hub")) {
      // hub-heavy pair graph over the scaled doc ids: one hub node of
      // degree n (the boilerplate-template shape) plus a ring over the
      // leaves so triangles exist (hub-leaf_i-leaf_{i+1})
      val idx = Tables(spark, dir, "documents").select(col("doc_id"),
        row_number().over(Window.orderBy("doc_id")).as("i"))
      val star = idx.select(lit(-1L).as("a"), col("doc_id").as("b"))
      val ring = idx.select(col("i"), col("doc_id").as("a"))
        .join(idx.select((col("i") - 1).as("i"), col("doc_id").as("b")),
          Seq("i"))
        .select("a", "b")
      star.union(ring).write.mode("overwrite").parquet(s"$dir/hub.parquet")
    }
    if (fixtures("hot")) {
      // k UNSHIFTED copies (same ts, same user): per-user in-window touch
      // density grows k-fold, so user-keyed join volume grows ~k^2 — the
      // bot-user tail a per-conversion candidate bound can't cap
      val ev = Tables(spark, sfDir, "events")
      (0 until k).map(i => ev.withColumn("event_id",
          col("event_id") + lit(i * 1000000000L)))
        .reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$dir/hot.parquet")
    }
  }

  private type Run = (SparkSession, String, Int) => DataFrame

  /** The only hand-wired entries: `qNNN_name` replaces that catalog
    * entry's parameters with ones that grow with k; `qNNN_name@fixture`
    * runs that entry's operator over a named stress fixture. */
  private[graft] val overrides: Seq[(String, Run)] = Seq(
    // signature bits scale with log2(n): a FIXED bit width saturates
    // (buckets per band are constant, so chance candidates grow n²/2^b)
    "q59_lsh_neardup" -> ((s, d, k) => Similarity.lshNearDupPairs(
      Tables(s, d, "embeddings"), "vec_id", "embedding", minCosine = 0.4,
      bands = 3,
      planesPerBand = 6 + (math.log(k.toDouble) / math.log(2)).round.toInt)),
    // cluster count ∝ n holds cluster / inverted-list sizes flat (the
    // SemDeDup and IVF sizing rules)
    "q81_semdedup" -> ((s, d, k) => Cluster.semDedup(
      Tables(s, d, "embeddings"), "vec_id", "embedding", minCosine = 0.45,
      k = 8 * k, iters = 2)),
    "q95_kmeans_ivf_topk" -> ((s, d, k) => Cluster.kmeansIvfTopK(
      Tables(s, d, "embeddings"), "vec_id", "embedding", k = 8 * k,
      iters = 2, kTop = 5, nprobe = 2)),
    "q158_cluster_coreset" -> ((s, d, k) => Cluster.clusterCoreset(
      Tables(s, d, "embeddings"), "vec_id", "embedding", k = 8 * k,
      iters = 2, m = 25)),
    "q271_silhouette" -> ((s, d, k) => Cluster.simplifiedSilhouette(
      Tables(s, d, "embeddings"), "vec_id", "embedding", k = 8 * k,
      iters = 2)),
    // degree-ordered wedges: the hub contributes ZERO wedges
    "q174_triangles@hub" -> ((s, d, _) =>
      Graph.triangleCounts(Tables(s, d, "hub"), "a", "b")),
    // nothing peels (all deg >= 2): prices every round at full volume
    "q197_kcore@hub" -> ((s, d, _) =>
      Graph.kCore(Tables(s, d, "hub"), "a", "b", k = 2, rounds = 8)),
    "q264_assortativity@hub" -> ((s, d, _) =>
      Graph.degreeAssortativity(Tables(s, d, "hub"), "a", "b")),
    "q189_attribution@hot" -> ((s, d, _) => Events.attribution(
      Tables(s, d, "hot"), "user_id", "event_type", "ts", "event_id",
      "value", convType = "purchase", touchType = "click", windowDays = 7)),
    "q228_abandonment@hot" -> ((s, d, _) => Events.abandonment(
      Tables(s, d, "hot"), userCol = "user_id", tsCol = "ts",
      idCol = "event_id", viewType = "view", convType = "purchase",
      windowMinutes = 30)),
    // gridCumSum branch receipts: catalog price/value grids repeat across
    // copies, but the l_orderkey grid grows ~150k x k distinct at sf0.1
    // and crosses the 4M cumsum gate at x30 (the `gates` field shows
    // it) — pair with SPARK_GRAFT_CONF=spark.graft.gate.cumsum=0 for
    // the all-distributed slope
    "q262_equal_freq_bins@biggrid" -> ((s, d, _) => Stats.equalFreqBins(
      Tables(s, d, "lineitem"), "l_orderkey", k = 10, scale = 1L)),
    "q280_kruskal_wallis@biggrid" -> ((s, d, _) => Stats.kruskalWallis(
      Tables(s, d, "lineitem"), "l_returnflag", "l_orderkey",
      valueScale = 1L)))

  private[graft] val fixtures = Set("hub", "hot", "biggrid")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = Sessions.local(cpus, appName = "graft-scalebench")
    spark.sparkContext.setLogLevel("ERROR")
    if (args.headOption.contains("split")) {
      splitBench(spark, args.lift(1).getOrElse("/tmp/big_feed.xml"))
      spark.stop()
      return
    }
    Harness.applyConf(spark)
    val ks = sys.env.get("SPARK_GRAFT_SCALE_KS")
      .map(_.split(",").map(_.trim.toInt).toSeq).getOrElse(Seq(1, 3, 10))
    val catalog = Catalog.byName
    val wired = overrides.toMap
    val names = if (args.nonEmpty) args.toSeq
      else catalog.keys.toSeq.sorted ++ overrides.map(_._1).filter(_.contains('@'))
    val unknown = names.filterNot(n => catalog.contains(n) || wired.contains(n))
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    // warm codegen/parquet/shuffle machinery outside the measured section
    Tables(spark, sfDir, "lineitem").groupBy("l_returnflag").count().count()
    val tmp = java.nio.file.Files.createTempDirectory("graft_scale")
    def num(d: Double) = String.format(java.util.Locale.ROOT, "%.3f", Double.box(d))
    for (k <- ks) {
      val dir = tmp.resolve(s"x$k").toString
      writeScaled(spark, sfDir, dir, k, names.flatMap(_.split('@').lift(1)).toSet)
      for (name <- names) {
        def run(): Long = wired.get(name)
          .fold(catalog(name).run(spark, dir))(_(spark, dir, k)).count()
        def timed(): Either[String, (Long, Double)] = {
          val t0 = System.nanoTime()
          val r = try Right(run() -> (System.nanoTime() - t0) / 1e9)
            catch { case e: Throwable =>
              Left(e.toString.linesIterator.next().take(300)) }
          Harness.dropAllBlocks(spark)
          r
        }
        Memo.invalidateAll()
        Harness.dropAllBlocks(spark)
        Par.resetGateStats()
        val cold = timed()
        val res = cold.flatMap(c => timed().map(w => (c._1, c._2, w._2)))
        val fields = res.fold(
          e => s""""rows":-1,"cold_s":-1,"warm_s":-1,"error":${Json.str(e)}""",
          { case (rows, c, w) =>
            s""""rows":$rows,"cold_s":${num(c)},"warm_s":${num(w)},"error":null""" })
        println(s"""{"k":$k,"cpus":$cpus,"query":${Json.str(name)},$fields,"gates":${Harness.gatesJson()},"sf":${Json.str(sfDir)}}""")
      }
      Memo.invalidateAll()
      FileTree.delete(tmp.resolve(s"x$k"))
    }
    FileTree.delete(tmp)
    spark.stop()
  }
}
