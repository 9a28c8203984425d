package graft.analytics

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** The materialization indirection: every lineage-truncating site in the
  * engine routes through Par.materialize, whose strategy is a deployment
  * decision — localCheckpoint by default, reliable checkpoint() when a
  * checkpoint dir is configured (the 100 TB posture: blocks on HDFS/S3
  * survive executor preemption, which executor-local blocks do not).
  * This spec pins (1) both strategies produce identical results through
  * a heavy multi-materialization operator, and (2) the reliable path
  * really writes to the configured directory. */
class ParSpec extends SparkTestBase {

  private def docs = {
    val rows = (1 to 120).map { i =>
      val base = s"the quick brown fox $i jumps over the lazy dog " +
        s"word${i % 7} word${i % 11} word${i % 13} tail tokens here"
      // 30 near-dup pairs: doc 2k and 2k+1 share almost all shingles
      val text = if (i % 2 == 0) base else
        s"the quick brown fox ${i - 1} jumps over the lazy dog " +
          s"word${(i - 1) % 7} word${(i - 1) % 11} word${(i - 1) % 13} " +
          "tail tokens here extra"
      (i.toLong, text)
    }
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  private def runPairs() =
    Dedup.prefixFilterJaccardPairs(docs, "doc_id", "text",
        minJaccard = 0.5, n = 3)
      .orderBy("doc_a", "doc_b")
      .collect()
      .map(_.toString)
      .toSeq

  test("reliable checkpoint path matches the default local path " +
       "bit-for-bit and writes into the configured dir") {
    val sc = spark.sparkContext
    assert(sc.getCheckpointDir.isEmpty,
      "test JVM should start with no checkpoint dir")
    val local = runPairs()
    assert(local.nonEmpty, "expected near-dup pairs in the fixture")

    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt")
    spark.conf.set("spark.graft.checkpoint.dir", dir.toString)
    try {
      val reliable = runPairs()
      assert(reliable == local,
        "reliable-checkpoint run diverged from the localCheckpoint run")
      assert(sc.getCheckpointDir.isDefined,
        "Par.materialize should have adopted the configured dir")
      // the reliable path must actually land blocks in the dir
      val walk = java.nio.file.Files.walk(dir)
      val files =
        try walk.filter(java.nio.file.Files.isRegularFile(_)).count()
        finally walk.close()
      assert(files > 0, s"no checkpoint files written under $dir")
    } finally {
      spark.conf.unset("spark.graft.checkpoint.dir")
      // reset the sticky SparkContext checkpoint dir for the rest of
      // the shared-session suite (Option(null) => None in setCheckpointDir)
      sc.setCheckpointDir(null)
      val walk = java.nio.file.Files.walk(dir)
      val all = try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala.toSeq
      } finally walk.close()
      all.reverse.foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("reliable path matches local across the heavy ITERATIVE shapes " +
       "(pageRank's per-round truncation, BPE's per-merge state)") {
    import spark.implicits._
    val sc = spark.sparkContext
    assert(sc.getCheckpointDir.isEmpty, "checkpoint dir leaked in")
    // ring + chords so ranks differentiate and rounds matter
    val edges = ((0L until 40L).map(i => (i, (i + 1) % 40)) ++
      (0L until 40L by 5).map(i => (i, (i + 13) % 40)))
      .toDF("a", "b")
    val corpus = (0L until 60L)
      .map(i => (i, s"low low lower lowest newer new${i % 3} wider"))
      .toDF("doc_id", "text")
    def run(): (Seq[String], Seq[String]) = (
      Graph.pageRank(edges, "a", "b", iters = 12)
        .orderBy("node").collect().map(_.toString).toSeq,
      withConf("spark.graft.gate.bpe" -> "0")(
        Bpe.train(corpus, "text", numMerges = 8))
        ._1.orderBy("rank").collect().map(_.toString).toSeq)
    val (local, g) = gatesOf(run())
    assert(g === Map("graph" -> (1L, 0L), "bpe" -> (0L, 1L)),
      "pageRank local, BPE forced distributed")
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt2")
    spark.conf.set("spark.graft.checkpoint.dir", dir.toString)
    try {
      assert(run() == local,
        "reliable-checkpoint iterative runs diverged from local runs")
    } finally {
      spark.conf.unset("spark.graft.checkpoint.dir")
      sc.setCheckpointDir(null)
      val walk = java.nio.file.Files.walk(dir)
      val all = try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala.toSeq
      } finally walk.close()
      all.reverse.foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("reliable checkpoint files are REAPED when their RDD is GC'd " +
       "(the cleanCheckpoints receipt for long-lived sessions): the " +
       "dropped frame's files go, the live frame's files stay") {
    import spark.implicits._
    val sc = spark.sparkContext
    assert(sc.getCheckpointDir.isEmpty, "checkpoint dir leaked in")
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt_gc")
    def files(): Set[String] = {
      val walk = java.nio.file.Files.walk(dir)
      try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala
          .filter(java.nio.file.Files.isRegularFile(_))
          .map(_.toString).toSet
      } finally walk.close()
    }
    spark.conf.set("spark.graft.checkpoint.dir", dir.toString)
    try {
      // first materialization in a throwaway scope: its frame is the
      // GC candidate (returns only the row count)
      def dropped(): Long =
        Par.materialize((1 to 500).toDF("v").filter($"v" > 1)).count()
      assert(dropped() == 499)
      val afterFirst = files()
      assert(afterFirst.nonEmpty, "reliable path must write files")
      // second materialization stays strongly referenced throughout
      val kept = Par.materialize((1 to 500).toDF("w").filter($"w" > 2))
      val keptFiles = files() -- afterFirst
      assert(keptFiles.nonEmpty, "second checkpoint must write its own files")
      // drop the first frame's only references, GC, and wait for the
      // ContextCleaner (async, reference-queue driven) to reap
      val deadline = System.nanoTime + 30L * 1000 * 1000 * 1000
      var live = files()
      while ((live & afterFirst).nonEmpty && System.nanoTime < deadline) {
        System.gc()
        Thread.sleep(250)
        live = files()
      }
      assert((live & afterFirst).isEmpty,
        "the GC'd frame's checkpoint files must be reaped " +
          s"(still present: ${(live & afterFirst).take(3)})")
      assert((keptFiles -- live).isEmpty,
        "the live frame's checkpoint files must survive the sweep")
      assert(kept.count() == 498, "the live frame must still read")
    } finally {
      spark.conf.unset("spark.graft.checkpoint.dir")
      sc.setCheckpointDir(null)
      val walk = java.nio.file.Files.walk(dir)
      val all = try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala.toSeq
      } finally walk.close()
      all.reverse.foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("default path still truncates lineage via localCheckpoint") {
    import spark.implicits._
    val out = Par.materialize(Seq(1, 2, 3).toDF("v").filter($"v" > 1))
    assert(out.count() == 2)
    // a checkpointed frame's plan is a leaf scan, not the filter tree
    assert(out.queryExecution.optimizedPlan.collectLeaves().size == 1)
  }

  test("size gate: local iff 0 < Σ sizes <= threshold (inclusive); an " +
       "empty size, a saturating sum and a forced 0 go distributed; " +
       "every decision is counted per (gate, branch)") {
    val (_, g) = gatesOf {
      withConf("spark.graft.gate.graph" -> "10") {
        assert(Par.gate(spark, "graph", 10L))
        assert(Par.gate(spark, "graph", 4L, 6L))
        assert(!Par.gate(spark, "graph", 11L))
        assert(!Par.gate(spark, "graph", 0L))
        assert(!Par.gate(spark, "graph"))
      }
      // the sum saturates: wrapping would read Long.MinValue for the
      // first call and 1 — a local answer — for the second
      assert(!Par.gate(spark, "graph", Long.MaxValue, 1L))
      assert(!Par.gate(spark, "graph", Long.MaxValue, Long.MaxValue, 3L))
      assert(Par.gate(spark, "cumsum", 1L))
      withConf("spark.graft.gate.bt" -> "0")(assert(!Par.gate(spark, "bt", 1L)))
    }
    assert(g === Map("graph" -> (2L, 5L), "cumsum" -> (1L, 0L),
      "bt" -> (0L, 1L)))
  }

  test("row gate: one bounded collect decides and feeds the local branch; " +
       "no threshold up to Long.MaxValue wraps the Int limit or the Long " +
       "probe") {
    import spark.implicits._
    val local = Seq(1L, 2L, 3L).toDF("v")
    val (_, g) = gatesOf {
      for (dim <- Seq(local, spark.range(1, 4).toDF("v"));
           t <- Seq(Long.MaxValue, Int.MaxValue + 1L, Int.MaxValue.toLong,
             Int.MaxValue - 1L, 3L))
        withConf("spark.graft.gate.graph" -> t.toString) {
          assert(Par.gateRows(spark, "graph", dim).map(_.map(_.getLong(0))
            .toSeq.sorted) === Some(Seq(1L, 2L, 3L)), s"threshold $t")
        }
      for (t <- Seq(2L, 0L, -1L, Long.MinValue))
        withConf("spark.graft.gate.graph" -> t.toString) {
          assert(Par.gateRows(spark, "graph", local).isEmpty, s"threshold $t")
        }
      assert(Par.gateRows(spark, "graph", local.filter(lit(false))).isEmpty)
    }
    assert(g === Map("graph" -> (10L, 5L)))
  }

  test("size gate: an unknown gate name and a malformed threshold fail " +
       "naming what is wrong") {
    val unknown = intercept[IllegalArgumentException](
      Par.gate(spark, "graphs", 1L))
    assert(unknown.getMessage.contains("graphs"))
    val bad = withConf("spark.graft.gate.graph" -> "2M") {
      intercept[IllegalArgumentException](Par.gate(spark, "graph", 1L))
    }
    assert(bad.getMessage.contains("spark.graft.gate.graph") &&
      bad.getMessage.contains("2M"), bad.getMessage)
  }

  test("gridCumSum on an empty grid takes the distributed branch and " +
       "returns an empty frame with the single-task branch's schema") {
    import spark.implicits._
    val grid = Seq((1L, 2L), (3L, 4L)).toDF("v", "cnt")
    val (full, gFull) = gatesOf(Stats.gridCumSum(grid, "v", "cnt", "cum"))
    assert(gFull === Map("cumsum" -> (1L, 0L)))
    assert(full.orderBy("v").collect().map(_.getLong(2)).toSeq === Seq(2L, 6L))
    val (empty, gEmpty) =
      gatesOf(Stats.gridCumSum(grid.filter($"v" < 0), "v", "cnt", "cum"))
    assert(gEmpty === Map("cumsum" -> (0L, 1L)))
    assert(empty.collect().isEmpty)
    assert(empty.schema === full.schema)
  }

  test("every Par.gate site returns one schema, nullability included, " +
       "from both branches on non-empty and on empty input") {
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L)).toDF("a", "b")
    // numeric ids: the local walk keys on their string form
    val cats = Seq((1L, None: Option[Long], "Lighting"),
      (2L, Some(1L), "Chandeliers")).toDF("id", "parentId", "name")
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("doc_a", "doc_b")
    val games = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"))
      .toDF("w", "l")
    val emb = Seq((0L, Array(1.0f, 0.2f)), (1L, Array(1.0f, 0.0f)),
      (2L, Array(0.0f, 1.0f))).toDF("vec_id", "embedding")
    val shortlist = Seq((0L, 1L, 0.9), (0L, 2L, 0.1))
      .toDF("qid", "vid", "simq")
    val grid = Seq((1L, 2L), (3L, 4L)).toDF("v", "cnt")
    val corpus = Seq((1L, "low lower newest widest")).toDF("doc_id", "text")
    // (gate, site, input, the site's output frames)
    val sites: Seq[(String, String, DataFrame, DataFrame => Seq[DataFrame])] =
      Seq(
        ("graph", "pageRank", edges,
          e => Seq(Graph.pageRank(e, "a", "b", iters = 2))),
        ("graph", "kCore", edges, e => Seq(Graph.kCore(e, "a", "b"))),
        ("graph", "labelPropagation", edges,
          e => Seq(Graph.labelPropagation(e, "a", "b", rounds = 2))),
        ("graph", "resolveSegs", cats,
          c => Seq(graft.engine.CategoryPath.resolveSegs(c))),
        ("graph", "connectedComponents", pairs,
          p => Seq(Dedup.connectedComponents(p))),
        ("bt", "bradleyTerry", games,
          g => Seq(Preference.bradleyTerry(g, "w", "l", iters = 2))),
        ("mmr", "mmrRerankFrom", shortlist,
          sl => Seq(Similarity.mmrRerankFrom(sl, emb, "vec_id", "embedding",
            k = 2))),
        ("cumsum", "gridCumSum", grid,
          g => Seq(Stats.gridCumSum(g, "v", "cnt", "cum"))),
        ("bpe", "Bpe.train", corpus, d => {
          val (merges, vocab) = Bpe.train(d, "text", numMerges = 2)
          Seq(merges, vocab)
        }))
    val problems = sites.flatMap { case (gate, site, input, run) =>
      def schemas(in: DataFrame, forced: Boolean) = {
        val (out, g) = gatesOf(
          if (forced) withConf(s"spark.graft.gate.$gate" -> "0")(run(in))
          else run(in))
        (out.map(_.schema), g.get(gate))
      }
      val (local, gLocal) = schemas(input, forced = false)
      val others = Seq(
        "gate=0" -> schemas(input, forced = true),
        "empty input" -> schemas(input.filter(lit(false)), forced = false),
        "empty input, gate=0" ->
          schemas(input.filter(lit(false)), forced = true))
      (if (gLocal.exists(_._1 > 0)) Nil
       else Seq(s"$site: the default run did not take the local branch")) ++
        others.collect { case (how, (schema, _)) if schema != local =>
          s"$site: $how returned $schema, the local branch $local" }
    }
    assert(problems.isEmpty, problems.mkString("\n"))
  }
}
