package graft.sinks

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import graft.SparkTestBase

/** The single-file assembly's cluster-safety contract: parts land on the
  * filesystem Memo.resolveRootUri selects and are read back through the
  * SAME Hadoop FileSystem; with no shared directory on a non-local
  * master the drain degrades to toLocalIterator streaming — identical
  * bytes, no scatter-prone temp write anywhere. */
class PartFilesSpec extends SparkTestBase {

  private def lines(n: Int) = {
    import spark.implicits._
    // multiple partitions so partition order vs part-name order matters,
    // plus a value whose bytes contain the lineSep's '\n'-free separator
    (0 until n).map(i => f"row$i%04d;payload$i").toDF("value")
      .repartition(7, col("value")) // deterministic hash layout
  }

  private def drained(df: org.apache.spark.sql.DataFrame,
                      sep: String): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    PartFiles.drain(df, bos, sep)
    bos.toByteArray
  }

  test("toLocalIterator fallback produces byte-identical output to the " +
       "part-file drain, and writes no scratch directory") {
    val df = lines(500).cache()
    try {
      df.count()
      val viaParts = drained(df, "\r\n")
      // the default local root hosts scratch dirs; the fallback must not
      // add any (it never touches a filesystem)
      val memoRoot = java.nio.file.Paths.get(
        sys.props("java.io.tmpdir"), "graft-memo")
      def scratchCount(): Long =
        if (!Files.isDirectory(memoRoot)) 0L
        else {
          val l = Files.list(memoRoot)
          try l.iterator().asScala
            .count(_.getFileName.toString.startsWith("scratch_parts_"))
          finally l.close()
        }
      val before = scratchCount()
      graft.analytics.Memo.placementOverrideForTests = Some(None) // bypass
      val viaIter =
        try drained(df, "\r\n")
        finally graft.analytics.Memo.placementOverrideForTests = None
      assert(java.util.Arrays.equals(viaParts, viaIter),
        "fallback bytes must equal part-concatenation bytes")
      assert(scratchCount() === before)
      val text = new String(viaParts, StandardCharsets.UTF_8)
      assert(text.split("\r\n").length === 500)
      assert(text.endsWith("\r\n"), "lineSep after EVERY row")
    } finally df.unpersist()
  }

  test("a configured shared directory hosts the parts (and is cleaned up)") {
    val shared = Files.createTempDirectory("graft_pf_shared")
    graft.analytics.Memo.placementOverrideForTests =
      Some(Some("file:" + shared.toString))
    try {
      val bytes = drained(lines(40), "\n")
      assert(new String(bytes, StandardCharsets.UTF_8).split("\n").length === 40)
      // the scratch dir under the shared root was removed after the drain
      val leftovers = Files.list(shared)
      try assert(!leftovers.iterator().hasNext,
        "scratch_parts_* must be deleted after the drain")
      finally leftovers.close()
    } finally graft.analytics.Memo.placementOverrideForTests = None
  }

  test("scratch dirs are covered by the purge-at-exit hook: a dir left " +
       "registered (driver killed mid-drain) is deleted by purgeScratch; " +
       "a normal drain leaves the registry empty") {
    // normal drain: registration and deregistration balance out
    val before = PartFiles.scratchRegistered
    drained(lines(20), "\n")
    assert(PartFiles.scratchRegistered === before,
      "a completed drain must deregister its scratch dir")
    // simulated kill: a dir that never reached the finally block stays
    // registered — the shutdown hook's purge must remove it from disk
    val root = Files.createTempDirectory("graft_pf_purge")
    val hp = new org.apache.hadoop.fs.Path(
      "file:" + root.toString + "/scratch_parts_killed")
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(hp)
    assert(fs.exists(hp))
    PartFiles.registerScratch(fs, hp)
    PartFiles.purgeScratch()
    assert(!fs.exists(hp),
      "purge-at-exit must delete a scratch dir leaked by a killed drain")
    PartFiles.deregisterScratch(fs, hp)
  }

  test("JsonSink envelope is identical through both drain branches " +
       "(separator spanning chunk boundaries included)") {
    import spark.implicits._
    val df = (0 until 97).map(i => (i.toLong, s"name_$i"))
      .toDF("id", "name").repartition(5)
    def envelope(): String = {
      val p = Files.createTempDirectory("graft_pf_json")
        .resolve("out.json").toString
      JsonSink.writeEnvelope(df, p, exportedAt = "2025-01-01 00:00")
      new String(Files.readAllBytes(java.nio.file.Paths.get(p)),
        StandardCharsets.UTF_8)
    }
    val viaParts = envelope()
    graft.analytics.Memo.placementOverrideForTests = Some(None)
    val viaIter =
      try envelope()
      finally graft.analytics.Memo.placementOverrideForTests = None
    assert(viaParts === viaIter)
    assert(viaParts.contains("\"total\": 97"))
  }

  test("overlapping drains keep coalescing off until the last one ends, " +
       "then restore the caller's setting once") {
    import java.util.concurrent.TimeUnit.SECONDS
    import PartFilesSpec.{gates, rowOf}
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    val before = spark.conf.getOption(key)
    gates.clear()
    Seq("a", "b").foreach(g => gates.put(g, PartFilesSpec.Gate()))
    val err = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    def drainIn(g: String): Thread = {
      val frame = spark.range(1)
        .map(i => rowOf(g, i))(org.apache.spark.sql.Encoders.STRING).toDF()
      val t = new Thread(() =>
        try drained(frame, "\n") catch { case e: Throwable => err.set(e) })
      t.start()
      t
    }
    try {
      val a = drainIn("a")
      assert(gates.get("a").started.await(60, SECONDS))
      assert(spark.conf.get(key) == "false")
      val b = drainIn("b")
      assert(gates.get("b").started.await(60, SECONDS))
      gates.get("a").release.countDown()
      a.join(60000)
      assert(spark.conf.get(key) == "false",
        "a drain still running must keep coalescing off")
      gates.get("b").release.countDown()
      b.join(60000)
      assert(err.get() == null, s"a drain failed: ${err.get()}")
      assert(spark.conf.getOption(key) == before,
        "the last drain must restore the pre-drain setting")
    } finally {
      gates.values().forEach(_.release.countDown())
      before.foreach(spark.conf.set(key, _))
    }
  }
}

object PartFilesSpec {
  import java.util.concurrent.CountDownLatch

  /** A drain's one row signals `started` and waits for `release`; tasks
    * run in this JVM, so the spec orders two drains through these. */
  final case class Gate(started: CountDownLatch = new CountDownLatch(1),
                        release: CountDownLatch = new CountDownLatch(1))

  val gates = new java.util.concurrent.ConcurrentHashMap[String, Gate]()

  def rowOf(g: String, i: Long): String = {
    gates.get(g).started.countDown()
    gates.get(g).release.await(60, java.util.concurrent.TimeUnit.SECONDS)
    s"$g$i"
  }
}
