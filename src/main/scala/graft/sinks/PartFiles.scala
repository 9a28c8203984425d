package graft.sinks

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Shared single-file assembly: serialize rows DISTRIBUTED via the text
  * writer, then byte-concatenate the part files on the driver in partition
  * order. The driver copy is the only serial step — inherent to "one
  * file"; the expensive per-row string building runs across all cores.
  *
  * Cluster safety (the Memo snapshot-placement rule, applied to sinks):
  * the part directory lands on the filesystem
  * [[graft.analytics.Memo.resolveRootUri]] selects — the configured
  * shared dir on a multi-node master, `file:`-qualified tmpdir on a
  * local one — and the driver reads the parts back through the Hadoop
  * FileSystem of that SAME qualified path. A driver-local `/tmp` write
  * on a real cluster would scatter part files across executor disks and
  * the driver's listing would silently assemble a TRUNCATED output file
  * (worse than an error). When a non-local master has NO shared
  * directory configured, rows stream through `toLocalIterator` instead:
  * row serialization still runs distributed, partitions stream back one
  * at a time in partition order (identical bytes to the part
  * concatenation), and only the inherent one-file serial drain runs on
  * the driver. */
object PartFiles {

  // Scratch dirs live under the SHARED memo/checkpoint root, so a
  // driver killed mid-drain must not leak them there permanently (the
  // in-method `finally` covers normal and exceptional returns, not a
  // JVM kill). Every scratch path registers here before its write and
  // deregisters after its delete; a shutdown hook purges leftovers —
  // the same contract FrameMemo.purge() gives snapshots, at the same
  // priority (above FileSystem close at 10, so the FS is still open).
  private val liveScratch = java.util.concurrent.ConcurrentHashMap
    .newKeySet[(FileSystem, HPath)]()

  org.apache.hadoop.util.ShutdownHookManager.get().addShutdownHook(
    new Runnable { override def run(): Unit = purgeScratch() }, 25)

  /** Delete every still-registered scratch dir (shutdown-hook body,
    * exposed `private[graft]` so the spec can pin it). */
  private[graft] def purgeScratch(): Unit =
    liveScratch.forEach { case (fs, dir) =>
      try fs.delete(dir, true)
      catch { case _: java.io.IOException => () }
    }

  private[graft] def registerScratch(fs: FileSystem, dir: HPath): Unit =
    liveScratch.add((fs, dir))

  private[graft] def deregisterScratch(fs: FileSystem, dir: HPath): Unit =
    liveScratch.remove((fs, dir))

  private[graft] def scratchRegistered: Int = liveScratch.size()

  /** Stream the UTF-8 bytes of `lines` (single string column named
    * `value`, `lineSep` appended after EVERY row) to `each(buf, n)` in
    * partition order. Chunk boundaries are arbitrary; the concatenated
    * bytes are what the text writer would produce. */
  def drainBytes(lines: DataFrame, lineSep: String)
                (each: (Array[Byte], Int) => Unit): Unit = {
    val spark = lines.sparkSession
    graft.analytics.Memo.resolveRootUri(spark) match {
      case Some(rootUri) =>
        val root = new HPath(rootUri)
        val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val dir = fs.makeQualified(new HPath(root,
          "scratch_parts_" + java.util.UUID.randomUUID().toString.take(12)))
        registerScratch(fs, dir)
        try {
          withoutCoalescing(spark) {
            lines.write.mode("overwrite").option("lineSep", lineSep)
              .text(dir.toString)
          }
          val parts = fs.listStatus(dir).map(_.getPath)
            .filter(_.getName.startsWith("part-"))
            .sortBy(_.getName)
          val buf = new Array[Byte](1 << 20)
          parts.foreach { p =>
            val in = fs.open(p)
            try {
              var n = in.read(buf)
              while (n > 0) { each(buf, n); n = in.read(buf) }
            } finally in.close()
          }
        } finally {
          fs.delete(dir, true)
          deregisterScratch(fs, dir)
        }
      case None =>
        // non-local master with nothing shared configured: partitions
        // compute distributed and stream back in order, one at a time
        val sepBytes = lineSep.getBytes(StandardCharsets.UTF_8)
        val it = lines.toLocalIterator()
        while (it.hasNext) {
          val b = it.next().getString(0).getBytes(StandardCharsets.UTF_8)
          each(b, b.length)
          each(sepBytes, sepBytes.length)
        }
    }
  }

  // AQE's partition coalescing sees a few-MB shuffle and folds the whole
  // write into ONE task — which serializes every row's string building
  // onto one core (the sink's only CPU-heavy stage). Drains keep the
  // planned partitioning; part-file name order is partition order, so the
  // concatenated bytes are unchanged. The conf is the shared session's,
  // so overlapping drains share one scope per session: the first saves
  // the caller's value and switches coalescing off, the last restores it.
  private val CoalesceConf = "spark.sql.adaptive.coalescePartitions.enabled"
  private val coalesceScopes =
    scala.collection.mutable.HashMap.empty[SparkSession, (Int, Option[String])]

  private def withoutCoalescing[A](spark: SparkSession)(body: => A): A = {
    coalesceScopes.synchronized {
      val (depth, saved) = coalesceScopes.getOrElse(spark,
        (0, spark.conf.getOption(CoalesceConf)))
      if (depth == 0) spark.conf.set(CoalesceConf, "false")
      coalesceScopes(spark) = (depth + 1, saved)
    }
    try body
    finally coalesceScopes.synchronized {
      val (depth, saved) = coalesceScopes(spark)
      if (depth > 1) coalesceScopes(spark) = (depth - 1, saved)
      else {
        coalesceScopes.remove(spark)
        saved match {
          case Some(v) => spark.conf.set(CoalesceConf, v)
          case None => spark.conf.unset(CoalesceConf)
        }
      }
    }
  }

  /** Write `lines` into `out` — [[drainBytes]] piped to a stream. */
  def drain(lines: DataFrame, out: java.io.OutputStream,
            lineSep: String): Unit =
    drainBytes(lines, lineSep)((buf, n) => out.write(buf, 0, n))
}
