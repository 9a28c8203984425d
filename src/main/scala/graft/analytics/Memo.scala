package graft.analytics

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan,
  Project, Repartition, RepartitionByExpression}
import org.apache.spark.sql.types.StructType

import Par.Mat

/** The engine's one session cache: memos of deterministic DERIVED
  * results, keyed by the canonicalized analyzed plans of their inputs.
  * Several catalog gates legitimately share one expensive subtree (the
  * q19 LSH candidate graph feeds PageRank, triangles, k-core, LPA,
  * Bradley-Terry; the BM25 ranking feeds its own gate and the
  * retrieval-metrics gate; seven gates score two trained logreg
  * models), and each gate must stay independently verifiable — so the
  * ENGINE caches, the gates don't know. Two storage policies share one
  * [[SessionMemo]] base (key, LRU, counters, stats row): [[FrameMemo]]
  * snapshots derived frames, [[ValueMemo]] holds driver-side values
  * (centroids, trained models, and the `parquet_schema` memo of
  * [[graft.queries.Tables]]).
  *
  * Soundness contract: memoized operators must be DETERMINISTIC
  * functions of their input frames (every candidate here is — md5-seeded
  * MinHash, fixed-iteration recurrences, round-6 pinned scores), so a
  * memo hit is bit-identical to a recompute. The key is built in ONE
  * place ([[SessionMemo]]): the session UUID (a new session may see new
  * data at the same path; `sessionUUID` rather than an identity hash so
  * a restarted session can never collide into a prior session's
  * entries), the CANONICALIZED analyzed plan of each input (expr ids
  * normalized — two reads of the same table match, in-memory inputs
  * compare their data), and the params string. A value that depends on
  * no input frame keys on the session and the params string alone:
  * `parquet_schema` keys each table on its qualified path plus its
  * recursive file listing (names, lengths, mtimes), so a session infers
  * each table version once and a rewritten table again. Before
  * canonicalizing, shuffle-only repartitions under nothing but
  * deterministic row-wise operators are dropped, so a frame that went
  * through `Par.ensure` or `.repartition(n)` keys the same entry as the
  * raw frame; a repartition under a Limit or Sample changes content and
  * stays. A `.materialized()` input still never hits: its checkpoint
  * leaf carries a fresh RDD identity per materialization.
  *
  * Frame storage: each entry is a PARQUET SNAPSHOT, NOT a
  * cached/checkpointed RDD — block-manager entries die to any
  * `unpersist`-all hygiene sweep (the bench does one per measured
  * query) and executor loss, while a file snapshot survives both and
  * re-reads as a plain pruned columnar scan. Each snapshot records the
  * schema read back once when it is built, so a hit passes it to the
  * reader and runs no inference job. Snapshot PLACEMENT is a
  * deployment dial (the same shape as [[Par.materialize]]'s
  * reliable-checkpoint dial):
  *
  *   1. `spark.graft.memo.dir` set → snapshots live under it. Point it
  *      at the shared filesystem (HDFS/S3) on any multi-node cluster —
  *      executors and the driver must see the same files.
  *   2. else a checkpoint dir is configured (`SparkContext
  *      .setCheckpointDir` or `spark.graft.checkpoint.dir`) → snapshots
  *      live under `<checkpointDir>/graft-memo` — a session that already
  *      configured a reliable shared directory gets memo hits for free.
  *   3. else, LOCAL master only → `java.io.tmpdir` (one host, so a
  *      local-FS write is visible to every "executor" thread and the
  *      driver read); the path is explicitly `file:`-qualified so an
  *      HDFS `defaultFS` cannot split the write and the exists/delete
  *      bookkeeping across two filesystems.
  *   4. else (non-local master, nothing configured) → the memo is
  *      BYPASSED: every call materializes its build expression
  *      (`Par.materialize`) and hands that back. A driver-local
  *      snapshot on a multi-node cluster would be a partial or failed
  *      read for every consumer; the materialized build keeps the
  *      one guarantee operators rely on — a memo result is safe to read
  *      more than once without re-running its pipeline — so no
  *      operator ever asks where snapshots live.
  *
  * All snapshot IO (write, read, exists, delete) goes through the Hadoop
  * `FileSystem` resolved from the SAME qualified path, so eviction and
  * invalidation always delete the files the write produced. At cluster
  * scale this is the "build the index once, probe it many times" lake
  * pattern, with the lifecycle managed for intra-session reuse.
  *
  * Lifecycle: eviction past `maxEntries` and invalidation NEVER delete a
  * snapshot directory immediately — handed-out frames are lazy, so a
  * consumer planned before an eviction/publish may scan after it.
  * Dropped entries are CONDEMNED and their directories reaped only once
  * they are older than the grace window ([[Memo.graceMs]], 15 min —
  * far beyond any plan-to-scan gap in a serving micro-batch or bench
  * pass); a JVM shutdown hook purges everything unconditionally.
  *
  * Staleness: frame and model memos key on the input PLAN, not file
  * contents — immutable inputs per session (the lakehouse norm) make
  * that sound, but any path that OVERWRITES data a memoized operator
  * may have read must call [[Memo.invalidateAll]] (the serving layer's
  * publish path does; it is the moral equivalent of Spark's `REFRESH
  * TABLE`).
  */
object Memo {

  private val memos =
    new java.util.concurrent.CopyOnWriteArrayList[SessionMemo[_]]()

  private[analytics] def register(m: SessionMemo[_]): Unit = memos.add(m)

  /** Drop every memoized frame, value and trained model, engine-wide.
    * Call after overwriting any dataset a memoized operator may have
    * read. Snapshot directories are condemned, not deleted — see the
    * grace-period contract in the class doc. */
  def invalidateAll(): Unit = memos.asScala.foreach(_.invalidate())

  /** Grace window (ms) before a condemned snapshot directory is
    * deleted: 15 min outlives any plan-to-scan gap a lazy consumer
    * realistically carries. A var only so specs can lapse it. */
  @volatile private[graft] var graceMs: Long = 15 * 60 * 1000L

  /** Per-memo counters for the bench artifact, one row per memo:
    * builds (snapshot writes, driver-value computes, model trainings),
    * their total wall seconds and hits; frame memos add bypasses — so
    * build cost is attributed to the memo, not to whichever gate
    * happened to run first in catalog order. */
  def stats(): Map[String, Map[String, Double]] =
    memos.asScala.map(m => m.memoName -> m.stats).toMap

  /** Reset the [[stats]] counters (bench isolation). */
  private[graft] def resetStats(): Unit = memos.asScala.foreach(_.resetStats())

  // Traffic-free reaping: sweep() otherwise runs only inside
  // getOrCompute/invalidate, so a long-lived server that stops calling
  // memoized operators would hold grace-expired condemned directories
  // until JVM exit. A single daemon thread ticks the sweeps instead;
  // each tick is a queue peek (no-op when nothing is condemned), so a
  // short period costs nothing.
  private val SweepTickMs = 2000L
  locally {
    val t = java.util.concurrent.Executors.newSingleThreadScheduledExecutor(
      (r: Runnable) => {
        val th = new Thread(r, "graft-memo-sweeper")
        th.setDaemon(true)
        th
      })
    t.scheduleWithFixedDelay(() => memos.asScala.foreach { m =>
      try m.sweep() catch { case _: Throwable => () }
    }, SweepTickMs, SweepTickMs,
      java.util.concurrent.TimeUnit.MILLISECONDS)
  }

  // At JVM exit, purge every snapshot this process created (live and
  // condemned, no grace) — a session-scoped memo must not leak files
  // into a shared memo dir across runs. Registered with the Hadoop
  // shutdown-hook manager ABOVE FileSystem's close priority (10) so
  // the delete runs while the filesystems are still open.
  org.apache.hadoop.util.ShutdownHookManager.get().addShutdownHook(
    new Runnable {
      override def run(): Unit = memos.asScala.foreach(_.purge())
    }, 25)

  /** Stable per-session identity for memo keys: a UUID assigned to each
    * live session object and held WEAKLY — never an identity hash,
    * which can collide across session restarts (a restarted session
    * whose object lands on a recycled hash must not hit a snapshot
    * built from the prior session's view of a since-changed path). The
    * weak reference guarantees a stopped-and-collected session's id is
    * never reused: a replacement session object always maps to a fresh
    * UUID. (The runtime's own `sessionUUID` is `private[sql]`, so the
    * engine assigns its own.) */
  private[analytics] def sessionId(spark: SparkSession): String =
    sessionIds.computeIfAbsent(
      spark, _ => java.util.UUID.randomUUID().toString)

  private val sessionIds = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, String]())

  /** The placement decision, pure so the spec can pin every branch:
    * memo dir, else checkpoint dir + `/graft-memo`, else tmpdir on a
    * local master, else None (= bypass). Shared with the single-file
    * sink assembly ([[graft.sinks.PartFiles]]), which has the same
    * "distributed write must land where the driver can read it back"
    * problem and the same correct degraded mode when nothing shared is
    * configured. */
  private[graft] def resolveRootUri(
      memoDir: Option[String],
      checkpointDir: Option[String],
      isLocal: Boolean): Option[String] =
    memoDir
      .orElse(checkpointDir.map(d => d.stripSuffix("/") + "/graft-memo"))
      .orElse(if (isLocal)
        Some("file:" + java.lang.System.getProperty("java.io.tmpdir")
          .stripSuffix("/") + "/graft-memo")
      else None)

  private[graft] def resolveRootUri(spark: SparkSession): Option[String] =
    placementOverrideForTests.getOrElse {
      val sc = spark.sparkContext
      resolveRootUri(
        spark.conf.getOption("spark.graft.memo.dir"),
        sc.getCheckpointDir
          .orElse(spark.conf.getOption("spark.graft.checkpoint.dir")),
        sc.isLocal)
    }

  /** Test seam: a local[N] suite cannot present a non-local master, so
    * the bypass EXECUTION path (not just the decision function) is
    * pinned by forcing the resolved placement. `Some(None)` = bypass;
    * `Some(Some(uri))` = snapshot under `uri`; `None` = real decision. */
  @volatile private[graft] var placementOverrideForTests
      : Option[Option[String]] = None
}

/** One session memo: the plan key, the LRU of `maxEntries` entries of
  * type `E`, the builds / build time / hits counters and the stats row.
  * Subclasses are storage policies; their hooks run on a dropped entry
  * (evicted or invalidated), on the periodic sweep and at JVM exit. */
private[graft] abstract class SessionMemo[E](name: String, maxEntries: Int) {

  private[graft] def memoName: String = name

  private case class Key(session: String, plans: Seq[LogicalPlan],
                         params: String)

  private val entries =
    new java.util.LinkedHashMap[Key, E](16, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[Key, E]): Boolean = {
        val evict = size() > maxEntries
        if (evict) dropped(e.getValue)
        evict
      }
    }

  private[graft] val hits = new java.util.concurrent.atomic.AtomicLong(0)
  private[graft] val builds = new java.util.concurrent.atomic.AtomicLong(0)
  private[graft] val buildNanos = new java.util.concurrent.atomic.AtomicLong(0)

  Memo.register(this)

  /** The live entry keyed on (inputs, params), or `build`'s result
    * stored under that key. Two concurrent first calls both build (same
    * bits — the contract); the first stored entry wins and the loser is
    * dropped. */
  protected final def getOrBuild(inputs: Seq[DataFrame], params: String)
                                (build: => E): E = {
    require(inputs.nonEmpty, "memo needs at least one input frame")
    lookup(keyOf(inputs.head.sparkSession, inputs, params))(build)
  }

  /** The entry keyed on the session and `params` alone, for a value
    * that depends on no input frame (`params` then names everything the
    * value is a function of). */
  protected final def getOrBuild(spark: SparkSession, params: String)
                                (build: => E): E =
    lookup(keyOf(spark, Nil, params))(build)

  private def lookup(key: Key)(build: => E): E =
    synchronized { Option(entries.get(key)) }.filter(live) match {
      case Some(e) => hits.incrementAndGet(); e
      case None =>
        val t0 = java.lang.System.nanoTime()
        val e = build
        builds.incrementAndGet()
        buildNanos.addAndGet(java.lang.System.nanoTime() - t0)
        synchronized {
          Option(entries.get(key)).filter(live) match {
            case Some(existing) => dropped(e); existing
            case None => entries.put(key, e); e
          }
        }
    }

  private def keyOf(spark: SparkSession, inputs: Seq[DataFrame],
                    params: String): Key =
    Key(Memo.sessionId(spark),
      inputs.map(df => SessionMemo.placementFree(df.queryExecution.analyzed)
        .canonicalized),
      params)

  /** Whether a stored entry can still be served. */
  protected def live(e: E): Boolean = true
  protected def dropped(e: E): Unit = ()
  private[analytics] def sweep(): Unit = ()
  private[analytics] def purge(): Unit = ()

  private[graft] def stats: Map[String, Double] = Map(
    "builds" -> builds.get().toDouble,
    "build_s" -> buildNanos.get() / 1e9,
    "hits" -> hits.get().toDouble)

  private[graft] def resetStats(): Unit = {
    builds.set(0); buildNanos.set(0); hits.set(0)
  }

  /** Drop every entry (each through the [[dropped]] hook). */
  def invalidate(): Unit = synchronized {
    entries.values().asScala.foreach(dropped)
    entries.clear()
  }
}

private[analytics] object SessionMemo {

  /** `plan` without the repartitions that change only placement: a
    * Repartition / RepartitionByExpression reached from the root through
    * deterministic Project and Filter nodes alone is dropped. Anything
    * else (a Limit, Sample, join, aggregate, or a nondeterministic
    * expression that sees partition layout) keeps its subtree as is. */
  def placementFree(plan: LogicalPlan): LogicalPlan = plan match {
    case r: Repartition => placementFree(r.child)
    case r: RepartitionByExpression => placementFree(r.child)
    case p @ (_: Project | _: Filter) if p.expressions.forall(_.deterministic) =>
      p.withNewChildren(Seq(placementFree(p.children.head)))
    case other => other
  }
}

/** Plan-keyed LRU of DRIVER-SIDE values (trained centroid and logreg
  * models, bounded dictionaries — anything model-sized that gates
  * re-derive from the same inputs). The value lives on the driver, so
  * unlike [[FrameMemo]] no snapshot lifecycle (and no placement dial)
  * exists; the soundness contract is the same — the computing closure
  * must be a deterministic function of the keyed inputs. */
private[graft] final class ValueMemo[V](name: String, maxEntries: Int = 64)
    extends SessionMemo[V](name, maxEntries) {

  def getOrCompute(inputs: Seq[DataFrame], params: String)(build: => V): V =
    getOrBuild(inputs, params)(build)

  /** The value keyed on the session and `params` alone. */
  def getOrCompute(spark: SparkSession, params: String)(build: => V): V =
    getOrBuild(spark, params)(build)
}

/** Plan-keyed LRU of parquet-snapshot directories on the filesystem
  * [[Memo.resolveRootUri]] selects (handing back the materialized build
  * when a non-local master has no shared directory configured).
  * Eviction and invalidation CONDEMN directories; a sweep deletes them
  * only after [[Memo.graceMs]], so a lazily-planned frame handed out
  * before the drop still reads its files. */
private[graft] final class FrameMemo(name: String, maxEntries: Int = 32)
    extends SessionMemo[FrameMemo.Snap](name, maxEntries) {

  import FrameMemo.Snap

  // (snapshot, condemnedAt nanos) — deleted by sweep() once older than
  // the grace window, or unconditionally by purge() at JVM exit
  private val condemned =
    new java.util.concurrent.ConcurrentLinkedQueue[(Snap, Long)]()

  private[graft] val bypasses = new java.util.concurrent.atomic.AtomicLong(0)

  /** Return the memoized frame for (inputs, params), computing and
    * snapshotting `build` on first use. `inputs` should be the MINIMAL
    * column projections the operator actually reads (so an unrelated
    * extra column on the caller's frame does not fragment the key).
    * The result is a parquet scan or (bypass) a materialized frame:
    * either way safe to read several times. */
  def getOrCompute(inputs: Seq[DataFrame], params: String)
                  (build: => DataFrame): DataFrame = {
    val spark = inputs.head.sparkSession
    sweep()
    Memo.resolveRootUri(spark) match {
      case None =>
        // non-local master, no shared directory configured: a snapshot
        // would be driver-local and unreadable (or partial) from the
        // executors — materialize the build instead, so the result is
        // still safe to read several times
        bypasses.incrementAndGet()
        build.materialized()
      case Some(rootUri) =>
        val snap = getOrBuild(inputs, params) {
          val root = new HPath(rootUri)
          val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
          // session-scoped, collision-free leaf under the shared root;
          // qualified so read/exists/delete address the FS the write used
          val dir = fs.makeQualified(new HPath(root,
            s"${Memo.sessionId(spark)}/${name}_" +
              java.util.UUID.randomUUID().toString.take(12)))
          build.write.mode("overwrite").parquet(dir.toString)
          // read back once: every hit then passes the schema and runs
          // no inference job
          Snap(fs, dir, spark.read.parquet(dir.toString).schema)
        }
        spark.read.schema(snap.schema).parquet(snap.dir.toString)
    }
  }

  protected override def live(snap: Snap): Boolean = snap.fs.exists(snap.dir)

  protected override def dropped(snap: Snap): Unit =
    condemned.add((snap, java.lang.System.nanoTime()))

  private[graft] override def stats: Map[String, Double] =
    super.stats + ("bypasses" -> bypasses.get().toDouble)

  private[graft] override def resetStats(): Unit = {
    super.resetStats(); bypasses.set(0)
  }

  /** Drop every entry; directories are condemned (grace-deferred), not
    * deleted — an in-flight consumer planned before a publish keeps its
    * files until the grace window lapses. */
  override def invalidate(): Unit = {
    super.invalidate()
    sweep()
  }

  /** Delete condemned directories older than the grace window. Runs
    * inside getOrCompute/invalidate AND on [[Memo]]'s background tick,
    * so a traffic-less server still reaps. */
  private[analytics] override def sweep(): Unit = {
    val cutoff = java.lang.System.nanoTime() - Memo.graceMs * 1000000L
    var head = condemned.peek()
    while (head != null && head._2 <= cutoff) {
      if (condemned.remove(head)) deleteDir(head._1)
      head = condemned.peek()
    }
  }

  /** JVM-exit cleanup: delete every snapshot this memo created — live
    * and condemned, no grace. */
  private[analytics] override def purge(): Unit = {
    invalidate()
    var next = condemned.poll()
    while (next != null) { deleteDir(next._1); next = condemned.poll() }
  }

  private def deleteDir(snap: Snap): Unit =
    try snap.fs.delete(snap.dir, true)
    catch { case _: java.io.IOException => () }
}

private[graft] object FrameMemo {
  private[graft] final case class Snap(fs: FileSystem, dir: HPath,
                                       schema: StructType)
}
