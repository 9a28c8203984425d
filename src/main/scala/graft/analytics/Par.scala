package graft.analytics

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.types.{StructField, StructType}

/** Parallelism guard for CPU-heavy map stages. A small input file (one
  * parquet row group) plans as ONE scan partition, so everything fused
  * above the first exchange — tokenization, shingling, hashing, vector
  * math — runs on one core while the rest idle. At corpus scale inputs
  * have thousands of splits and this helper is a NO-OP (no added shuffle);
  * it only round-robins when the scan is pathologically under-split
  * relative to the cluster's slots.
  */
object Par {

  /** ANSI-safe ratio: `num / den` with a NULL-on-nonpositive denominator.
    * Spark's ANSI mode (this project's sessions) evaluates division
    * EAGERLY as a shared subexpression, so `when(den > 0, num / den)`
    * still throws DIVIDE_BY_ZERO when den = 0 — the guard must live on
    * the denominator itself. Every ratio in the analytics package routes
    * through here so the next one cannot reintroduce the bug class. */
  def safeDiv(num: org.apache.spark.sql.Column,
              den: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    num / org.apache.spark.sql.functions.when(den > 0, den)

  /** Materialize a Dataset and truncate its lineage. Every iterative or
    * multi-consumer operator in the engine routes through here (never
    * calling `localCheckpoint` directly), so the materialization strategy
    * is a single deployment decision:
    *
    *   - default: `localCheckpoint()` — blocks live on executors, zero
    *     extra IO. Right for local mode and stable clusters, but the
    *     truncated lineage means a LOST EXECUTOR kills the job (no
    *     recompute path).
    *   - reliable: when a checkpoint directory is configured — either
    *     `spark.graft.checkpoint.dir` in the session conf or an existing
    *     `SparkContext.setCheckpointDir` — upgrades to `checkpoint()`,
    *     which writes the blocks to that (HDFS/S3) directory and survives
    *     executor loss/preemption. This is the posture for a 1000-executor
    *     run with dynamic allocation or spot instances; the write cost is
    *     bounded because every materialized table in this engine is a
    *     compressed intermediate (signatures, edges, model grids), not the
    *     raw corpus.
    *
    * Both paths are eager, so callers may `unpersist` their inputs
    * immediately after — the cache-release contracts in Dedup/Graph/etc.
    * hold under either strategy. Long-lived reliable-path sessions
    * should also set `spark.cleaner.referenceTracking.cleanCheckpoints=
    * true` (a STARTUP conf — the cleanup registration reads it when a
    * checkpoint is created) so checkpoint files are reaped when their
    * RDDs are GC'd — otherwise the checkpoint dir grows with every
    * materialization.
    *
    * Adoption of `spark.graft.checkpoint.dir` is ONE-WAY and sticky:
    * the conf is consulted only while the SparkContext has no
    * checkpoint dir, so the first materialize call pins it for the
    * session and later conf changes have no effect (SparkContext offers
    * no unset; tests reset via `setCheckpointDir(null)`). The guard
    * below keeps two concurrent first calls from racing the adoption.
    */
  def materialize[T](ds: Dataset[T]): Dataset[T] = {
    val spark = ds.sparkSession
    val sc = spark.sparkContext
    if (sc.getCheckpointDir.isEmpty) Par.synchronized {
      if (sc.getCheckpointDir.isEmpty)
        spark.conf.getOption("spark.graft.checkpoint.dir")
          .foreach(sc.setCheckpointDir)
    }
    if (sc.getCheckpointDir.isDefined) {
      // a bare checkpoint(eager) computes the subtree TWICE — the eager
      // action once, then the ReliableCheckpointRDD write job re-runs
      // the lineage. Persist first so the write job reads the blocks
      // the eager action produced (the standard persist-then-checkpoint
      // idiom), and release the cache after — the checkpoint files
      // carry the data from here. (Cache substitution happens when the
      // physical plan is first forced, which for a fresh frame is the
      // checkpoint action itself.)
      ds.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try ds.checkpoint(eager = true)
      finally ds.unpersist()
    }
    // MEMORY_AND_DISK_SER was TRIED here and reverted on a bracketed
    // A/B (array-heavy subset steady 10.9 s -> 12.9 s): at bench
    // volumes the per-reuse deserialization tax beats the block-manager
    // pressure it relieves; the 10x-memory-pressure win it showed on
    // one op did not generalize
    else ds.localCheckpoint(eager = true)
  }

  /** [[materialize]] with the population DEFERRED to the caller's next
    * action over the RETURNED frame: the logical plan is truncated to a
    * leaf immediately (so fixed-iteration loops keep O(1) plans), but
    * no job runs here — the caller's own action (a normalizer
    * aggregate, a count it needed anyway) computes and caches the
    * blocks, folding what was two driver actions per loop round into
    * one. Measured on q199's 10 MM rounds: the round floor is the
    * action-scheduling cost, so halving actions halves it.
    *
    * Contract differences from [[materialize]] (both deliberate):
    *  - the caller MUST run an action on the returned frame before
    *    unpersisting/mutating anything upstream — until then the frame
    *    still computes through the original lineage;
    *  - the action must touch EVERY partition (aggregates and counts
    *    do; a limit does not) or later consumers recompute the rest;
    *  - on the reliable-checkpoint posture (preemptible clusters,
    *    `spark.graft.checkpoint.dir` set) this FALLS BACK to the eager
    *    reliable path: a lazy reliable checkpoint re-runs lineage in
    *    the write job (the compute-twice trap the eager idiom exists
    *    to avoid), and executor-loss safety is worth one extra action
    *    per round there. */
  def materializeLazy[T](ds: Dataset[T]): Dataset[T] = {
    val sc = ds.sparkSession.sparkContext
    if (sc.getCheckpointDir.isDefined ||
        ds.sparkSession.conf.getOption("spark.graft.checkpoint.dir").isDefined)
      materialize(ds)
    else ds.localCheckpoint(eager = false)
  }

  /** Chaining sugar for [[materialize]]: `df.materialized()`. */
  implicit class Mat[T](private val ds: Dataset[T]) extends AnyVal {
    def materialized(): Dataset[T] = materialize(ds)
    def lazyMaterialized(): Dataset[T] = materializeLazy(ds)
  }

  /** Default threshold and (local, distributed) decision counts per gate. */
  private val gates: Map[String, (Long, AtomicLong, AtomicLong)] =
    Seq("graph" -> 500000L, "bt" -> 200000L, "mmr" -> 2000000L,
      "cumsum" -> 4000000L, "bpe" -> 2000000L)
      .map { case (n, d) => n -> (d, new AtomicLong, new AtomicLong) }.toMap

  /** The one driver-vs-distributed decision: true (take the LOCAL branch
    * — a driver-side replay over one collect, or one window task) iff
    * `0 < Σ sizes <= spark.graft.gate.<name>`, the sum saturating at
    * `Long.MaxValue`. At dictionary size a distributed loop costs pure
    * per-round stage scheduling (the q199 A/B measured the per-round
    * work at milliseconds); above the gate it is the 100-TB path. Both
    * branches fold the same arithmetic, spec-pinned per operator, and
    * return the same schema, nullability included: a local epilogue
    * declares each field as the distributed plan derives it. A
    * threshold of 0 forces the distributed branch, a large one the local
    * branch; every decision is counted in [[gateStats]].
    * {{{
    * gate    conf key                 default  size counted
    * graph   spark.graft.gate.graph   500000   pageRank: canonical edge rows;
    *                                           kCore, labelPropagation:
    *                                           non-loop edge rows;
    *                                           CategoryPath.resolveSegs:
    *                                           dimension rows;
    *                                           connectedComponents:
    *                                           materialized pair rows
    * bt      spark.graft.gate.bt      200000   bradleyTerry match-table rows
    * mmr     spark.graft.gate.mmr     2000000  mmrRerankFrom shortlist rows
    *                                           + Σ per-qid candidates²
    * cumsum  spark.graft.gate.cumsum  4000000  gridCumSum grid rows (exact
    *                                           or the caller's estimate)
    * bpe     spark.graft.gate.bpe     2000000  Bpe.train materialized vocab
    *                                           rows
    * }}}
    * Type and null guards stay at the call sites: labelPropagation and
    * mmrRerankFrom ask only for orderable ids, and an mmr shortlist
    * holding nulls falls through after a local decision. */
  def gate(spark: SparkSession, name: String, sizes: Long*): Boolean = {
    val (default, local, distributed) = gates.getOrElse(name,
      throw new IllegalArgumentException(s"unknown size gate '$name' " +
        s"(known: ${gates.keys.toSeq.sorted.mkString(", ")})"))
    val key = s"spark.graft.gate.$name"
    val raw = spark.conf.get(key, default.toString)
    val threshold = raw.trim.toLongOption.getOrElse(
      throw new IllegalArgumentException(
        s"$key must be a whole number of rows, got '$raw'"))
    val total = sizes.foldLeft(0L)((acc, n) =>
      if (acc > Long.MaxValue - n) Long.MaxValue else acc + n)
    val isLocal = total > 0 && total <= threshold
    (if (isLocal) local else distributed).incrementAndGet()
    isLocal
  }

  /** Decisions per gate since the last [[resetGateStats]], every gate
    * listed: `gate -> Map("local" -> n, "distributed" -> n)`. */
  def gateStats(): Map[String, Map[String, Long]] =
    gates.map { case (n, (_, l, d)) =>
      n -> Map("local" -> l.get(), "distributed" -> d.get()) }

  /** Reset the [[gateStats]] counters (bench isolation). */
  private[graft] def resetGateStats(): Unit =
    gates.values.foreach { case (_, l, d) => l.set(0); d.set(0) }

  /** A driver-computed result as a frame over the default parallelism:
    * the epilogue of every local gate branch. */
  def localFrame(spark: SparkSession, fields: Seq[StructField],
                 rows: Seq[Row]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, spark.sparkContext.defaultParallelism),
      StructType(fields))

  def ensure(df: DataFrame): DataFrame = {
    val want = df.sparkSession.sparkContext.defaultParallelism
    // getNumPartitions plans the RDD but runs no job
    if (df.rdd.getNumPartitions * 2 < want) df.repartition(want) else df
  }
}
