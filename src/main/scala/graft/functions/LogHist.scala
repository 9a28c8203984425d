package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** HDR-style base-2 log-linear histogram as a native aggregate: counts of
  * positive int64 values in buckets whose width grows geometrically with
  * `2^subBits` sub-buckets per octave — the mergeable quantile sketch
  * (HdrHistogram / DDSketch family) with a guaranteed relative rank-value
  * error under `2^-subBits` per estimate.
  *
  * Bucketing is PURE INTEGER arithmetic (no `log()` anywhere), so the
  * sketch is deterministic and engine-portable — a DuckDB oracle
  * reproduces every bucket index bit-for-bit from `length(bin(x))` and
  * shifts, unlike float `floor(log2(x))` whose boundary rounding is
  * implementation-defined. For `e = floor(log2 x)` and `s = subBits`:
  *
  *  - `x < 2^s`           -> `idx = x` (small values EXACT, one per bucket)
  *  - otherwise           -> `idx = (e-s+1)*2^s + (x >> (e-s)) - 2^s`
  *
  * so each octave `[2^e, 2^(e+1))` splits into `2^s` equal sub-buckets of
  * width `2^(e-s)`; bucket `idx`'s lower bound is
  * `((idx % 2^s) + 2^s) << (idx/2^s - 1)`. Total buckets for any positive
  * int64: `(64-s) * 2^s` (960 at s=4) — the HARD-BOUNDED per-group state.
  *
  * Why a custom [[TypedImperativeAggregate]]: one fixed-size long array
  * per group, map-side partial updates, merges by element-wise addition —
  * the shape that gives per-key latency/length percentiles over 10^12
  * rows in ONE pass with no per-group sort, and that a streaming state
  * store can hold and merge across triggers. Exact `percentile()` needs
  * every distinct value per group; this needs 7.5 KB.
  *
  * Null and non-positive inputs are ignored (documented contract: the
  * sketch covers `x >= 1`; size/latency/count columns satisfy this).
  * Returns the DENSE `array<bigint>` of bucket counts, ascending by idx.
  */
case class LogHist(child: Expression, subBits: Int,
                   mutableAggBufferOffset: Int = 0,
                   inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Long]]
    with UnaryLike[Expression] {
  require(subBits >= 1 && subBits <= 8, "subBits must be in [1, 8]")

  private val s = subBits
  private val nBuckets = (64 - s) << s

  override def prettyName: String = "log_hist"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false

  override def checkInputDataTypes():
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType != LongType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects a BIGINT input, got ${child.dataType.sql}")
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess

  override def createAggregationBuffer(): Array[Long] = new Array[Long](nBuckets)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val x = v.asInstanceOf[Long]
      if (x >= 1) buf(LogHist.bucketIndex(x, s)) += 1L
    }
    buf
  }

  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] = {
    var i = 0
    while (i < nBuckets) { buf(i) += other(i); i += 1 }
    buf
  }

  override def eval(buf: Array[Long]): Any = {
    val out = new Array[Any](nBuckets)
    var i = 0
    while (i < nBuckets) { out(i) = buf(i); i += 1 }
    new GenericArrayData(out)
  }

  /** Sparse (idx: int, count: long) pairs — almost all buckets are empty
    * in any real distribution, so partials ship ~12 bytes per NON-EMPTY
    * bucket instead of the dense 7.5 KB. */
  override def serialize(buf: Array[Long]): Array[Byte] = {
    var nz = 0
    var i = 0
    while (i < nBuckets) { if (buf(i) != 0L) nz += 1; i += 1 }
    val bb = ByteBuffer.allocate(nz * 12)
    i = 0
    while (i < nBuckets) {
      if (buf(i) != 0L) { bb.putInt(i); bb.putLong(buf(i)) }
      i += 1
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val buf = createAggregationBuffer()
    val bb = ByteBuffer.wrap(bytes)
    while (bb.remaining() >= 12) {
      val i = bb.getInt()
      buf(i) = bb.getLong()
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): LogHist =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): LogHist =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): LogHist =
    copy(child = newChild)
}

object LogHist {

  /** Bucket index of `x >= 1` at `s` sub-bucket bits — the integer form
    * the Scaladoc above derives; `e = 63 - nlz(x) = length(bin(x)) - 1`. */
  def bucketIndex(x: Long, s: Int): Int = {
    val e = 63 - java.lang.Long.numberOfLeadingZeros(x)
    if (e < s) x.toInt
    else (((e - s + 1) << s) + (x >>> (e - s)) - (1 << s)).toInt
  }

  /** Inclusive lower bound of bucket `idx` (the quantile estimate the
    * sketch reports: largest representable value `<=` every member) —
    * the scalar form specs check the Column pipeline's bound against. */
  private[graft] def lowerBound(idx: Int, s: Int): Long =
    if (idx < (1 << s)) idx.toLong
    else ((idx % (1 << s)) + (1L << s)) << ((idx >> s) - 1)

  /** Aggregate Column: dense `array<bigint>` of `(64-s)*2^s` bucket counts. */
  def histCounts(c: Column, subBits: Int): Column =
    ColumnBridge.column(
      LogHist(ColumnBridge.expression(c), subBits).toAggregateExpression())
}
