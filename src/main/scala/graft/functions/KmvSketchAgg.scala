package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/** Mutable KMV buffer: the ≤k smallest DISTINCT values seen, kept sorted
  * ascending in a fixed array. Insert = binary search (duplicate rejected,
  * value above the current k-th minimum rejected) + memmove — k is small
  * (64 here), so the O(k) shift is a few cache lines. */
final class KmvBuffer(val k: Int) {
  val vals = new Array[Long](k)
  var size = 0

  def insert(h: Long): Unit = {
    if (size == k && h >= vals(k - 1)) return
    var lo = 0
    var hi = size
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (vals(mid) < h) lo = mid + 1 else hi = mid
    }
    if (lo < size && vals(lo) == h) return // KMV is over DISTINCT values
    val last = if (size == k) k - 1 else size
    System.arraycopy(vals, lo, vals, lo + 1, last - lo)
    vals(lo) = h
    if (size < k) size += 1
  }
}

/** Native KMV (k-minimum-values) cardinality sketch as a
  * `TypedImperativeAggregate` — the [[HllSketchAgg]] tier applied to the
  * OTHER classic distinct sketch (the deterministic one: given the hash
  * function, the k smallest distinct hashes are a pure set property, so a
  * DuckDB oracle replays it bit-for-bit where HLL needs shared register
  * algebra).
  *
  * Why native: the first a25 formulation took the k-th order statistic
  * with a `row_number` window partitioned by group — with FEW groups
  * (documents has a handful of sources) that is one task per group
  * sorting the group's ENTIRE distinct-hash set, a serial n·log n term
  * that the 20× scale probe flagged at 55× (the board's only
  * super-linear row). This aggregate's partial state is the sketch
  * itself — ≤k longs per (group, partition) — so the map side reduces
  * each partition to 64 values, the exchange carries sketches, and no
  * task ever sorts more than merged-sketch size. That is the KMV
  * contract: the k smallest of a union is computable from the k smallest
  * of the parts (merge = insert the other side's values, keep k minima).
  *
  * Output: the ascending array of the ≤k minima (`array<bigint>`) — the
  * mergeable, persistable sketch artifact; the estimate
  * `(k−1) / (h_(k) / 2^32)` stays in the shared expression tree both
  * engines run. Duplicates are rejected INSIDE the buffer, so the input
  * does not need to be pre-deduplicated for the sketch itself (a25 still
  * dedups upstream because its exact-count audit column needs DISTINCT
  * rows anyway).
  */
case class KmvSketchAgg(
    child: Expression,
    k: Int = 64,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[KmvBuffer] {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != LongType)
      TypeCheckResult.TypeCheckFailure(
        s"kmv_sketch_agg expects a bigint hash column, got " +
          child.dataType.simpleString)
    else if (k <= 0)
      TypeCheckResult.TypeCheckFailure(s"kmv_sketch_agg k must be > 0, got $k")
    else TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(child)
  override def prettyName: String = "kmv_sketch_agg"

  override def createAggregationBuffer(): KmvBuffer = new KmvBuffer(k)

  override def update(buf: KmvBuffer, input: InternalRow): KmvBuffer = {
    val v = child.eval(input)
    if (v != null) buf.insert(v.asInstanceOf[Long])
    buf
  }

  override def merge(buf: KmvBuffer, other: KmvBuffer): KmvBuffer = {
    var i = 0
    while (i < other.size) { buf.insert(other.vals(i)); i += 1 }
    buf
  }

  override def eval(buf: KmvBuffer): Any =
    new GenericArrayData(buf.vals.take(buf.size))

  override def serialize(buf: KmvBuffer): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 + 8 * buf.size)
    bb.putInt(buf.size)
    var i = 0
    while (i < buf.size) { bb.putLong(buf.vals(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): KmvBuffer = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = new KmvBuffer(k)
    buf.size = n
    var i = 0
    while (i < n) { buf.vals(i) = bb.getLong; i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(n: Int): KmvSketchAgg =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): KmvSketchAgg =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): KmvSketchAgg =
    copy(child = newChildren.head)
}

object KmvSketchAgg {
  /** The estimate (k−1) / (h_(k) / 2^32) from the k-th smallest distinct
    * 32-bit hash `hk`: one IEEE tree in each spelling (a25, a25b, a34). */
  def estimate(k: Column, hk: Column): Column =
    (k - 1).cast("double") / (hk.cast("double") / 4294967296.0)
  def oEstimate(k: String, hk: String): String =
    s"CAST($k - 1 AS DOUBLE) / (CAST($hk AS DOUBLE) / 4294967296.0)"

  /** `kmv_sketch_agg(h)` or `kmv_sketch_agg(h, k)` with foldable int k.
    * Anything else (wrong arity, non-literal or non-int k) gets a clean
    * analysis-time error rather than a registry MatchError. */
  val builder: PartialFunction[Seq[Expression], Expression] = {
    case Seq(c) => KmvSketchAgg(c)
    case Seq(c, Literal(kk: Int, IntegerType)) => KmvSketchAgg(c, kk)
    case args => throw new IllegalArgumentException(
      s"kmv_sketch_agg expects (bigint[, int literal k]), got " +
        s"${args.length} arg(s): ${args.map(_.sql).mkString(", ")}")
  }
}
