package graft.expressions

import org.apache.spark.sql.{Column, GraftSqlShims}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types.{BinaryType, DataType}

/** Custom Catalyst aggregate: an EXACT distinct-id bitmap per group —
  * the precomputed-cohort pattern OLAP engines ship as roaring bitmaps
  * (Druid/ClickHouse/Pinot): materialize each segment's member-id set
  * once as a compact mergeable artifact, then answer audience overlap /
  * frequency questions by set algebra on the artifacts, never
  * re-scanning the fact table. The HLL sketch ([[HllAgg]]) answers
  * "how many"; the bitmap answers "who" and supports EXACT
  * intersections — the two artifacts bracket the cardinality-
  * infrastructure trade.
  *
  * Buffer: an open-addressing long set (no boxing); `merge` is set
  * union, so map-side partial aggregation reduces the shuffle to one
  * set per (partition, group). `eval`/`serialize` emit the SORTED
  * member array as bytes (8 B big-endian per id) — deterministic for a
  * fixed input set regardless of partitioning, so downstream set
  * algebra ([[BitmapAgg.intersectCount]]: one sorted-merge walk) and
  * the SQL oracle agree bit-for-bit. A production variant swaps the
  * payload for RoaringBitmap compression; the aggregate contract
  * (union-mergeable exact set, sorted canonical serialization) is the
  * load-bearing part.
  *
  * State is O(distinct ids per group) — the honest cost of exactness;
  * groups past memory scale switch to [[HllAgg]] or shard the bitmap by
  * id range (both standard; the q57 cohort query's groups are segment
  * dimensions, bounded by construction).
  */
case class BitmapAgg(
    child: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[scala.collection.mutable.LongMap[Unit]]
  with UnaryLike[Expression] {

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_bitmap"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == org.apache.spark.sql.types.LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_bitmap expects a bigint id, got ${child.dataType.catalogString}")

  override def createAggregationBuffer(): scala.collection.mutable.LongMap[Unit] =
    scala.collection.mutable.LongMap.empty[Unit]

  override def update(buf: scala.collection.mutable.LongMap[Unit],
                      input: InternalRow): scala.collection.mutable.LongMap[Unit] = {
    val v = child.eval(input)
    if (v != null) buf(v.asInstanceOf[Long]) = ()
    buf
  }

  override def merge(buf: scala.collection.mutable.LongMap[Unit],
                     other: scala.collection.mutable.LongMap[Unit])
  : scala.collection.mutable.LongMap[Unit] = {
    other.foreachKey(k => buf(k) = ())
    buf
  }

  override def eval(buf: scala.collection.mutable.LongMap[Unit]): Any =
    BitmapAgg.toBytes(buf)

  override def serialize(buf: scala.collection.mutable.LongMap[Unit]): Array[Byte] =
    BitmapAgg.toBytes(buf)

  override def deserialize(bytes: Array[Byte]): scala.collection.mutable.LongMap[Unit] = {
    val m = scala.collection.mutable.LongMap.empty[Unit]
    val bb = java.nio.ByteBuffer.wrap(bytes)
    while (bb.remaining() >= 8) m(bb.getLong()) = ()
    m
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): BitmapAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BitmapAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): BitmapAgg =
    copy(child = newChild)
}

object BitmapAgg {

  /** Canonical serialization: sorted distinct ids, 8 B big-endian each. */
  def toBytes(buf: scala.collection.mutable.LongMap[Unit]): Array[Byte] = {
    val arr = new Array[Long](buf.size)
    var i = 0
    buf.foreachKey { k => arr(i) = k; i += 1 }
    java.util.Arrays.sort(arr)
    val bb = java.nio.ByteBuffer.allocate(arr.length * 8)
    arr.foreach(bb.putLong)
    bb.array()
  }

  /** Member count of a serialized bitmap. */
  def cardinality(bm: Array[Byte]): Long = bm.length / 8

  /** Exact |A ∩ B| by one sorted-merge walk over the two canonical
    * serializations — O(|A| + |B|), no deserialization to a set.
    */
  def intersectCount(a: Array[Byte], b: Array[Byte]): Long = {
    val ba = java.nio.ByteBuffer.wrap(a)
    val bb = java.nio.ByteBuffer.wrap(b)
    var n = 0L
    var haveA = ba.remaining() >= 8
    var haveB = bb.remaining() >= 8
    var va = if (haveA) ba.getLong() else 0L
    var vb = if (haveB) bb.getLong() else 0L
    while (haveA && haveB) {
      if (va == vb) {
        n += 1
        haveA = ba.remaining() >= 8; if (haveA) va = ba.getLong()
        haveB = bb.remaining() >= 8; if (haveB) vb = bb.getLong()
      } else if (va < vb) {
        haveA = ba.remaining() >= 8; if (haveA) va = ba.getLong()
      } else {
        haveB = bb.remaining() >= 8; if (haveB) vb = bb.getLong()
      }
    }
    n
  }

  /** The sorted distinct ids of a group as a bitmap artifact. */
  def bitmap(id: Column): Column = GraftSqlShims.column(
    BitmapAgg(GraftSqlShims.expression(id)).toAggregateExpression())
}
