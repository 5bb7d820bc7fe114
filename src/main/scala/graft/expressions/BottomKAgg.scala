package graft.expressions

import java.nio.ByteBuffer

import org.apache.spark.sql.{Column, GraftSqlShims}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Custom Catalyst aggregate: bounded BOTTOM-k of (key, id) long pairs
  * per group, ordered key ASC with id ASC tie-break, DISTINCT on the
  * pair — the deterministic uniform-sample / KMV primitive: with
  * key = hash(id), the k minima are a uniform k-sample of the distinct
  * ids (every id's hash is an iid uniform draw, so the bottom set is an
  * order statistic — the classic replacement for reservoir sampling
  * that is MERGEABLE and replayable: Algorithm R's sample depends on
  * arrival order and RNG state; the bottom-k set is a pure function of
  * the id SET). The same buffer is the KMV distinct-count sketch
  * (estimate (k−1)/kth-min normalized) — one artifact, two uses.
  *
  * Keys are exact LONGS (not doubles) so a SQL oracle ranking by the
  * same hash replays the sample bit-for-bit — a double score would
  * round 60-bit hashes into collisions. State is k pairs per group with
  * map-side partials; merge keeps the k overall minima, so the result
  * is partitioning- and arrival-order-invariant.
  */
case class BottomKAgg(
    key: Expression,
    id: Expression,
    k: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[BottomKAgg.Buffer] with BinaryLike[Expression] {

  require(k > 0, "k must be positive")

  override def left: Expression = key
  override def right: Expression = id
  override def prettyName: String = "graft_bottomk"
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("key", LongType, nullable = false),
      StructField("id", LongType, nullable = false))), containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (key.dataType == LongType && id.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_bottomk expects (bigint, bigint), got " +
        s"(${key.dataType.catalogString}, ${id.dataType.catalogString})")

  override def createAggregationBuffer(): BottomKAgg.Buffer =
    new BottomKAgg.Buffer(k)

  override def update(buf: BottomKAgg.Buffer, input: InternalRow): BottomKAgg.Buffer = {
    val s = key.eval(input)
    val i = id.eval(input)
    if (s != null && i != null)
      buf.insert(s.asInstanceOf[Long], i.asInstanceOf[Long])
    buf
  }

  override def merge(buf: BottomKAgg.Buffer, other: BottomKAgg.Buffer): BottomKAgg.Buffer = {
    var j = 0
    while (j < other.size) { buf.insert(other.keys(j), other.ids(j)); j += 1 }
    buf
  }

  override def eval(buf: BottomKAgg.Buffer): Any =
    new GenericArrayData((0 until buf.size).map { j =>
      new GenericInternalRow(Array[Any](buf.keys(j), buf.ids(j)))
    }.toArray[Any])

  override def serialize(buf: BottomKAgg.Buffer): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + buf.size * 16)
    bb.putInt(buf.size)
    var j = 0
    while (j < buf.size) { bb.putLong(buf.keys(j)); bb.putLong(buf.ids(j)); j += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): BottomKAgg.Buffer = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = new BottomKAgg.Buffer(k)
    var j = 0
    while (j < n) { buf.insert(bb.getLong, bb.getLong); j += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): BottomKAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BottomKAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BottomKAgg =
    copy(key = newLeft, id = newRight)
}

object BottomKAgg {

  /** Sorted bounded buffer (key asc, id asc), distinct on the exact
    * pair: duplicate observations of an id (same hash) insert once, so
    * the sample is over the distinct id set.
    */
  final class Buffer(val k: Int) {
    val keys = new Array[Long](k)
    val ids = new Array[Long](k)
    var size: Int = 0

    private def beats(s: Long, i: Long, j: Int): Boolean =
      s < keys(j) || (s == keys(j) && i < ids(j))

    def insert(s: Long, i: Long): Unit = {
      // O(1) reject: a full buffer whose current maximum the candidate
      // does not beat cannot change — the hot path once a group has
      // streamed k rows (the common case: most of a large group's rows
      // hash above the running k-th minimum)
      if (size == k && !beats(s, i, size - 1)) return
      // binary search the (key, id)-sorted arrays for the insert point
      var lo = 0
      var hi = size
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (beats(s, i, mid)) hi = mid else lo = mid + 1
      }
      // `beats` is strict, so an exact duplicate pair sits right before
      // the insertion point — distinct check in O(log k), not O(k)
      if (lo > 0 && keys(lo - 1) == s && ids(lo - 1) == i) return
      var pos = math.min(size, k - 1)
      while (pos > lo) {
        keys(pos) = keys(pos - 1)
        ids(pos) = ids(pos - 1)
        pos -= 1
      }
      keys(lo) = s
      ids(lo) = i
      if (size < k) size += 1
    }
  }

  /** The k smallest distinct (key, id) pairs of a group, key asc, id asc. */
  def bottomk(key: Column, id: Column, k: Int): Column = GraftSqlShims.column(
    BottomKAgg(GraftSqlShims.expression(key), GraftSqlShims.expression(id), k)
      .toAggregateExpression())
}
