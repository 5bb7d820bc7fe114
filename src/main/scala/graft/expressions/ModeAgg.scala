package graft.expressions

import org.apache.spark.sql.{Column, GraftSqlShims}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types.{DataType, LongType}

/** Custom Catalyst aggregate: the PLURALITY value (statistical mode) of
  * a group of bigints with the deterministic (count desc, value asc)
  * tie-break — in ONE aggregate pass. The composed form
  * (groupBy(k, v).count → groupBy(k).argmax) pays two full shuffles;
  * this pays one, with map-side partials carrying a value→count map per
  * group whose size is the group's DISTINCT value count (bounded by
  * construction at every call site: neighbor labels per node, category
  * codes per segment — never raw row counts).
  *
  * `merge` adds counts, so the result is partitioning-invariant, and
  * the tie-break makes it deterministic — the same (count DESC, value
  * ASC) ranking any SQL oracle replays with one window.
  */
case class ModeAgg(
    child: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[scala.collection.mutable.LongMap[Long]]
  with UnaryLike[Expression] {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_mode"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_mode expects a bigint value, got ${child.dataType.catalogString}")

  override def createAggregationBuffer(): scala.collection.mutable.LongMap[Long] =
    scala.collection.mutable.LongMap.empty[Long]

  override def update(buf: scala.collection.mutable.LongMap[Long],
                      input: InternalRow): scala.collection.mutable.LongMap[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val k = v.asInstanceOf[Long]
      buf(k) = buf.getOrElse(k, 0L) + 1L
    }
    buf
  }

  override def merge(buf: scala.collection.mutable.LongMap[Long],
                     other: scala.collection.mutable.LongMap[Long])
  : scala.collection.mutable.LongMap[Long] = {
    other.foreach { case (k, c) => buf(k) = buf.getOrElse(k, 0L) + c }
    buf
  }

  override def eval(buf: scala.collection.mutable.LongMap[Long]): Any = {
    if (buf.isEmpty) return null
    var bestV = 0L
    var bestC = -1L
    buf.foreach { case (k, c) =>
      if (c > bestC || (c == bestC && k < bestV)) { bestV = k; bestC = c }
    }
    bestV
  }

  override def serialize(buf: scala.collection.mutable.LongMap[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(buf.size * 16)
    buf.foreach { case (k, c) => bb.putLong(k); bb.putLong(c) }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): scala.collection.mutable.LongMap[Long] = {
    val m = scala.collection.mutable.LongMap.empty[Long]
    val bb = java.nio.ByteBuffer.wrap(bytes)
    while (bb.remaining() >= 16) m(bb.getLong()) = bb.getLong()
    m
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): ModeAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): ModeAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): ModeAgg =
    copy(child = newChild)
}

object ModeAgg {
  /** The most frequent bigint of a group, ties to the smallest value. */
  def mode(value: Column): Column = GraftSqlShims.column(
    ModeAgg(GraftSqlShims.expression(value)).toAggregateExpression())
}
