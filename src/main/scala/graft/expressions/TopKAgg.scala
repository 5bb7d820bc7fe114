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

/** Custom Catalyst aggregate: bounded top-k of (score, id) pairs per
  * group, ordered score DESC with id ASC tie-break — the deterministic
  * ordering the ANN operators use.
  *
  * The Window alternative (`row_number().over(partitionBy(key).orderBy
  * (score.desc, id))` + `filter(rank <= k)`) shuffles and SORTS every
  * scored row: at 10⁹ corpus rows × q queries that is a full sort of the
  * whole score stream. This aggregate keeps a k-element buffer per group
  * with map-side partial aggregation, so each partition contributes at
  * most k candidates per group to the shuffle — the sort disappears and
  * shuffle volume drops from all-rows to groups×k.
  */
case class TopKAgg(
    score: Expression,
    id: Expression,
    k: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKAgg.Buffer] with BinaryLike[Expression] {

  require(k > 0, "k must be positive")

  override def left: Expression = score
  override def right: Expression = id
  override def prettyName: String = "graft_topk"
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("score", DoubleType, nullable = false),
      StructField("id", LongType, nullable = false))), containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (score.dataType == DoubleType && id.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_topk expects (double, bigint), got " +
        s"(${score.dataType.catalogString}, ${id.dataType.catalogString})")

  override def createAggregationBuffer(): TopKAgg.Buffer =
    new TopKAgg.Buffer(k)

  override def update(buf: TopKAgg.Buffer, input: InternalRow): TopKAgg.Buffer = {
    val s = score.eval(input)
    val i = id.eval(input)
    if (s != null && i != null)
      buf.insert(s.asInstanceOf[Double], i.asInstanceOf[Long])
    buf
  }

  override def merge(buf: TopKAgg.Buffer, other: TopKAgg.Buffer): TopKAgg.Buffer = {
    var j = 0
    while (j < other.size) { buf.insert(other.scores(j), other.ids(j)); j += 1 }
    buf
  }

  override def eval(buf: TopKAgg.Buffer): Any =
    new GenericArrayData((0 until buf.size).map { j =>
      new GenericInternalRow(Array[Any](buf.scores(j), buf.ids(j)))
    }.toArray[Any])

  override def serialize(buf: TopKAgg.Buffer): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + buf.size * 16)
    bb.putInt(buf.size)
    var j = 0
    while (j < buf.size) { bb.putDouble(buf.scores(j)); bb.putLong(buf.ids(j)); j += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): TopKAgg.Buffer = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = new TopKAgg.Buffer(k)
    var j = 0
    while (j < n) { buf.insert(bb.getDouble, bb.getLong); j += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): TopKAgg =
    copy(score = newLeft, id = newRight)
}

object TopKAgg {

  /** Sorted bounded buffer (score desc, id asc): linear insertion — k is
    * single-digit for ANN top-k, so a heap would only add constants.
    */
  final class Buffer(val k: Int) {
    val scores = new Array[Double](k)
    val ids = new Array[Long](k)
    var size: Int = 0

    private def beats(s: Double, i: Long, j: Int): Boolean =
      s > scores(j) || (s == scores(j) && i < ids(j))

    def insert(s: Double, i: Long): Unit = {
      if (size < k || beats(s, i, size - 1)) {
        var pos = math.min(size, k - 1)
        while (pos > 0 && beats(s, i, pos - 1)) {
          scores(pos) = scores(pos - 1)
          ids(pos) = ids(pos - 1)
          pos -= 1
        }
        scores(pos) = s
        ids(pos) = i
        if (size < k) size += 1
      }
    }
  }

  /** The k best (score, id) pairs of a group, score desc, id asc. */
  def topk(score: Column, id: Column, k: Int): Column = GraftSqlShims.column(
    TopKAgg(GraftSqlShims.expression(score), GraftSqlShims.expression(id), k)
      .toAggregateExpression())
}
