package graft.expressions

import java.nio.ByteBuffer

import org.apache.spark.sql.{Column, GraftSqlShims}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

import graft.functions.TextFunctions

/** Custom Catalyst aggregate: the full `numPerm`-permutation MinHash
  * signature of a group of 64-bit element tokens in ONE aggregate.
  *
  * The Column-level alternative (numPerm separate `min()` aggregates over
  * numPerm permuted-hash projections — the first MinHash signature form)
  * is semantically identical but generates numPerm aggregate buffers of
  * codegen per plan; janino compile time scales with aggregate count and
  * dominated the local wall-time. One TypedImperativeAggregate keeps a
  * primitive long[numPerm] buffer, updates it with a tight loop
  * (h_i(x) = (a_i·(x mod p) + b_i) mod p, Broder's permutation family —
  * TextFunctions.permCoeffs, same coefficients), and supports partial
  * aggregation: `merge` is elementwise min, so map-side combine still
  * shrinks the shuffle to one signature per group per partition.
  */
case class MinHashAgg(
    child: Expression,
    numPerm: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] with UnaryLike[Expression] {

  private lazy val coeffs: Array[(Long, Long)] =
    TextFunctions.permCoeffs(numPerm).toArray
  private val prime = TextFunctions.MinhashPrime

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_minhash"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_minhash expects a bigint token, got ${child.dataType.catalogString}")

  override def createAggregationBuffer(): Array[Long] =
    Array.fill(numPerm)(Long.MaxValue)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val base = java.lang.Math.floorMod(v.asInstanceOf[Long], prime)
      var i = 0
      while (i < numPerm) {
        val (a, b) = coeffs(i)
        val h = java.lang.Math.floorMod(a * base + b, prime)
        if (h < buf(i)) buf(i) = h
        i += 1
      }
    }
    buf
  }

  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] = {
    var i = 0
    while (i < numPerm) {
      if (other(i) < buf(i)) buf(i) = other(i)
      i += 1
    }
    buf
  }

  override def eval(buf: Array[Long]): Any = new GenericArrayData(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(buf.length * 8)
    buf.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    Array.fill(bytes.length / 8)(bb.getLong)
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): MinHashAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MinHashAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): MinHashAgg =
    copy(child = newChild)
}

object MinHashAgg {
  /** The `numPerm`-permutation MinHash signature of a group's tokens. */
  def minhash(token: Column, numPerm: Int): Column = GraftSqlShims.column(
    MinHashAgg(GraftSqlShims.expression(token), numPerm).toAggregateExpression())
}
