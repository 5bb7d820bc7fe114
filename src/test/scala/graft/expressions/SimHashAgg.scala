package graft.expressions

import java.nio.ByteBuffer

import org.apache.spark.sql.{Column, GraftSqlShims}
import org.apache.spark.sql.functions.{lit, shiftright, shiftrightunsigned, when}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types.{DataType, LongType}

/** Reference aggregate for the simhash kernels: the 64-bit SimHash
  * (Charikar 2002) of a group of token hashes in ONE aggregate. The
  * buffer is 65 longs — one set-bit count per signature bit plus the
  * token count; `merge` is elementwise add, so map-side partial
  * aggregation applies. Signature bit b is set iff more than half the
  * token hashes set bit b (2·count > n ⟺ the ±1 vote sum is positive).
  * The declarative signature pipelines in
  * `graft.operators.SignatureReference` aggregate with it; the engine's
  * one-pass kernels (`TextFunctions.tokenSimhash`,
  * `Multimodal.phashSignaturesKernel`) are pinned bit-equal against
  * them.
  */
case class SimHashAgg(
    child: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] with UnaryLike[Expression] {

  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_simhash"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_simhash expects a bigint token hash, got ${child.dataType.catalogString}")

  override def createAggregationBuffer(): Array[Long] = new Array[Long](65)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val h = v.asInstanceOf[Long]
      var b = 0
      while (b < 64) { buf(b) += (h >>> b) & 1L; b += 1 }
      buf(64) += 1
    }
    buf
  }

  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] = {
    var i = 0
    while (i < 65) { buf(i) += other(i); i += 1 }
    buf
  }

  override def eval(buf: Array[Long]): Any = {
    val n = buf(64)
    var sig = 0L
    var b = 0
    while (b < 64) {
      if (buf(b) * 2 > n) sig |= (1L << b)
      b += 1
    }
    sig
  }

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(65 * 8)
    buf.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    Array.fill(65)(bb.getLong)
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): SimHashAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): SimHashAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): SimHashAgg =
    copy(child = newChild)
}

object SimHashAgg {
  /** The SimHash of a group's bigint token hashes. */
  def simhash(h: Column): Column = GraftSqlShims.column(
    SimHashAgg(GraftSqlShims.expression(h)).toAggregateExpression())

  /** Packed SimHash bit-count term in Column form: bits 4g..4g+3 of the
    * token hash, each as a 16-bit count field of one long (caps at 65,535
    * tokens per document). With [[fromPacked]] it documents the counting
    * rule and pins the aggregate's correctness.
    */
  def packedVotes(tokenHash: Column, group: Int): Column =
    (0 until 4).map { k =>
      shiftright(tokenHash, group * 4 + k).bitwiseAND(1) * lit(1L << (16 * k))
    }.reduce(_ + _)

  /** Assemble the 64-bit signature from 16 packed count sums + the token
    * count: bit b is set iff more than half the token hashes set bit b
    * (2·count > n ⟺ the ±1 vote sum is positive). Disjoint bit
    * contributions combine with +, which equals OR here (including the
    * sign bit: two's-complement add wraps).
    */
  def fromPacked(packed: Seq[Column], nTokens: Column): Column =
    (0 until 64).map { b =>
      val cnt = shiftrightunsigned(packed(b / 4), 16 * (b % 4)).bitwiseAND(0xFFFFL)
      when(cnt * 2 > nTokens, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
}
