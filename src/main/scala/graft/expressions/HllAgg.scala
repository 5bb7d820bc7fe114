package graft.expressions

import org.apache.spark.sql.{Column, GraftSqlShims}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types.{DataType, LongType}

/** Custom Catalyst aggregate: HyperLogLog (Flajolet et al., AofA 2007)
  * over 64-bit element tokens — the mergeable distinct-count sketch that
  * makes grouped COUNT(DISTINCT) an O(registers)-state aggregate at
  * 100 TB, where the exact form shuffles every distinct (group, element)
  * pair. Distinct from Spark's built-in approx_count_distinct on
  * purpose: the register array here is a first-class byte buffer a
  * caller can persist next to the data (the index-metadata pattern ANN
  * uses), merge across days, and diff across snapshots — the sketch IS
  * the artifact, not just the estimate.
  *
  * Geometry: 2^p byte registers. `update` mixes the token through the
  * splitmix64 finalizer (decorrelates sequential ids), takes the top p
  * bits as the register index and the leading-zero rank of the
  * remainder as the candidate value; `merge` is elementwise max, so
  * map-side partials reduce the shuffle to one 4 KiB sketch per
  * (partition, group). `eval` returns the bias-corrected estimate with
  * the standard linear-counting fallback below 2.5·m (empty-register
  * counting is near-exact exactly where HLL's harmonic estimator is
  * weakest). Relative error ≈ 1.04/√(2^p) ≈ 1.6% at the default p=12.
  *
  * Everything is deterministic for a fixed input SET (max is
  * order-insensitive), so estimates are bit-stable across partitionings
  * and re-runs — spec-checkable against the exact count even though no
  * SQL engine can replay the sketch.
  */
case class HllAgg(
    child: Expression,
    p: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Byte]] with UnaryLike[Expression] {

  require(p >= 4 && p <= 16, "p must be in [4, 16]")
  private val m = 1 << p

  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_hll"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_hll expects a bigint token, got ${child.dataType.catalogString}")

  override def createAggregationBuffer(): Array[Byte] = new Array[Byte](m)

  override def update(buf: Array[Byte], input: InternalRow): Array[Byte] = {
    val v = child.eval(input)
    if (v != null) {
      val h = HllAgg.mix(v.asInstanceOf[Long])
      val idx = (h >>> (64 - p)).toInt
      // rank = leading zeros of the remaining 64-p bits, plus one;
      // shifting the index bits out keeps the two fields independent
      val rest = h << p
      val rank = (if (rest == 0L) 64 - p
                  else java.lang.Long.numberOfLeadingZeros(rest)) + 1
      if (rank > buf(idx)) buf(idx) = rank.toByte
    }
    buf
  }

  override def merge(buf: Array[Byte], other: Array[Byte]): Array[Byte] = {
    var i = 0
    while (i < m) {
      if (other(i) > buf(i)) buf(i) = other(i)
      i += 1
    }
    buf
  }

  override def eval(buf: Array[Byte]): Any = HllAgg.estimate(buf, p)

  override def serialize(buf: Array[Byte]): Array[Byte] = buf
  override def deserialize(bytes: Array[Byte]): Array[Byte] = bytes

  override def withNewMutableAggBufferOffset(newOffset: Int): HllAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): HllAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): HllAgg =
    copy(child = newChild)
}

object HllAgg {

  val DefaultP = 12 // 4096 registers = 4 KiB, σ ≈ 1.6%

  /** splitmix64 finalizer. */
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Bias-corrected harmonic estimate with linear-counting fallback. */
  def estimate(regs: Array[Byte], p: Int): Long = {
    val m = 1 << p
    val alpha = m match {
      case 16 => 0.673
      case 32 => 0.697
      case 64 => 0.709
      case _  => 0.7213 / (1.0 + 1.079 / m)
    }
    var invSum = 0.0
    var zeros = 0
    var i = 0
    while (i < m) {
      invSum += java.lang.Math.pow(2.0, -regs(i).toDouble)
      if (regs(i) == 0) zeros += 1
      i += 1
    }
    val raw = alpha * m.toDouble * m.toDouble / invSum
    val est =
      if (raw <= 2.5 * m && zeros > 0) m * math.log(m.toDouble / zeros)
      else raw
    math.rint(est).toLong
  }

  /** The distinct-count estimate of a bigint token column, with the
    * default p=12 geometry.
    */
  def hll(token: Column): Column = GraftSqlShims.column(
    HllAgg(GraftSqlShims.expression(token), DefaultP).toAggregateExpression())
}
