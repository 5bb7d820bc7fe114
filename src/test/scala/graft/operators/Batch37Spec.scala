package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.Tables

/** Pins for batch 37: the DP release's determinism and noise shape, and
  * the streaming HLL's equality with the batch sketch.
  */
class Batch37Spec extends AnyFunSuite {
  import SparkTestSession._

  test("DP counts: deterministic, noisy, and plausibly Laplace(1)") {
    val a = Governance.dpCounts(spark, sf).collect()
      .map(r => (r.getInt(0), r.getString(1)) -> r.getDouble(2)).toMap
    val b = Governance.dpCounts(spark, sf).collect()
      .map(r => (r.getInt(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(a == b, "release must be replayable")
    val exact = Tables.customer(spark, sf)
      .groupBy("c_nationkey", "c_mktsegment").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getInt(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(a.keySet == exact.keySet)
    val noises = exact.map { case (k, n) => a(k) - n }
    // Laplace(b=1): mean |noise| = 1; over ~100 groups the sample mean
    // lands well inside [0.4, 2.5], and noise actually perturbs
    assert(noises.count(_ != 0.0) == noises.size)
    val meanAbs = noises.map(math.abs).sum / noises.size
    assert(meanAbs > 0.4 && meanAbs < 2.5, s"mean |noise| $meanAbs")
  }

  test("streaming HLL equals the batch sketch per hour window") {
    val streamed = graft.streaming.StreamOps.streamHllUsers(spark, sf)
      .collect().map(r => r.getTimestamp(0) -> r.getLong(1)).toMap
    val batch = Tables.events(spark, sf)
      .groupBy(date_trunc("hour", col("ts")).as("win_start"))
      .agg(graft.expressions.HllAgg.hll(col("user_id")).as("est"))
      .collect().map(r => r.getTimestamp(0) -> r.getLong(1)).toMap
    assert(streamed.nonEmpty)
    assert(streamed == batch)
    // and the estimates track the exact counts within sketch error
    val exact = Tables.events(spark, sf)
      .groupBy(date_trunc("hour", col("ts")).as("win_start"))
      .agg(countDistinct("user_id").as("n"))
      .collect().map(r => r.getTimestamp(0) -> r.getLong(1)).toMap
    exact.foreach { case (k, n) =>
      assert(math.abs(streamed(k) - n) <= math.max(2.0, 0.05 * n))
    }
  }
}
