package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SparkTestSession.{sf, spark}

/** Pin for batch 56: the prefix-sum range join (linear, aggregate-only)
  * equals a match-materializing binned equi-join on the real fixture —
  * exact on the integer count and on the rounded sum — and its plan
  * contains no nested-loop join (the prefix machinery must keep
  * everything equi-join shaped).
  */
class Batch56Spec extends AnyFunSuite {

  test("prefix-sum range join == binned range join on the fixture") {
    val binned = Batch56Spec.binnedRangeJoin(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val prefix = Relational.q25RangeJoinPrefix(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(prefix.keySet === binned.keySet)
    prefix.foreach { case (k, (n, sv)) =>
      val (bn, bsv) = binned(k)
      assert(n === bn, s"count mismatch for supplier $k")
      // the fixture's values are exact micro-units, so the prefix path
      // runs in its FIXED-POINT regime: prefix differences are exact and
      // the only divergence from the binned path is the binned side's own
      // double-sum association error — the rounded cents must be EQUAL
      // (this is what makes the driver's exact-hash gate deterministic)
      assert(sv === bsv, s"sum mismatch for supplier $k: $sv vs $bsv")
    }
  }

  test("prefix-sum range join plan has no nested-loop join") {
    val plan = Relational.q25RangeJoinPrefix(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
  }
}

object Batch56Spec {

  /** The reference form of q25: a binned equi-join over a fixed-width
    * value axis. Each (c−10, c+10) band replicates to the bins it
    * covers, each event maps to one bin, and the exact residual keeps the
    * true matches, so it touches every (band, event) match — Θ(S·N·span/R)
    * pairs. The per-supplier aggregate does not depend on `binW`.
    */
  def q25RangeJoinOf(supplier: DataFrame, events: DataFrame,
                     binW: Double = 10.0): DataFrame = {
    // band center from abs(acctbal) % 500: abs and fmod are exact in IEEE
    // doubles, so both engines derive bit-identical bounds
    val c = abs(col("s_acctbal")) % lit(500.0)
    val ranges = supplier
      .select(col("s_suppkey"), (c - 10.0).as("lo"), (c + 10.0).as("hi"))
      .withColumn("bin", explode(sequence(
        floor(col("lo") / binW).cast("int"), floor(col("hi") / binW).cast("int"))))
    val ev = events
      .select(col("event_id"), col("value"))
      .withColumn("bin", floor(col("value") / binW).cast("int"))
    ranges.join(ev, Seq("bin"))
      .filter(col("value") >= col("lo") && col("value") < col("hi"))
      .groupBy("s_suppkey")
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("sum_v"))
  }

  def binnedRangeJoin(s: SparkSession, dir: String): DataFrame =
    q25RangeJoinOf(graft.Tables.supplier(s, dir), graft.Tables.events(s, dir))
}
