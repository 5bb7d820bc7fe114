package graft.expressions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SparkTestSession.spark

class ModeAggSpec extends AnyFunSuite {

  test("mode matches the ranked two-phase form and ignores partitioning") {
    import spark.implicits._
    val rows = Seq(
      (1L, 10L), (1L, 10L), (1L, 20L),           // clear winner 10
      (2L, 5L), (2L, 7L), (2L, 5L), (2L, 7L),    // tie → smaller value 5
      (3L, 42L))                                  // singleton
    val df = rows.toDF("k", "v")
    def modes(d: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      d.groupBy("k").agg(ModeAgg.mode(col("v")).as("m"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = Map(1L -> 10L, 2L -> 5L, 3L -> 42L)
    assert(modes(df) === expected)
    assert(modes(df.repartition(7, col("v"))) === expected)
    // nulls are ignored; all-null groups yield null
    val withNulls = Seq((1L, Some(3L)), (1L, None), (4L, None))
      .toDF("k", "v")
    val r = withNulls.groupBy("k")
      .agg(ModeAgg.mode(col("v")).as("m"))
      .collect().map(x => x.getLong(0) -> (if (x.isNullAt(1)) None else Some(x.getLong(1)))).toMap
    assert(r === Map(1L -> Some(3L), 4L -> None))
  }
}
