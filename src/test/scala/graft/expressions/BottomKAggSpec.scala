package graft.expressions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SparkTestSession.spark

class BottomKAggSpec extends AnyFunSuite {

  test("bottom-k sample is distinct, ordered, and partitioning-invariant") {
    import spark.implicits._
    // duplicate observations of the same id must sample once
    val rows = Seq((1L, 50L, 500L), (1L, 50L, 500L), (1L, 10L, 100L),
      (1L, 30L, 300L), (1L, 20L, 200L), (1L, 40L, 400L), (1L, 10L, 100L),
      (2L, 99L, 9L))
    val df = rows.toDF("g", "h", "id")
    def sample(d: org.apache.spark.sql.DataFrame): Map[Long, Seq[(Long, Long)]] =
      d.groupBy("g")
        .agg(BottomKAgg.bottomk(col("h"), col("id"), 3).as("s"))
        .collect()
        .map(r => r.getLong(0) -> r.getSeq[org.apache.spark.sql.Row](1)
          .map(e => (e.getLong(0), e.getLong(1))).toSeq).toMap
    val expected = Map(
      1L -> Seq((10L, 100L), (20L, 200L), (30L, 300L)),
      2L -> Seq((99L, 9L)))
    assert(sample(df) === expected)
    assert(sample(df.repartition(5, col("id"))) === expected)
  }
}
