package graft.expressions

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SparkTestSession.spark

class TopKAggSpec extends AnyFunSuite {

  private def viaAgg(df: org.apache.spark.sql.DataFrame, k: Int) = {
    df.groupBy("g")
      .agg(TopKAgg.topk(col("s"), col("i"), k).as("top"))
      .select(col("g"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("g"), col("t.id").as("i"), col("t.score").as("s"),
        (col("pos") + 1).cast("int").as("rank"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
  }

  private def viaWindow(df: org.apache.spark.sql.DataFrame, k: Int) = {
    val w = Window.partitionBy("g").orderBy(col("s").desc, col("i").asc)
    df.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select("g", "i", "s", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
  }

  test("graft_topk equals the row_number window top-k, ties broken by id") {
    import spark.implicits._
    // deterministic data with deliberate score ties across ids
    val rows = for (g <- 0L until 5L; i <- 0L until 200L)
      yield (g, i, ((i * 7919 + g) % 50).toDouble / 10.0)
    val df = rows.toDF("g", "i", "s")
    assert(viaAgg(df, 5) === viaWindow(df, 5))
    assert(viaAgg(df, 1) === viaWindow(df, 1))
  }

  test("graft_topk is invariant to partitioning (merge path) and small groups") {
    import spark.implicits._
    val rows = for (g <- 0L until 3L; i <- 0L until 3L) yield (g, i, i.toDouble)
    val df1 = rows.toDF("g", "i", "s").repartition(1)
    val df7 = rows.toDF("g", "i", "s").repartition(7)
    // k larger than group size: emits the whole group, ranked
    assert(viaAgg(df1, 5) === viaAgg(df7, 5))
    assert(viaAgg(df1, 5) === viaWindow(df1, 5))
  }
}
