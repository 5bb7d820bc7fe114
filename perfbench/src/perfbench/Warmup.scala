package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Engine warm-up, part of every set-up: a first job, then an exchange, a
  * sort-merge join and an aggregate under the [[Fence]], on literal rows
  * only, so no table data is read before the measured ops. It is kept
  * small on purpose: the client's first pass over its ops warms the rest,
  * and the metrics come from the passes after it.
  */
object Warmup {
  def apply(spark: SparkSession): Unit = {
    spark.range(1000000).selectExpr("sum(id)").collect()
    val w = spark.range(256).select(col("id"), (col("id") % 16).as("k"))
    val agg = w.groupBy("k").agg(count(lit(1)).as("c"))
    Fence(w.join(agg.hint("merge"), Seq("k")))
  }
}
