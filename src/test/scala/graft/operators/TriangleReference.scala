package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Per-node triangle counts by the DuckDB oracle's algorithm, run in
  * Spark and independent of the production pipeline: its own edge and
  * degree build from lineitem (not the family cache), then orient each
  * edge low → high degree, enumerate wedges with a join, and close them
  * with a second join. Output matches [[Graph.triangles]]: (part,
  * triangles, deg).
  */
object TriangleReference {
  def wedgeJoin(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_partkey"))
      .repartition(spark.sparkContext.defaultParallelism)
      .distinct()
    val pairs = li.as("a").join(li.as("b"), Seq("l_orderkey"))
      .filter(col("a.l_partkey") < col("b.l_partkey"))
      .select(col("a.l_partkey").as("src"), col("b.l_partkey").as("dst"))
      .distinct()
    val deg = pairs.select(col("src").as("node"))
      .union(pairs.select(col("dst").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val oriented = pairs
      .join(broadcast(deg.select(col("node").as("src"), col("deg").as("ds"))), Seq("src"))
      .join(broadcast(deg.select(col("node").as("dst"), col("deg").as("dd"))), Seq("dst"))
      .select(
        when(col("ds") <= col("dd"), col("src")).otherwise(col("dst")).as("lo"),
        when(col("ds") <= col("dd"), col("dst")).otherwise(col("src")).as("hi"))
    val wedgeCorners = oriented.as("e1")
      .join(oriented.as("e2"), col("e1.hi") === col("e2.lo"))
      .select(col("e1.lo").as("a"), col("e1.hi").as("b"), col("e2.hi").as("c"))
      .join(oriented.as("e3"), col("a") === col("e3.lo") && col("c") === col("e3.hi"))
      .select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("tri"))
    deg.join(wedgeCorners, Seq("node"), "left")
      .select(col("node").as("part"),
        coalesce(col("tri"), lit(0L)).as("triangles"), col("deg"))
  }
}
