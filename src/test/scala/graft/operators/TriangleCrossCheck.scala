package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Algorithm cross-validation at scales where the DuckDB wedge-join
  * oracle is intractable (at sf1 it spilled 70 GB): compute per-node
  * triangle counts with TWO independent formulations — the
  * wedge-materializing double join ([[TriangleReference]], the oracle's
  * algorithm run in Spark) and the production array_intersect pipeline
  * — and compare row-for-row. Test-scoped dev main:
  * `sbt "Test/runMain graft.operators.TriangleCrossCheck <sfDir>"`.
  */
object TriangleCrossCheck {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = SparkSession.builder().master("local[32]")
      .appName("graft-tri-crosscheck")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "10000000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val wedgeResult = TriangleReference.wedgeJoin(spark, dir)
    val production = Graph.triangles(spark, dir)
    val mismatches = production.as("p")
      .join(wedgeResult.as("w"), Seq("part"), "full_outer")
      .filter(coalesce(col("p.triangles"), lit(-1L)) =!=
        coalesce(col("w.triangles"), lit(-2L)) ||
        coalesce(col("p.deg"), lit(-1L)) =!= coalesce(col("w.deg"), lit(-2L)))
      .count()
    val n = production.count()
    println(s"[crosscheck] $dir nodes=$n mismatches=$mismatches " +
      (if (mismatches == 0) "OK" else "DIVERGED"))
    spark.stop()
    if (mismatches != 0) sys.exit(1)
  }
}
