package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Data-layout operators: Morton (Z-order) clustering for multi-dimensional
  * data skipping. At 100 TB the dominant cost of a selective two-column
  * query is the files it CANNOT skip: sorting by one column makes that
  * column's min/max file stats tight and leaves the other column's spanning
  * the full domain. Interleaving the bits of both columns into one sort key
  * bounds every file to a small rectangle of the (x, y) domain, so parquet
  * row-group pruning works for predicates on either column (the layout
  * trick behind Delta/Iceberg OPTIMIZE ZORDER).
  *
  * Everything here is plain integer expressions (shift/and/or) — whole-stage
  * codegen end-to-end, no UDF.
  */
object Layout {

  /** Morton interleave of the low `bits` bits of two non-negative int
    * columns: bit i of x lands at position 2i, bit i of y at 2i+1. Built as
    * a sum of disjoint-bit terms (equivalent to OR), constant-folded where
    * possible by Catalyst.
    */
  def zvalue(x: Column, y: Column, bits: Int = 8): Column =
    (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
      acc +
        shiftleft(shiftright(x, i).bitwiseAND(lit(1)).cast("long"), 2 * i) +
        shiftleft(shiftright(y, i).bitwiseAND(lit(1)).cast("long"), 2 * i + 1)
    }

  /** Oracle-checkable kernel: the z-value of every lineitem row over the
    * low 8 bits of (l_partkey, l_suppkey). Narrow codegen projection —
    * the layout decision column a z-ordered write range-partitions and
    * sorts on.
    */
  def zorderLineitem(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir).select(
      col("l_orderkey"), col("l_linenumber"),
      zvalue(pmod(col("l_partkey"), lit(256)).cast("int"),
        pmod(col("l_suppkey"), lit(256)).cast("int")).as("zval"))

  /** Data-skipping effectiveness, fully declaratively: assign every
    * lineitem row to the z-ordered pseudo-file it would land in (file =
    * z-value range of width 2¹⁶/64 — the equi-width declarative proxy
    * for a z-ordered write's range partitioning), collect each file's
    * per-column min/max footer stats, and evaluate which files a
    * two-sided rectangle predicate (x,y ∈ [16,31]²) can prune without
    * opening: skip ⟺ the stats rectangle misses the query rectangle.
    *
    * This is the planner's side of the z-order story ([[zorderLineitem]]
    * is the writer's): because z-interleaving keeps both coordinates'
    * spans small within a z-range, an aligned 16×16 query rectangle
    * intersects only the handful of files covering its z-runs — the scan
    * count the `can_skip` column makes checkable. One shuffle (the
    * per-file stats aggregate), stats-table-sized output; at 100 TB the
    * real decision runs on footer metadata only, never the data.
    */
  def fileSkipping(s: SparkSession, dir: String,
                   numFiles: Int = 64): DataFrame = {
    val width = (1 << 16) / numFiles
    val stats = Tables.lineitem(s, dir)
      .select(pmod(col("l_partkey"), lit(256)).cast("int").as("x"),
        pmod(col("l_suppkey"), lit(256)).cast("int").as("y"))
      .withColumn("zval", zvalue(col("x"), col("y")))
      .withColumn("file", expr(s"zval div ${width}"))
      .groupBy("file")
      .agg(count(lit(1)).as("n_rows"),
        min("x").as("x_min"), max("x").as("x_max"),
        min("y").as("y_min"), max("y").as("y_max"))
    stats.select(col("file"), col("n_rows"),
      col("x_min"), col("x_max"), col("y_min"), col("y_max"),
      (col("x_min") > 31 || col("x_max") < 16 ||
        col("y_min") > 31 || col("y_max") < 16).as("can_skip"))
  }
}
