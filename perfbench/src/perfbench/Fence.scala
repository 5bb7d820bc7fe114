package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, MapType}

/** The timed action of every query op. `count()` lets Catalyst prune the
  * op's output columns, so projected expressions (a `regexp_replace`, a
  * UDF, a vector kernel) never run under it. This fence hashes every
  * column of every row and folds the hashes with `bit_xor`, so each output
  * column is evaluated, and the op's answer comes back as a row count and
  * an order-insensitive digest.
  */
object Fence {

  /** xxhash64 rejects maps, and a map's entry order is not canonical:
    * hash its sorted entry array instead.
    */
  private def hashable(c: Column, t: DataType): Column = t match {
    case _: MapType => array_sort(map_entries(c))
    case _ => c
  }

  /** One-row frame (rows, digest). Columns are renamed by position first,
    * so duplicate or dotted output names resolve unambiguously.
    */
  def fenced(df: DataFrame): DataFrame = {
    val names = df.columns.indices.map(i => s"c$i")
    val positional = df.toDF(names: _*)
    val hashed =
      if (names.isEmpty) lit(0L)
      else xxhash64(names.zip(df.schema.fields).map { case (n, f) =>
        hashable(col(n), f.dataType)
      }: _*)
    positional.select(hashed.as("h"))
      .agg(count(lit(1)).as("rows"), coalesce(bit_xor(col("h")), lit(0L)).as("digest"))
  }

  def apply(df: DataFrame): (Long, Long) = {
    val r = fenced(df).collect()(0)
    (r.getLong(0), r.getLong(1))
  }
}
