package graft.harness

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftSession

/** The single execution backend. The reference multiplexes pandas / Modin /
  * HDK / Polars behind one API with explicit laziness fencing
  * (/root/reference/timedf/backend.py:14-76); on Spark that collapses to a
  * SparkSession manager plus action fences so per-stage timings are honest
  * (Spark is lazy like Modin-on-HDK — without a fence every stage's cost
  * lands in the first downstream action).
  */
object SparkBackend {

  /** The engine's session (`GraftSession.builder`), so the harness
    * stages run on the conf every graft session gets.
    */
  def session(numThreads: Int = Runtime.getRuntime.availableProcessors(),
              appName: String = "graft"): SparkSession = {
    val s = GraftSession.builder(appName, numThreads.toString).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Fence for a loaded table that later stages reuse: persist + count
    * (mirrors trigger_loading, /root/reference/timedf/backend.py:58-66).
    */
  def triggerLoading(df: DataFrame): DataFrame = {
    val cached = df.persist()
    cached.count()
    cached
  }

  /** Fence for a stage result that is measured but not necessarily reused
    * (mirrors trigger_execution, timedf/backend.py:68-76, which drains all
    * partition futures). Not a `count()`: Catalyst prunes every column a
    * count does not need, so a stage's `avg` or `sqrt` would never run.
    * One action returns the row count and an order-insensitive digest.
    */
  def triggerExecution(df: DataFrame): (Long, Long) = {
    val r = fenced(df).collect()(0)
    (r.getLong(0), r.getLong(1))
  }

  /** The one-row (rows, digest) frame [[triggerExecution]] collects. */
  private[graft] def fenced(df: DataFrame): DataFrame = {
    val names = df.columns.indices.map(i => s"c$i") // duplicate/dotted names resolve
    df.toDF(names: _*).select(xxhash64(names.map(col): _*).as("h"))
      .agg(count(lit(1)), coalesce(bit_xor(col("h")), lit(0L)))
  }
}
