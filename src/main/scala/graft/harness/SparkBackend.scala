package graft.harness

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.{QueryExecution, SQLExecution}
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, MapType}

import graft.GraftSession

/** The single execution backend. The reference multiplexes pandas / Modin /
  * HDK / Polars behind one API with explicit laziness fencing
  * (/root/reference/timedf/backend.py:14-76); on Spark that collapses to a
  * SparkSession manager plus action fences so per-stage timings are honest
  * (Spark is lazy like Modin-on-HDK — without a fence every stage's cost
  * lands in the first downstream action).
  *
  * Each fence is one pass over the frame's partitions, as the reference's
  * drain of its partition futures is: a load is one job over the cache's
  * partitions, and a stage result costs its own stages plus one job. Each
  * fence runs as one SQL execution, so `QueryExecutionListener`s see it.
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

  /** Fence for a loaded table that later stages reuse (mirrors
    * trigger_loading, timedf/backend.py:58-66): persist,
    * then one job that stores every partition of the cache. No `count`
    * aggregate runs over it. The job is planned from a fresh
    * `QueryExecution`: a frame planned before the persist keeps a plan
    * that does not read the cache.
    */
  def triggerLoading(df: DataFrame): DataFrame = {
    val cached = df.persist()
    val qe = new QueryExecution(cached.queryExecution.sparkSession, cached.queryExecution.logical)
    SQLExecution.withNewExecutionId(qe, Some("triggerLoading")) {
      val buffers = qe.optimizedPlan.collectFirst {
        case r: InMemoryRelation => r.cacheBuilder.cachedColumnBuffers
      }.getOrElse(throw new IllegalStateException(
        s"the persisted frame's plan reads no cache:\n${qe.optimizedPlan}"))
      // a task opens its partition's iterator, which computes and stores
      // the whole partition
      qe.sparkSession.sparkContext.runJob(buffers, (_: Iterator[_]) => ())
    }
    cached
  }

  /** xxhash64 rejects maps, and a map's entry order is not canonical:
    * hash its sorted entry array instead.
    */
  private def hashable(c: Column, t: DataType): Column = t match {
    case _: MapType => array_sort(map_entries(c))
    case _ => c
  }

  /** Fence for a stage result that is measured but not necessarily reused
    * (mirrors trigger_execution, timedf/backend.py:68-76, which drains all
    * partition futures). Not a `count()`: Catalyst prunes every column a
    * count does not need, so a stage's `avg` or `sqrt` would never run, and
    * under an aggregate it drops a stage's final sort. Every column of
    * every row is hashed with xxhash64 (after a positional rename, so
    * duplicate or dotted names resolve), each partition folds its hashes
    * into (rows, xor), and the driver combines the pairs: the row count
    * and an order-insensitive digest.
    */
  def triggerExecution(df: DataFrame): (Long, Long) = {
    val names = df.columns.indices.map(i => s"c$i")
    val hashed = xxhash64(names.zip(df.schema.fields).map { case (n, f) =>
      hashable(col(n), f.dataType)
    }: _*)
    val qe = df.toDF(names: _*).select(hashed).queryExecution
    SQLExecution.withNewExecutionId(qe, Some("triggerExecution")) {
      qe.sparkSession.sparkContext.runJob(qe.toRdd, (it: Iterator[InternalRow]) => {
        var rows = 0L
        var digest = 0L
        while (it.hasNext) { rows += 1; digest ^= it.next().getLong(0) }
        (rows, digest)
      }).foldLeft((0L, 0L)) { case ((n, x), (pn, px)) => (n + pn, x ^ px) }
    }
  }
}
