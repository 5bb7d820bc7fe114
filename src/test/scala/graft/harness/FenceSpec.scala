package graft.harness

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.benchmarks.{ExampleBenchmark, NyTaxiBenchmark}

/** The harness fence is column-complete: every column a timed stage
  * computes is evaluated under `SparkBackend.triggerExecution`, where a
  * `count()` lets Catalyst prune it, and a stage's final sort runs. Each
  * case also checks the `count()` form, so the spec shows the pruning it
  * guards against. The fenced plan is the one a `QueryExecutionListener`
  * sees for the fence's SQL execution.
  */
class FenceSpec extends AnyFunSuite {
  private val fixtures = Fixtures.root
  private lazy val spark = SparkBackend.session(2, "fence-spec")
  private def optimized(df: DataFrame): String =
    df.queryExecution.optimizedPlan.toString
  private def fencedPlan(df: DataFrame): String = {
    val plans = new ConcurrentLinkedQueue[String]
    val listener = new QueryExecutionListener {
      override def onSuccess(func: String, qe: QueryExecution, ns: Long): Unit =
        if (func == "triggerExecution") plans.add(qe.optimizedPlan.toString)
      override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      SparkBackend.triggerExecution(df)
      ListenerBusDrain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    assert(plans.size === 1)
    plans.peek
  }
  private def nyTaxiQueries(sf: String): Map[String, DataFrame] = {
    val b = new NyTaxiBenchmark
    b.queries(b.loadTrips(spark, s"$fixtures/$sf")).toMap
  }

  test("ny_taxi Query2 keeps avg(total_amount) under the fence, not under count()") {
    val q2 = nyTaxiQueries("sf0.001")("Query2")
    assert(fencedPlan(q2).contains("avg(total_amount"))
    assert(!optimized(q2.groupBy().count()).contains("avg(total_amount"))
  }

  test("example_benchmark feature_1 keeps its SQRT under the fence, not under count()") {
    val f1 = new ExampleBenchmark().feature1(spark.range(10000)
      .select(col("id").cast("int").as("a"), (col("id") % 7).cast("int").as("b")))
    assert(fencedPlan(f1).toUpperCase.contains("SQRT("))
    assert(!optimized(f1.groupBy().count()).toUpperCase.contains("SQRT("))
  }

  test("ny_taxi Query4 keeps its sort under the fence, not under count()") {
    val q4 = nyTaxiQueries("sf0.001")("Query4")
    assert(fencedPlan(q4).contains("Sort ["))
    assert(!optimized(q4.groupBy().count()).contains("Sort ["))
  }

  test("the fence returns the row count and the XOR of per-row xxhash64") {
    val q4 = nyTaxiQueries("sf0.001")("Query4")
    val hashes = q4.select(xxhash64(q4.columns.toIndexedSeq.map(col): _*))
      .collect().map(_.getLong(0))
    assert(SparkBackend.triggerExecution(q4) ===
      ((hashes.length.toLong, hashes.foldLeft(0L)(_ ^ _))))
    assert(SparkBackend.triggerExecution(q4.limit(0)) === ((0L, 0L)))
  }

  test("ny_taxi validation digests on sf0.01 are the pinned values") {
    val res = BenchmarkRegistry.create("ny_taxi")
      .run(RunParams(dataDir = s"$fixtures/sf0.01", validation = true))
    assert(res.params.filter(_._1.startsWith("validation_")) === Map(
      "validation_Query1" -> "-4818138283167986951",
      "validation_Query2" -> "-3352637878037530096",
      "validation_Query3" -> "8480806364999934234",
      "validation_Query4" -> "-5791351595413591296"))
  }
}
