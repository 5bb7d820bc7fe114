package graft.benchmarks

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.harness._

/** Synthetic smoke benchmark (reference example_benchmark,
  * /root/reference/timedf_benchmarks/example_benchmark/benchmark_content.py:32-57):
  * a 10k×4 integer frame + two feature operations. Deterministic here
  * (hash-derived values instead of unseeded RNG) so repeated runs are
  * comparable.
  */
final class ExampleBenchmark extends BaseBenchmark {
  override def name: String = "example_benchmark"

  override protected def runBenchmark(params: RunParams): BenchmarkResults = {
    val tm = new TimerManager
    val s = SparkBackend.session(params.numThreads, name)
    tm.timeit("total") {
      val df = tm.timeit("load_data") {
        val base = s.range(10000).select(
          (pmod(xxhash64(col("id"), lit(1)), lit(101))).cast("int").as("a"),
          (pmod(xxhash64(col("id"), lit(2)), lit(101))).cast("int").as("b"),
          (pmod(xxhash64(col("id"), lit(3)), lit(101))).cast("int").as("c"),
          (pmod(xxhash64(col("id"), lit(4)), lit(101))).cast("int").as("d"))
        SparkBackend.triggerLoading(base)
      }
      tm.timeit("feature_1")(SparkBackend.triggerExecution(feature1(df)))
      tm.timeit("feature_2") {
        SparkBackend.triggerExecution(
          df.withColumn("f", (col("c") > col("d")).cast("int")))
      }
      df.unpersist()
    }
    BenchmarkResults(tm.results, Map("backend" -> params.backend))
  }

  private[graft] def feature1(df: DataFrame): DataFrame =
    df.withColumn("e", sqrt(pow(col("a"), 2) + pow(col("b"), 2)))
}
