package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SparkTestSession

/** A query that throws is a failure, never a time: Bench names it on
  * stderr, lists it under `failed`, and keeps it out of `queries` and
  * the total.
  */
class BenchSpec extends AnyFunSuite {
  import SparkTestSession._

  test("the per-query step times a passing entry and returns None for a throwing one") {
    val passing = Bench.timeQuery(spark, sf, "passing", (s, _) => s.range(3).toDF())
    assert(passing.exists(_ >= 0.0))
    // throws while planning (missing table) and while running (the
    // filter cannot be pruned away by count())
    val missing = Bench.timeQuery(spark, sf, "missing",
      (s, d) => s.read.parquet(s"$d/no_such_table.parquet"))
    val raising = Bench.timeQuery(spark, sf, "raising",
      (s, _) => s.range(3).toDF().filter(raise_error(lit("boom")).isNull))
    assert(missing.isEmpty && raising.isEmpty)
  }

  test("a query failing in any sweep is listed as failed and left out of the medians") {
    val sweeps = Seq(
      Seq("a" -> Some(3.0), "b" -> Some(1.0), "c" -> None),
      Seq("a" -> Some(1.0), "b" -> None, "c" -> None),
      Seq("a" -> Some(2.0), "b" -> Some(1.0), "c" -> None))
    val (results, failed) = Bench.summarize(sweeps)
    assert(results === Seq("a" -> 2.0))
    assert(failed === Seq("b", "c"))
  }

  test("the default detail path is relative, so a run writes into its own checkout") {
    val p = Bench.defaultOutPath("20260101T000000", "c4_sw1")
    assert(!p.isAbsolute)
    assert(p === java.nio.file.Paths.get("bench_runs", "bench_20260101T000000_c4_sw1.json"))
  }

  test("the record lists failed queries and totals only the queries that ran") {
    val fields = Bench.resultFields(Seq("a" -> 1.5, "d" -> 0.25), Seq("b"))
    assert(fields ===
      """"metric":"total","value":1.75,"unit":"sec","queries":{"a":1.5,"d":0.25},"failed":["b"]""")
    assert(Bench.resultFields(Seq("a" -> 1.0), Nil).endsWith(""""failed":[]"""))
  }
}
