package graft.operators

import java.nio.file.Files
import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SparkTestSession.spark

/** The ADVICE r10 regression shape: constant event values collapse an
  * adaptive value axis's span to nothing, the shape that once exploded
  * the binned form's bins into the "Too long sequence" crash. The prefix
  * form sizes its bucket axis from the same (min, max, count) stats, so
  * this spec runs it on the EdgeSweep-uniform shape and pins it equal to
  * the fixed-axis binned reference.
  */
class RangeJoinDegenerateSpec extends AnyFunSuite {

  private lazy val dir: String = {
    import spark.implicits._
    val d = Files.createTempDirectory("graft_rj_const").toFile
    d.deleteOnExit()
    val ts = Timestamp.valueOf("2026-01-01 00:00:00")
    // every event value identical — span = 0 before the 1e-6 floor
    (1L to 500L).map(i => (i, 1.0, ts)).toDF("event_id", "value", "ts")
      .coalesce(1).write.mode("overwrite").parquet(s"${d.getAbsolutePath}/events.parquet")
    // s_suppkey 1 has band center 5 (interval −5..15: matches value 1.0),
    // s_suppkey 2 center 300 (no match)
    Seq((1L, 5.0), (2L, 300.0)).toDF("s_suppkey", "s_acctbal")
      .coalesce(1).write.mode("overwrite").parquet(s"${d.getAbsolutePath}/supplier.parquet")
    d.getAbsolutePath
  }

  test("adaptive bin axis survives constant event values and matches the fixed axis") {
    val adaptive = Relational.q25RangeJoinPrefix(spark, dir)
    val fixed = Batch56Spec.binnedRangeJoin(spark, dir)
    val a = adaptive.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val f = fixed.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(a == f, s"adaptive=$a fixed=$f")
    assert(a == Set((1L, 500L, 500.0)),
      "supplier 1 (band −5..15) must match all 500 unit-valued events")
  }
}
