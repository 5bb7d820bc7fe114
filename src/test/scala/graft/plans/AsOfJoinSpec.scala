package graft.plans

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Relational.asOfOf
import graft.operators.SparkTestSession.spark

/** The composed as-of join (`Relational.asOfOf`, the plan of both q24
  * entries) on hand-computed synthetic corpora covering the edge
  * semantics the DuckDB ASOF JOIN oracle fixes: inclusive ties, per-key
  * matching, both directions, SQL null handling and empty sides. The
  * oracle value-checks both q24 entries on the fixture.
  */
class AsOfJoinSpec extends AnyFunSuite {
  import spark.implicits._

  private def ts(m: Int) = Timestamp.valueOf(f"2026-01-01 00:$m%02d:00")

  private def pxByTag(left: DataFrame, right: DataFrame, forward: Boolean) =
    asOfOf(left, right, forward).select("tag", "px")
      .as[(String, Option[Double])].collect().toMap

  // user 1: quotes at :10 and :20; user 2: quotes at :30 and :35, the
  // later one without a price; user 3: none
  private def quotes = Seq((1L, ts(10), Some(100.0)), (1L, ts(20), Some(200.0)),
    (2L, ts(30), Some(300.0)), (2L, ts(35), None))
    .toDF("user_id", "ts", "px")
  private def probes = Seq(
    (1L, ts(5), "before-any"), (1L, ts(10), "at-equal"),
    (1L, ts(15), "between"), (1L, ts(25), "after-last"),
    (2L, ts(30), "other-key"), (2L, ts(40), "null-payload"),
    (3L, ts(40), "no-right-key"))
    .toDF("user_id", "ts", "tag")

  test("as-of semantics on a synthetic corpus: backward-inclusive, per-key, null on no-match") {
    val out = pxByTag(probes, quotes, forward = false)
    assert(out("before-any") === None)       // strictly before every right ts
    assert(out("at-equal") === Some(100.0))  // inclusive at equality
    assert(out("between") === Some(100.0))   // latest at-or-before, not nearest
    assert(out("after-last") === Some(200.0))
    assert(out("other-key") === Some(300.0)) // never crosses keys
    assert(out("null-payload") === None)     // the matched row's null, not an older price
    assert(out("no-right-key") === None)
  }

  test("forward direction matches the earliest right at-or-after, per key") {
    val out = pxByTag(probes, quotes, forward = true)
    assert(out("before-any") === Some(100.0)) // earliest at-or-after
    assert(out("at-equal") === Some(100.0))   // inclusive at equality
    assert(out("between") === Some(200.0))
    assert(out("after-last") === None)        // nothing later exists
    assert(out("other-key") === Some(300.0))
    assert(out("null-payload") === None)
    assert(out("no-right-key") === None)
  }

  test("null timestamps follow SQL semantics: no match either direction") {
    // a null ts sorts at one end of the window order; SQL's `lts >= rts`
    // is UNKNOWN on null, so neither side's null-ts row may match
    val right = Seq((1L, Some(ts(10)), 100.0), (1L, None, 999.0))
      .toDF("user_id", "ts", "px")
    val left = Seq((1L, Some(ts(5)), "early"), (1L, Some(ts(15)), "late"),
      (1L, None, "null-ts")).toDF("user_id", "ts", "tag")
    val back = pxByTag(left, right, forward = false)
    assert(back === Map("early" -> None, "late" -> Some(100.0), "null-ts" -> None))
    val fwd = pxByTag(left, right, forward = true)
    assert(fwd === Map("early" -> Some(100.0), "late" -> None, "null-ts" -> None))
  }

  test("empty sides degrade to the left-outer contract") {
    val right = Seq((1L, ts(0), 1.0)).toDF("user_id", "ts", "px")
    val noLeft = Seq.empty[(Long, Timestamp, String)].toDF("user_id", "ts", "tag")
    for (forward <- Seq(false, true))
      assert(asOfOf(noLeft, right, forward).count() === 0)
    val left = Seq((1L, ts(1), "x")).toDF("user_id", "ts", "tag")
    val noRight = Seq.empty[(Long, Timestamp, Double)].toDF("user_id", "ts", "px")
    for (forward <- Seq(false, true)) {
      val out = asOfOf(left, noRight, forward)
      assert(out.count() === 1 && out.filter(col("px").isNull).count() === 1)
    }
  }
}
