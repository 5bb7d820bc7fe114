package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class LayoutSpec extends AnyFunSuite {
  import SparkTestSession._

  test("zvalue interleaves bits: x at even positions, y at odd") {
    import spark.implicits._
    // closed forms: z(x,0) spreads x's bits to even positions; z(0,y) to
    // odd; z(255,255) fills all 16 bits
    val rows = Seq((3, 0), (0, 3), (255, 255), (5, 6), (170, 85))
      .toDF("x", "y")
      .select(col("x"), col("y"), Layout.zvalue(col("x"), col("y")).as("z"))
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getLong(2))).toMap
    def interleave(x: Int, y: Int): Long =
      (0 until 8).map(i =>
        (((x >> i) & 1).toLong << (2 * i)) | (((y >> i) & 1).toLong << (2 * i + 1))).sum
    rows.foreach { case ((x, y), z) =>
      assert(z == interleave(x, y), s"z($x,$y)")
    }
    assert(rows((3, 0)) == 5L)      // 0b101
    assert(rows((0, 3)) == 10L)     // 0b1010
    assert(rows((255, 255)) == 65535L)
  }

  test("merge upsert keeps exactly the latest version per key and matches the window form") {
    import spark.implicits._
    val upserted = Relational.q33MergeUpsert(spark, sf)
    // survivor via independent window computation on the same fixture
    val src = graft.Tables.events(spark, sf)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id", "event_type")
      .orderBy(col("ts").desc, col("event_id").desc)
    val windowed = src
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_type"), col("event_id").as("last_event_id"))
    val a = upserted.select("user_id", "event_type", "last_event_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val b = windowed.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(a == b)
    // version counts sum to the changelog size
    val total = upserted.agg(sum("n_versions")).collect()(0).getLong(0)
    assert(total == src.count())
    // compaction of (base snapshot ∪ changelog) equals direct compaction:
    // splitting the events stream at any point and merging is lossless
    val base = src.filter(col("event_id") % 3 =!= 0)
    val delta = src.filter(col("event_id") % 3 === 0)
    val merged = TextOpsSpecHelpers.compactOf(base.unionByName(delta))
    val direct = TextOpsSpecHelpers.compactOf(src)
    assert(merged.except(direct).isEmpty && direct.except(merged).isEmpty)
  }

  test("pii redaction masks every planted pattern and counts occurrences") {
    import spark.implicits._
    val docs = Seq(
      (1L, "hello bob42@mail.com and 555-1234 from 10.3.0.1 twice bob42@mail.com"),
      (2L, "no pii here at all"),
      (3L, "edge 555-12345 has extra digit")) // greedy prefix still matches 555-1234
      .toDF("doc_id", "text")
    val got = TextOps.redactPiiOf(docs)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getInt(2))).toMap
    assert(got(1L)._1 == "hello <EMAIL> and <PHONE> from <IP> twice <EMAIL>")
    assert(got(1L)._2 == 4)
    assert(got(2L) == ("no pii here at all", 0))
    assert(got(3L)._1 == "edge <PHONE>5 has extra digit" && got(3L)._2 == 1)
  }

  test("snapshot diff emits only deltas with correct statuses") {
    import spark.implicits._
    val oldSnap = Seq(
      (1L, "alpha"), (2L, "beta"), (3L, "gamma"), (4L, "delta"))
      .toDF("doc_id", "text")
    val newSnap = Seq(
      (2L, "beta"), (3L, "gamma CHANGED"), (4L, "delta"), (5L, "epsilon"))
      .toDF("doc_id", "text")
    val got = TextOps.snapshotDiffOf(oldSnap, newSnap)
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(got == Map(1L -> "removed", 3L -> "changed", 5L -> "added"))
    // unchanged keys (2, 4) are absent: the output is delta-sized
    assert(!got.contains(2L) && !got.contains(4L))
    // NULL text is present-but-empty, never a phantom add/remove
    val withNulls = TextOps.snapshotDiffOf(
      Seq((1L, null: String), (2L, "x")).toDF("doc_id", "text"),
      Seq((1L, null: String), (2L, null: String)).toDF("doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(withNulls == Map(2L -> "changed"), s"got $withNulls")
  }
}

/** Shared helper: the one-shuffle compaction core of q33 applied to an
  * arbitrary events-shaped frame (used to pin base∪changelog = direct).
  */
object TextOpsSpecHelpers {
  import org.apache.spark.sql.DataFrame
  def compactOf(events: DataFrame): DataFrame =
    events.groupBy("user_id", "event_type")
      .agg(max_by(struct(col("ts"), col("event_id"), col("value")),
        struct(col("ts"), col("event_id"))).as("last"))
      .select(col("user_id"), col("event_type"),
        col("last.event_id").as("last_event_id"))
}
