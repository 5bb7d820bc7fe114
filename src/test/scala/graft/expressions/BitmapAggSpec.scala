package graft.expressions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SparkTestSession.{sf, spark}

class BitmapAggSpec extends AnyFunSuite {

  test("bitmap serialization is canonical and partitioning-invariant") {
    val ev = graft.Tables.events(spark, sf)
    def bitmaps(df: org.apache.spark.sql.DataFrame): Map[String, Seq[Byte]] =
      df.groupBy("event_type")
        .agg(BitmapAgg.bitmap(col("user_id")).as("bm"))
        .collect()
        .map(r => r.getString(0) -> r.getAs[Array[Byte]]("bm").toSeq).toMap
    val a = bitmaps(ev)
    val b = bitmaps(ev.repartition(17, col("event_id")))
    assert(a.nonEmpty)
    assert(a === b, "canonical bytes must not depend on partitioning")
    // members are sorted, distinct, and exactly the distinct user set
    val exact = ev.select("event_type", "user_id").distinct()
      .collect().groupBy(_.getString(0))
      .map { case (t, rows) => t -> rows.map(_.getLong(1)).sorted.toSeq }
    a.foreach { case (t, bytes) =>
      val bb = java.nio.ByteBuffer.wrap(bytes.toArray)
      val ids = Iterator.continually(bb)
        .takeWhile(_.remaining() >= 8).map(_.getLong()).toSeq
      assert(ids === exact(t), s"member set mismatch for $t")
    }
  }

  test("sorted-merge intersect equals exact set intersection") {
    def bm(ids: Seq[Long]): Array[Byte] = {
      val m = scala.collection.mutable.LongMap.empty[Unit]
      ids.foreach(m(_) = ())
      BitmapAgg.toBytes(m)
    }
    val a = Seq(1L, 5L, 9L, 12L, 100L)
    val b = Seq(2L, 5L, 12L, 99L, 100L, 101L)
    assert(BitmapAgg.intersectCount(bm(a), bm(b)) ===
      (a.toSet & b.toSet).size.toLong)
    assert(BitmapAgg.intersectCount(bm(a), bm(Nil)) === 0L)
    assert(BitmapAgg.cardinality(bm(b)) === b.length.toLong)
  }
}
