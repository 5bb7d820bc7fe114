package graft.expressions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{MinHashReference, TextFunctions}
import graft.operators.SparkTestSession.spark

class MinHashAggSpec extends AnyFunSuite {

  test("graft_minhash equals the per-permutation min of permutedHash columns") {
    import spark.implicits._
    val df = Seq((1L, 11L), (1L, 22L), (1L, -33L), (2L, 44L), (2L, Long.MinValue + 7))
      .toDF("id", "tok")
    val viaAgg = df.groupBy("id")
      .agg(MinHashAgg.minhash(col("tok"), 8).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val mins = TextFunctions.permCoeffs(8)
      .map(c => min(MinHashReference.permutedHash(col("tok"), c)))
    val viaCols = df.groupBy("id")
      .agg(array(mins: _*).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(viaAgg === viaCols)
    assert(viaAgg(1L).length === 8)
  }

  test("graft_simhash equals the packed-count Column construction") {
    import spark.implicits._
    val rows = (1 to 400).map(i => ((i % 5).toLong, i * 0x9E3779B97F4A7C15L))
    val df = rows.toDF("id", "h").repartition(7)
    val viaAgg = df.groupBy("id")
      .agg(SimHashAgg.simhash(col("h")).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val packs = (0 until 16).map(g =>
      sum(SimHashAgg.packedVotes(col("h"), g)).as(s"p$g"))
    val aggs = packs :+ count(lit(1)).as("n")
    val viaCols = df.groupBy("id").agg(aggs.head, aggs.tail: _*)
      .select(col("id"), SimHashAgg.fromPacked(
        (0 until 16).map(g => col(s"p$g")), col("n")).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaAgg === viaCols)
  }

  test("graft_minhash signatures agree across partition counts (merge path)") {
    import spark.implicits._
    val rows = (1 to 500).map(i => ((i % 7).toLong, i * 2654435761L))
    val one = rows.toDF("id", "tok").repartition(1).groupBy("id")
      .agg(MinHashAgg.minhash(col("tok"), 8).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val many = rows.toDF("id", "tok").repartition(13).groupBy("id")
      .agg(MinHashAgg.minhash(col("tok"), 8).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(one === many)
  }
}
