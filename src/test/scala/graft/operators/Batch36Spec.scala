package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.Tables

/** Pins for batch 36: the custom HLL aggregate's accuracy and merge
  * determinism, and common-neighbor link prediction vs a driver brute
  * force.
  */
class Batch36Spec extends AnyFunSuite {
  import SparkTestSession._

  test("HLL estimates stay within 5% of exact per group, small groups exact-ish") {
    val est = Relational.sketchHllUsers(spark, sf).collect()
      .map(r => (r.getString(0), r.getDate(1).toString) -> r.getLong(2)).toMap
    val exact = Tables.events(spark, sf)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(countDistinct("user_id").as("n"))
      .collect()
      .map(r => (r.getString(0), r.getDate(1).toString) -> r.getLong(2)).toMap
    assert(est.keySet == exact.keySet)
    exact.foreach { case (k, n) =>
      val e = est(k)
      val tol = math.max(2.0, 0.05 * n)
      assert(math.abs(e - n) <= tol, s"group $k: est $e vs exact $n")
    }
  }

  test("HLL estimate is partitioning-invariant (merge correctness)") {
    val one = Tables.events(spark, sf).coalesce(1)
      .agg(graft.expressions.HllAgg.hll(col("user_id"))).collect()(0).getLong(0)
    val many = Tables.events(spark, sf).repartition(13)
      .agg(graft.expressions.HllAgg.hll(col("user_id"))).collect()(0).getLong(0)
    assert(one == many)
    val exact = Tables.events(spark, sf)
      .select("user_id").distinct().count()
    assert(math.abs(one - exact) <= math.max(2.0, 0.05 * exact))
  }

  test("common neighbors match a driver-side brute force") {
    val rows = Graph.commonNeighbors(spark, sf).collect()
    assert(rows.nonEmpty)
    val li = Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_partkey").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val und = li.groupBy(_._1).values.flatMap { grp =>
      val parts = grp.map(_._2).distinct.sorted
      for (i <- parts.indices; j <- i + 1 until parts.length)
        yield (parts(i), parts(j))
    }.toSet
    val nbrs = (und.toSeq ++ und.toSeq.map(e => (e._2, e._1)))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    rows.foreach { r =>
      val (a, c, cn) = (r.getLong(0), r.getLong(1), r.getLong(2))
      // watchlist scoping: both endpoints on the mod-4 candidate list
      assert(a % 4 == 0 && c % 4 == 0)
      val shared = nbrs(a).intersect(nbrs(c))
      assert(shared.size == cn, s"($a,$c): cn $cn vs ${shared.size}")
      assert(cn >= 2)
      val jac = cn.toDouble / (nbrs(a).size + nbrs(c).size - cn)
      assert(math.abs(r.getDouble(3) - jac) < 1e-6)
      val aa = shared.toSeq.map(b => 1.0 / math.log(nbrs(b).size.toDouble)).sum
      assert(math.abs(r.getDouble(4) - aa) < 1e-5)
    }
    // ranks: 1..k per source, jaccard non-increasing
    rows.groupBy(_.getLong(0)).foreach { case (a, rs) =>
      val byRank = rs.sortBy(_.getInt(5))
      assert(byRank.map(_.getInt(5)).toSeq == (1 to rs.length))
      val jacs = byRank.map(_.getDouble(3)).toSeq
      assert(jacs == jacs.sorted.reverse, s"part $a not ranked by jaccard")
    }
  }
}
