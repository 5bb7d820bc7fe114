package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.Tables

/** Semantic pins for the round-5 additions: graph analytics (PageRank,
  * triangles), interval merge, governance audit, survivor-policy dedup,
  * compaction planning, file skipping, and the native streaming session
  * window's batch equality. The DuckDB oracle gates values; these pin
  * the invariants an oracle can't express (mass conservation, bin-pack
  * bounds, skipping soundness, streaming/batch equivalence).
  */
class GraphGovSpec extends AnyFunSuite {
  import SparkTestSession._

  test("pagerank conserves mass and degrees are consistent") {
    val rows = Graph.pagerank(spark, sf).collect()
    assert(rows.nonEmpty)
    val n = rows.length.toDouble
    // ranks are scaled by N, so conservation means sum(rank_scaled) ≈ N
    val total = rows.map(_.getDouble(1)).sum
    assert(math.abs(total - n) < 1e-3, s"mass $total != $n")
    assert(rows.forall(_.getDouble(1) > 0.0))
    assert(rows.forall(_.getLong(2) >= 1L))
  }

  test("triangles match a driver-side brute force on the small fixture") {
    val rows = Graph.triangles(spark, sf).collect()
    val li = Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_partkey").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val edges = li.groupBy(_._1).values.flatMap { grp =>
      val parts = grp.map(_._2).distinct.sorted
      for (i <- parts.indices; j <- i + 1 until parts.length)
        yield (parts(i), parts(j))
    }.toSet
    val adj = edges.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val triPerNode = scala.collection.mutable.Map.empty[Long, Long]
      .withDefaultValue(0L)
    for ((a, b) <- edges; c <- adj.getOrElse(a, Set.empty)
         if c > b && adj.getOrElse(b, Set.empty)(c)) {
      triPerNode(a) += 1; triPerNode(b) += 1; triPerNode(c) += 1
    }
    val got = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    val nodes = edges.flatMap(e => Seq(e._1, e._2))
    assert(got.keySet == nodes)
    nodes.foreach { v =>
      assert(got(v) == triPerNode(v), s"node $v: ${got(v)} != ${triPerNode(v)}")
    }
  }

  test("merged intervals are disjoint per user and cover every event") {
    val rows = Relational.q52IntervalMerge(spark, sf).collect()
    val nEvents = Tables.events(spark, sf).count()
    assert(rows.map(_.getLong(3)).sum == nEvents)
    rows.groupBy(_.getLong(0)).foreach { case (u, rs) =>
      val ivs = rs.map(r => (r.getTimestamp(1).getTime, r.getTimestamp(2).getTime))
        .sortBy(_._1)
      ivs.foreach { case (s0, e0) => assert(s0 <= e0) }
      ivs.sliding(2).foreach {
        case Array((_, e1), (s2, _)) => assert(s2 > e1, s"user $u overlap")
        case _ =>
      }
    }
  }

  test("k-anonymity flags exactly the sub-k classes and partitions the table") {
    val k = 5L
    val rows = Governance.kAnonymity(spark, sf, k).collect()
    val total = Tables.customer(spark, sf).count()
    assert(rows.map(_.getLong(3)).sum == total)
    rows.foreach { r =>
      assert(r.getBoolean(4) == (r.getLong(3) < k))
      assert(math.abs(r.getDouble(5) - 1.0 / r.getLong(3)) < 1e-6)
    }
  }

  test("survivor policy keeps exactly one best-quality doc per cluster") {
    val rows = Dedup.survivorPolicy(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getLong(1)).foreach { case (cid, rs) =>
      val survivors = rs.filter(_.getBoolean(3))
      assert(survivors.length == 1, s"cluster $cid: ${survivors.length} survivors")
      val best = rs.map(_.getDouble(2)).max
      assert(survivors.head.getDouble(2) == best)
      // tie-break: min doc_id among the max-quality members
      val tied = rs.filter(_.getDouble(2) == best).map(_.getLong(0)).min
      assert(survivors.head.getLong(0) == tied)
    }
  }

  test("compaction plan: consecutive packing, bounded bucket size") {
    val target = 4096L
    val rows = Lake.compactionPlan(spark, sf, target).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getDate(0)).foreach { case (_, rs) =>
      val byHr = rs.sortBy(_.getInt(1))
      // target_file ids are non-decreasing in hour order (consecutive packing)
      val ids = byHr.map(_.getInt(4)).toSeq
      assert(ids == ids.sorted)
      // every bucket's size stays under target + one file (bin-pack bound)
      byHr.groupBy(_.getInt(4)).foreach { case (_, files) =>
        val bytes = files.map(_.getLong(3))
        assert(bytes.sum < target + bytes.max)
      }
    }
  }

  test("file skipping is sound: skipped files hold no matching rows") {
    val stats = Layout.fileSkipping(spark, sf).collect()
    assert(stats.exists(_.getBoolean(6)), "no file was skippable")
    val skipped = stats.filter(_.getBoolean(6)).map(_.getLong(0)).toSet
    val width = (1 << 16) / 64
    val hits = Tables.lineitem(spark, sf)
      .select(pmod(col("l_partkey"), lit(256)).cast("int").as("x"),
        pmod(col("l_suppkey"), lit(256)).cast("int").as("y"))
      .withColumn("zval", Layout.zvalue(col("x"), col("y")))
      .withColumn("file", expr(s"zval div $width"))
      .filter(col("x").between(16, 31) && col("y").between(16, 31))
      .select("file").distinct().collect().map(_.getLong(0)).toSet
    assert(hits.intersect(skipped).isEmpty,
      s"skipped files with matches: ${hits.intersect(skipped)}")
    // row conservation: per-file rows sum to the table size
    assert(stats.map(_.getLong(1)).sum == Tables.lineitem(spark, sf).count())
  }

  test("graph components: hybrid star == pure star == driver union-find") {
    import graft.Tables
    // rebuild the co-purchase edges independently of the family cache
    val li = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
    val pairs = li.as("a").join(li.as("b"), Seq("l_orderkey"))
      .filter(col("a.l_partkey") < col("b.l_partkey"))
      .select(col("a.l_partkey").as("id_a"), col("b.l_partkey").as("id_b"))
      .distinct().localCheckpoint(true)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    val star = canon(Dedup.componentsOf(spark, pairs, driverMaxPairs = 0))
    // driverFinishCap=0: the pure distributed loop run to its star-forest
    // fixpoint, vs the default hybrid that driver-finishes once the edge
    // set fits the collect guard — both must label identically
    val starPure = canon(Dedup.componentsOf(spark, pairs, driverMaxPairs = 0,
      driverFinishCap = 0))
    val driver = canon(Dedup.componentsOf(spark, pairs))
    assert(star.nonEmpty)
    assert(star == starPure)
    assert(star == driver)
  }

  test("graph components: clique-star edge input equals pair input") {
    import graft.Tables
    // Graph.components feeds CC the per-order (min, member) STAR edges
    // instead of the C(k,2) clique pairs — same connectivity, same node
    // set, so identical (cluster_id, n_members). Pin it against the pair
    // formulation rebuilt independently of the family cache.
    val li = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
    val pairs = li.as("a").join(li.as("b"), Seq("l_orderkey"))
      .filter(col("a.l_partkey") < col("b.l_partkey"))
      .select(col("a.l_partkey").as("id_a"), col("b.l_partkey").as("id_b"))
      .distinct().localCheckpoint(true)
    val viaPairs = Dedup.componentsOf(spark, pairs)
      .groupBy("cluster_id").agg(count(lit(1)).as("n_members"))
      .collect().map(_.toString).sorted.toSeq
    val viaStars = Graph.components(spark, sf)
      .collect().map(_.toString).sorted.toSeq
    assert(viaStars.nonEmpty)
    assert(viaStars == viaPairs)
  }

  test("pagerank broadcast and shuffle-join regimes agree bit-for-bit") {
    // broadcastCap=0 forces the plain shuffle-join path on the same
    // fixture the broadcast-hinted path serves — both regimes must emit
    // the identical (rounded) ranks, pinning the regime split as a pure
    // physical choice
    val viaBroadcast = Graph.pagerank(spark, sf)
      .collect().map(_.toString).sorted
    val viaShuffle = Graph.pagerank(spark, sf, broadcastCap = 0L)
      .collect().map(_.toString).sorted
    assert(viaBroadcast.nonEmpty)
    assert(viaBroadcast.toSeq == viaShuffle.toSeq)
  }

  test("label propagation regimes agree and communities coarsen") {
    val viaBroadcast = Graph.labelPropagation(spark, sf)
    val rows = viaBroadcast.collect()
    val viaShuffle = Graph.labelPropagation(spark, sf, broadcastCap = 0L)
      .collect().map(_.toString).sorted
    assert(rows.map(_.toString).sorted.toSeq == viaShuffle.toSeq)
    // plurality voting must coarsen the initial one-label-per-node state
    val nNodes = rows.length
    val nCommunities = rows.map(_.getLong(1)).distinct.length
    assert(nCommunities < nNodes)
    // every community label is itself a node id
    val nodeIds = rows.map(_.getLong(0)).toSet
    assert(rows.forall(r => nodeIds.contains(r.getLong(1))))
  }
}
