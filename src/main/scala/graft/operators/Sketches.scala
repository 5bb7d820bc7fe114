package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFunctions

/** Mergeable set-operation sketches — the approximate twin of the exact
  * bitmap cohort algebra (`q57_bitmap_cohorts`). A KMV/theta sketch
  * (Beyer et al., "On synopses for distinct-value estimation under
  * multiset operations", SIGMOD 2007; the Theta-sketch framing of
  * Dasgupta et al. 2016) keeps the k smallest hash values of each
  * group's distinct-id set: k longs per group cross the wire regardless
  * of group size, sketches of ANY two groups compose into union /
  * intersection / Jaccard ESTIMATES with no second fact scan, and —
  * because the sketch is a pure function of the id set under a fixed
  * hash — the whole estimate replays bit-for-bit in the SQL oracle
  * (the same determinism argument as `stream_sample_bottomk`, whose
  * [[graft.expressions.BottomKAgg]] buffer IS the sketch).
  *
  * At 100 TB this is the segment-overlap answer when exact bitmaps are
  * too big to build: one scan materializes per-segment sketches (k·8
  * bytes each, map-side partials), every pairwise question afterwards
  * is O(k) on artifacts.
  */
object Sketches {

  /** Hash space of the 60-bit portable md5-prefix hash: [0, 2^60). */
  private val H: Long = 1L << 60

  /** Per-event-type theta sketches over the distinct user set, then all
    * pairwise overlap estimates. ONE fact scan builds the sketches
    * (`graft_bottomk` inserts each distinct hash once, so no pre-
    * distinct shuffle is needed); the pair join runs on a 5-row frame.
    * Theta convention: θ = k-th minimum for a full sketch (else the
    * whole hash space — the sketch is then EXACT), estimates scale the
    * strictly-below-θ counts by H/θ, and a pair's θ is the min of the
    * two sketches' θs. Estimate error is ~1/sqrt(k); Batch45Spec pins
    * the estimates against exact distinct counts at that tolerance.
    */
  def thetaOverlap(s: SparkSession, dir: String, k: Int = 256): DataFrame = {
    val hv = TextFunctions.portableTokenHash(col("user_id").cast("string"))
    val sk = Tables.events(s, dir)
      .select(col("event_type"), hv.as("hv"))
      .groupBy("event_type")
      .agg(graft.expressions.BottomKAgg.bottomk(col("hv"), col("hv"), k).as("mins"))
      .select(col("event_type"),
        col("mins").getField("key").as("hashes"),
        size(col("mins")).as("sz"))
      .withColumn("theta",
        when(col("sz") === k, element_at(col("hashes"), -1))
          .otherwise(lit(H)))
    // sorted-merge count of (distinct-union, intersection) strictly
    // below θ — runs on ≤k-long arrays of a group-count-sized frame
    val overlap = udf { (a: Seq[Long], b: Seq[Long], theta: Long) =>
      var i = 0; var j = 0; var u = 0; var n = 0
      while (i < a.length && j < b.length) {
        val x = a(i); val y = b(j)
        if (x < y) { if (x < theta) u += 1; i += 1 }
        else if (y < x) { if (y < theta) u += 1; j += 1 }
        else { if (x < theta) { u += 1; n += 1 }; i += 1; j += 1 }
      }
      while (i < a.length) { if (a(i) < theta) u += 1; i += 1 }
      while (j < b.length) { if (b(j) < theta) u += 1; j += 1 }
      (u.toLong, n.toLong)
    }
    val pairs = sk.as("a").join(sk.as("b"),
        col("a.event_type") < col("b.event_type"))
      .select(col("a.event_type").as("type_a"),
        col("b.event_type").as("type_b"),
        least(col("a.theta"), col("b.theta")).as("theta"),
        overlap(col("a.hashes"), col("b.hashes"),
          least(col("a.theta"), col("b.theta"))).as("uv"))
      .select(col("type_a"), col("type_b"), col("theta"),
        col("uv._1").as("n_union_minima"), col("uv._2").as("n_inter_minima"))
    // (n * H) / theta in EXACTLY this order — the oracle's doubles must
    // round identically, so no algebraic rearrangement
    def scaled(c: String) =
      col(c).cast("double") * lit(H.toDouble) / col("theta").cast("double")
    pairs
      .withColumn("est_union", round(
        when(col("theta") < H, scaled("n_union_minima"))
          .otherwise(col("n_union_minima").cast("double")), 4))
      .withColumn("est_intersect", round(
        when(col("theta") < H, scaled("n_inter_minima"))
          .otherwise(col("n_inter_minima").cast("double")), 4))
      .withColumn("est_jaccard", round(
        col("n_inter_minima").cast("double") /
          col("n_union_minima").cast("double"), 6))
  }
}
