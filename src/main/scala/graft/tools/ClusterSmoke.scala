package graft.tools

import org.apache.spark.sql.SparkSession

/** Multi-executor smoke run: executes a representative slice of the
  * query surface on `local-cluster[2,4,2048]` — TWO separate executor
  * JVMs, unlike `local[n]`'s single process — so everything that only
  * breaks across process boundaries actually gets exercised: closure
  * and kernel serialization, TypedImperativeAggregate
  * serialize/deserialize on shuffle, broadcast transport, and the
  * driver-map regime's broadcast variables.
  *
  * The slice covers each custom-expression family (simhash, minhash,
  * top-k, HLL, bitmap, dot-product kernels), the driver-rank graph
  * regime, a streaming query, and a storage round-trip. Prints one
  * PASS/FAIL line per query plus a summary; exit code 1 on any failure.
  *
  * Run with `SPARK_HOME=/opt/spark SPARK_SCALA_VERSION=2.13
  * sbt "runMain graft.tools.ClusterSmoke"` — the standalone Worker
  * launches executor JVMs through SPARK_HOME's launcher, and
  * SPARK_SCALA_VERSION skips its source-tree build-directory probe
  * (release layouts don't have one). Verified 25/25 green this round
  * (the slice now also covers the stateful-streaming tail —
  * flatMapGroupsWithState session timeouts, watermark-late audits and
  * CDC last-writer-wins state cross JVM boundaries through the
  * HDFS-backed state store — on top of the theta sketch's cross-JVM
  * partial merges, k-core's iterative broadcasts, dq_profile's
  * per-column union branches, the blocked linkage self-join, and the
  * BPE trainer's iterative window algebra with driver-literal rules).
  */
object ClusterSmoke {

  private[graft] val Slice = Seq(
    "q01_group_count",      // baseline agg
    "q05_multi_agg_skew",   // custom skew aggregate
    "dedup_simhash",        // SimHashAgg across executors
    "dedup_minhash_lsh",    // MinHashAgg
    "ann_brute_topk",       // DotProduct kernel + TopKAgg
    "sketch_hll_users",     // HllAgg serialize/deserialize
    "q57_bitmap_cohorts",   // BitmapAgg canonical bytes across JVMs
    "graph_pagerank",       // driver-map broadcast regime
    "graph_triangles",      // adjacency broadcast + array_intersect
    "mm_dedup_phash",       // shared bucket/verify machinery
    "q58_group_mode",       // ModeAgg across executors
    "stream_sample_bottomk",// BottomKAgg in streaming state
    "lake_segment_scan",    // V2 connector: writers+readers across JVMs
    "stream_tumbling_agg",  // streaming micro-batches on a cluster
    "lake_time_travel",     // commit/manifest round-trip
    "sketch_theta_overlap", // BottomKAgg partials merged across JVMs
    "graph_kcore",          // iterative broadcast survivor filters
    "dq_profile",           // per-column union-branch aggregation
    "link_customer_pairs",  // blocked self-join across executors
    "tok_bpe_train",        // iterative window algebra + driver-literal rules
    // stateful-streaming tail: HDFS-backed state stores serialize state
    // rows across micro-batches; these three chain timeouts
    // (flatMapGroupsWithState), watermark-late audits, and CDC
    // last-writer-wins state through executor JVM boundaries
    "stream_sessionize",
    "stream_late_audit",
    "stream_cdc_apply",
    // r6 additions (VERDICT item 8): manifest set-algebra + explicit-path
    // reads across JVMs, and the group-aware hash split's determinism
    // under multi-executor partitioning
    "lake_vacuum_orphans",
    "ml_split_group",
    // r7 additions: star-edge contraction's iterative checkpoints across
    // JVMs, and the distributed exact-ntile regime (range partitioner +
    // monotonically_increasing_id rank reconstruction under real
    // multi-executor partition ids)
    "graph_components",
    "q45_decile_lift_dist",
    // as-of join: the tagged union's one exchange on user_id and the
    // carry-forward window, whose struct-valued frame state must hold
    // across real executor shuffles, not just local[n]'s in-process ones
    "q24_asof_join_forward")

  /** Regime-forcing entries that the public `SparkEntry.queries` map
    * (rightly) serves through their fixture-scale fast path — the smoke
    * must exercise the DISTRIBUTED path on real executor boundaries.
    */
  private[graft] val Forced: Map[String, (SparkSession, String) =>
      org.apache.spark.sql.DataFrame] = Map(
    "q45_decile_lift_dist" -> ((s, d) =>
      graft.operators.Relational.q45DecileLift(s, d, windowRowCap = 0L)))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = SparkSession.builder()
      .master("local-cluster[2,4,2048]")
      .appName("graft-cluster-smoke")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.executor.memory", "2g")
      // executor JVMs need the same JDK17 module opens the driver gets
      // from build.sbt, plus this application's classes on their paths
      .config("spark.executor.extraJavaOptions",
        "--add-opens=java.base/java.lang=ALL-UNNAMED " +
          "--add-opens=java.base/java.lang.invoke=ALL-UNNAMED " +
          "--add-opens=java.base/java.io=ALL-UNNAMED " +
          "--add-opens=java.base/java.net=ALL-UNNAMED " +
          "--add-opens=java.base/java.nio=ALL-UNNAMED " +
          "--add-opens=java.base/java.util=ALL-UNNAMED " +
          "--add-opens=java.base/java.util.concurrent=ALL-UNNAMED " +
          "--add-opens=java.base/sun.nio.ch=ALL-UNNAMED " +
          "--add-opens=java.base/sun.nio.cs=ALL-UNNAMED " +
          "--add-opens=java.base/sun.security.action=ALL-UNNAMED " +
          "--add-opens=java.base/sun.util.calendar=ALL-UNNAMED")
      .config("spark.executor.extraClassPath",
        System.getProperty("java.class.path"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    var failed = 0
    def run(tag: String, name: String, dir: String): Unit = {
      val t0 = System.nanoTime()
      try {
        val n = Forced.getOrElse(name, graft.SparkEntry.queries(name))(
          spark, dir).count()
        println(f"[smoke] PASS $tag$name%-22s rows=$n%-8d ${(System.nanoTime() - t0) / 1e9}%6.2f s")
      } catch {
        case e: Throwable =>
          failed += 1
          println(s"[smoke] FAIL $tag$name: ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    }
    Slice.foreach(run("", _, sfDir))
    // Maximum-skew slice (r8): EdgeSweep's hotkey fixture — every
    // grouping key collapsed to ONE value — on real executor boundaries.
    // The local EdgeSweep battery proves these queries survive the
    // shape; this slice proves the survival mechanisms (single hot
    // shuffle partition, hot-bucket caps in the dedup index, the salted
    // skew join's salt fan-out, star contraction on a one-component
    // clique) hold when the skewed partition crosses real JVM shuffles.
    // A query returning zero rows on the degenerate fixture is a pass —
    // the gate is no failure, same as EdgeSweep's.
    val hotkeyDir = EdgeSweep.buildFixture(spark, sfDir, 256, mode = "hotkey")
    val hotkeySlice = Seq(
      "q05_multi_agg_skew",    // 15-agg dict over one group
      "q54_skew_join_salted",  // the salting path with ALL rows hot
      "dedup_ngram_jaccard",   // hot-bucket-capped inverted index, 100%-dup corpus
      "graph_components")      // contraction on a single dense component
    hotkeySlice.foreach(run("hotkey:", _, hotkeyDir.toString))
    val total = Slice.size + hotkeySlice.size
    println(s"[smoke] ${total - failed}/$total passed on local-cluster[2,4,2048]")
    spark.stop()
    if (failed > 0) sys.exit(1)
  }
}
