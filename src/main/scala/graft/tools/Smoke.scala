package graft.tools

/** Pre-commit smoke gate (VERDICT r6 item 2): run a representative slice
  * of `SparkEntry.queries` at sf0.001 and exit NON-ZERO on any failure —
  * unlike `graft.Verify`, which logs per-query errors and exits 0 so the
  * driver's compare can still grade partial output. This main is the
  * "did I just break the suite?" contract for `tools/gate.sh`.
  *
  * Default slice: representatives of every operator family (~25 entries,
  * seconds at sf0.001). `SPARK_GRAFT_QUERIES=all` runs the full surface;
  * `SPARK_GRAFT_QUERIES=a,b` selects explicitly.
  */
object Smoke {
  /** Representatives of every `graft.Family` (RegistrySpec pins that each
    * has one), chosen to touch every source file's hot path (relational,
    * dedup, ANN, text, multimodal, sketches, streaming, lake, graph, BPE,
    * ML-prep).
    */
  val slice: Seq[String] = Seq(
    "q01_group_count", "q05_multi_agg_skew", "q06_join_agg", "q12_topk",
    "q24_asof_join_forward", "q25_range_join", "dedup_exact_docs", "dedup_minhash_lsh",
    "dedup_simhash", "ann_brute_topk", "ann_ivf_pq", "emb_knn_graph",
    "text_token_counts", "doc_quality_calibrate", "text_lang_id",
    "text_decontaminate", "mm_dedup_phash", "mm_dedup_phash_fast",
    "mm_phash_clusters", "sketch_hll_users", "stream_hll_users", "stream_sessionize",
    "lake_time_travel", "lake_vacuum_orphans", "graph_components",
    "tok_bpe_encode", "ml_split_group")

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val selected = graft.SparkEntry.selected("smoke",
      graft.SparkEntry.entries.filter(e => slice.contains(e.name)))
    val spark = graft.GraftSession.builder("graft-smoke", graft.GraftSession.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    var failed = 0
    selected.foreach { e =>
      val t0 = System.nanoTime()
      try {
        val n = e.run(spark, dir).count()
        val ms = (System.nanoTime() - t0) / 1e6
        println(f"[smoke] ${e.name}%-28s rows=$n%-8d ${ms}%8.0f ms")
      } catch { case ex: Throwable =>
        failed += 1
        System.err.println(s"[smoke] FAIL ${e.name}: ${ex.getMessage}")
      }
    }
    spark.stop()
    if (failed > 0) { System.err.println(s"[smoke] $failed FAILED"); sys.exit(1) }
    println(s"[smoke] OK ${selected.size} queries")
  }
}
