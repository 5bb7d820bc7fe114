package graft.tools

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SparkTestSession.{sf, spark}

/** Degenerate-input contract: every operator must survive an EMPTY corpus
  * (and by the full `tools.EdgeSweep` runs, a 3-row one) — at cluster
  * scale a filter that drops everything or a fresh stream with no data
  * yet is routine, and a driver-side NPE there takes down the whole
  * pipeline. This spec replays the sweep for the operator families the
  * r7 sweep actually caught crashing (null max-event-time heartbeat
  * anchors, null BPE argmax, empty quantile axis, null covariance fit,
  * empty PQ seed set) plus the q25 prefix form ADVICE r6 flagged — the
  * fast canary slice; `runMain graft.tools.EdgeSweep <dir> empty|tiny`
  * covers every entry.
  */
class EdgeSweepSpec extends AnyFunSuite {

  private val canaries = Seq(
    "ann_ivf_pq", "emb_pca_project", "q41_quantile_bucket",
    "q25_range_join", "text_decontaminate",
    "tok_bpe_train", "tok_bpe_encode",
    "stream_sessionize", "stream_late_audit")

  test("canary operators survive a fully empty corpus") {
    val dir = EdgeSweep.buildFixture(spark, sf, 0).toString
    for (name <- canaries) {
      val rows = graft.SparkEntry.queries(name)(spark, dir).count()
      // empty in → empty out for every canary (none synthesizes rows)
      assert(rows === 0, s"$name returned $rows rows on an empty corpus")
    }
    // fixture dirs are temp-dir scoped; Tables caches them per dir key,
    // so no invalidation is needed — but drop the streaming metadata
    // cache entry to keep the shared-session state clean for other specs
    graft.Tables.invalidate()
  }

  test("null-measure canaries survive a corpus with missing payloads") {
    // the shapes the r7 nulls sweep caught: null embeddings reaching the
    // vector kernels / driver collects, null text reaching the binary
    // payload, and null values killing the typed streaming encoders
    val dir = EdgeSweep.buildFixture(spark, sf, 256, mode = "nulls").toString
    for (name <- Seq("ann_ivf_pq", "emb_sample_diverse", "mm_scene_cuts",
        "stream_cdc_apply", "stream_sessionize")) {
      val df = graft.SparkEntry.queries(name)(spark, dir)
      assert(df.count() >= 0, s"$name failed on a null-measure corpus")
    }
    graft.Tables.invalidate()
  }

  test("zero-variance canaries survive an all-constant corpus") {
    // the shapes the r7 uniform sweep caught dividing by zero under ANSI
    // mode: zero-width histogram/PSI axes and a zero-sigma z-score
    val dir = EdgeSweep.buildFixture(spark, sf, 256, mode = "uniform").toString
    for (name <- Seq("q38_histogram", "doc_drift_psi", "stream_anomaly")) {
      val df = graft.SparkEntry.queries(name)(spark, dir)
      assert(df.count() >= 0, s"$name failed on a constant corpus")
    }
    graft.Tables.invalidate()
  }

  test("q41 buckets all rows to the ELSE arm when the measure is entirely null") {
    // the r8 review finding: no quantile boundaries exist on an all-null
    // (but NON-empty) measure column — the oracle's CASE compares every
    // row against NULL boundaries and falls to ELSE bucket 4, one row
    // per l_returnflag. The old guard returned an empty frame here.
    import org.apache.spark.sql.functions.col
    val dir = EdgeSweep.buildFixture(spark, sf, 256, mode = "allnull").toString
    val out = graft.SparkEntry.queries("q41_quantile_bucket")(spark, dir)
      .collect()
    assert(out.nonEmpty, "all-null measure must still bucket rows")
    assert(out.forall(_.getInt(out.head.fieldIndex("qbucket")) === 4))
    val flags = graft.Tables.lineitem(spark, dir)
      .select(col("l_returnflag")).distinct().count()
    assert(out.length === flags, "one bucket-4 row per l_returnflag")
    assert(out.map(r => r.getLong(r.fieldIndex("cnt"))).sum === 256L)
    graft.Tables.invalidate()
  }
}
