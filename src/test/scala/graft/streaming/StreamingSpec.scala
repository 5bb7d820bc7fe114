package graft.streaming

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SparkTestSession.{sf, spark}

class StreamingSpec extends AnyFunSuite {

  test("streaming tumbling agg equals the batch equivalent") {
    import org.apache.spark.sql.functions._
    val streamed = StreamOps.tumblingWindowAgg(spark, sf)
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    val batch = graft.Tables.events(spark, sf)
      .groupBy(date_trunc("hour", col("ts")).as("w"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    assert(streamed === batch)
  }

  test("streaming heavy hitters equals the batch threshold groups") {
    import org.apache.spark.sql.functions._
    val streamed = StreamOps.streamingHeavyHitters(spark, sf)
      .collect().map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2)))
    assert(streamed.nonEmpty)
    assert(streamed.forall(_._3 >= 2), "emitted groups must clear the threshold")
    val batch = graft.Tables.events(spark, sf)
      .groupBy(date_trunc("hour", col("ts")).as("w"), col("user_id"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 2)
      .collect().map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2)))
    assert(streamed.toSet === batch.toSet)
  }

  test("streaming minhash near-dup equals the batch LSH pipeline") {
    import org.apache.spark.sql.functions._
    // signatures: the per-row reference kernel (the arithmetic the
    // stream's bandKeysKernel folds into band keys) must be bit-equal to
    // the batch MinHashAgg signature for every fixture document
    import graft.functions.MinHashReference
    import graft.functions.TextFunctions.shingles
    import graft.operators.Dedup.{NumPerm, ShingleK}
    val docs = graft.Tables.documents(spark, sf)
    val kernelSigs = docs.select(col("doc_id"),
        MinHashReference.sigKernel(NumPerm)(
          transform(shingles(col("text"), ShingleK), sh => xxhash64(sh))).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val aggSigs = docs.select(col("doc_id"),
        explode(shingles(col("text"), ShingleK)).as("sh_str"))
      .select(col("doc_id"), xxhash64(col("sh_str")).as("sh"))
      .groupBy("doc_id")
      .agg(graft.expressions.MinHashAgg.minhash(col("sh"), NumPerm).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    aggSigs.foreach { case (id, sig) =>
      assert(kernelSigs(id) === sig, s"stream/batch signature drift for doc $id")
    }
    // end-to-end: identical verified pair sets (same candidates, same
    // exact-jaccard verify)
    val streamed = StreamOps.streamingMinhashNearDup(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // the batch-equality claim (and the shared SQL oracle) presuppose no
    // bucket hit the FIFO capacity on this corpus — the eviction counter
    // proves it, so an oracle failure at scale is attributable
    assert(StreamOps.lastCapacityDrops === 0L,
      "default maxBucket overflowed on the fixture; batch equality is no longer guaranteed")
    val batch = graft.operators.Dedup.minhashLsh(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(streamed === batch)
    assert(streamed.nonEmpty, "fixture lost its near-dup pairs")
    // bounded state: with a tiny bucket cap the pipeline still runs and
    // emits a subset of the uncapped pairs (drop-oldest recall trade),
    // and the eviction counter reports the (now nonzero) capacity drops
    val capped = StreamOps.streamingMinhashNearDup(spark, sf, maxBucket = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(capped.subsetOf(streamed))
    assert(StreamOps.lastCapacityDrops > 0L,
      "maxBucket=2 must overflow on the fixture — the counter is not wired")
  }

  test("streaming knn ingest drains to exactly the batch incremental result") {
    val streamed = StreamOps.streamKnnIngest(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val batch = graft.operators.Similarity.knnIncremental(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(streamed.nonEmpty)
    assert(streamed === batch)
  }

  test("streaming agg recovers checkpointed state across a restart") {
    import org.apache.spark.sql.functions._
    import java.nio.file.Files
    // phase 1 processes half the events; phase 2 RESTARTS from the
    // checkpoint, sees only the second half as new data, and must emit
    // totals equal to the batch aggregate over BOTH halves — which only
    // happens if phase 1's aggregation state was recovered
    val events = graft.Tables.events(spark, sf)
      .select(col("event_type"), col("value"), dayofmonth(col("ts")).as("dom"))
    val inDir = Files.createTempDirectory("graft-ckpt-in").toString
    val ckpt = Files.createTempDirectory("graft-ckpt-state").toString
    val ss = spark.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "4")
    def runPhase(name: String): Long = {
      val q = ss.readStream
        .schema(ss.read.parquet(inDir).schema)
        .parquet(inDir)
        .groupBy("event_type")
        .agg(count(lit(1)).as("cnt"), round(sum("value"), 2).as("sum_v"))
        .writeStream
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .format("memory")
        .queryName(name)
        .start()
      try {
        q.processAllAvailable()
        q.recentProgress.map(_.numInputRows).sum
      } finally q.stop()
    }
    events.filter(col("dom") < 15).drop("dom")
      .write.mode("append").parquet(inDir)
    runPhase("graft_ckpt_phase1")
    events.filter(col("dom") >= 15).drop("dom")
      .write.mode("append").parquet(inDir)
    val phase2Rows = runPhase("graft_ckpt_phase2")
    // the checkpoint must have been honored: phase 2 ingests ONLY the new
    // files — the first half's contribution can only come from recovered
    // aggregation state
    val newRows = events.filter(col("dom") >= 15).count()
    assert(phase2Rows === newRows,
      s"phase 2 re-read old files: ingested $phase2Rows, new data was $newRows")
    val recovered = ss.table("graft_ckpt_phase2").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val batch = events.groupBy("event_type")
      .agg(count(lit(1)).as("cnt"), round(sum("value"), 2).as("sum_v"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(recovered === batch)
  }

  test("parquet file sink is exactly-once across a restart") {
    import org.apache.spark.sql.functions._
    import java.nio.file.Files
    // the file sink's metadata log makes output transactional: a restart
    // must neither drop nor duplicate rows already committed
    val events = graft.Tables.events(spark, sf)
      .select(col("event_id"), col("value"), dayofmonth(col("ts")).as("dom"))
    val inDir = Files.createTempDirectory("graft-sink-in").toString
    val outDir = Files.createTempDirectory("graft-sink-out").toString + "/out"
    val ckpt = Files.createTempDirectory("graft-sink-ckpt").toString
    val ss = spark.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "4")
    def drain(): Unit = {
      val q = ss.readStream.schema(ss.read.parquet(inDir).schema).parquet(inDir)
        .select("event_id", "value")
        .writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    events.filter(col("dom") < 15).write.mode("append").parquet(inDir)
    drain()
    events.filter(col("dom") >= 15).write.mode("append").parquet(inDir)
    drain()
    val out = ss.read.parquet(outDir).select("event_id").collect().map(_.getLong(0))
    assert(out.length === out.distinct.length, "file sink duplicated rows")
    assert(out.length.toLong === events.count(), "file sink dropped rows")
  }

  test("stream-static join equals the batch decontamination overlap counts") {
    import org.apache.spark.sql.functions._
    val streamed = StreamOps.streamStaticJoin(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = graft.operators.TextOps.decontaminate(spark, sf)
      .filter(col("contaminated"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("streaming merge-upsert view drains to exactly the batch compaction") {
    val streamed = StreamOps.streamMergeUpsert(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(3), r.getLong(5))).toSet
    val batch = graft.operators.Relational.q33MergeUpsert(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(3), r.getLong(5))).toSet
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("fMGWS streaming sessions drain to exactly the batch sessions") {
    // the heartbeat staging flushes every final session through the
    // event-time timeout, so the drained output IS the batch result
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2),
        r.getLong(3), r.getDouble(4))).toSet
    val batch = key(Sessionize.batch(spark, sf))
    val streamed = key(Sessionize.streaming(spark, sf))
    assert(streamed === batch,
      s"diff: ${streamed.diff(batch).take(3)} / ${batch.diff(streamed).take(3)}")
    assert(streamed.nonEmpty)
  }

  test("late audit replays exactly: drops by window, emits by watermark") {
    import org.apache.spark.sql.functions._
    val streamed = StreamOps.streamLateAudit(spark, sf)
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSet
    val ev = graft.Tables.events(spark, sf)
    val winLenSec = 6 * 3600L
    val winEnd = to_timestamp(
      (floor(unix_timestamp(col("ts")) / winLenSec) + 1) * winLenSec)
    // W1 = watermark after the on-time batch, ms-truncated as Spark keeps it
    val maxEvenMs = ev.filter(col("event_id") % 2 === 0)
      .agg(max(col("ts"))).collect()(0).getTimestamp(0).getTime
    val w1 = new java.sql.Timestamp(
      maxEvenMs - 15L * 24 * 3600 * 1000)
    val accepted = ev.filter(col("event_id") % 2 === 0)
      .unionByName(ev.filter(col("event_id") % 2 =!= 0)
        .filter(winEnd > lit(w1)))
    val expected = accepted
      .groupBy(to_timestamp(floor(unix_timestamp(col("ts")) / winLenSec) *
        winLenSec).as("win_start"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), round(sum("value"), 2).as("sum_v"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSet
    assert(streamed === expected,
      s"\nonly-streamed=${(streamed -- expected).toSeq.sortBy(_._1.getTime).take(5)}" +
        s"\nonly-expected=${(expected -- streamed).toSeq.sortBy(_._1.getTime).take(5)}" +
        s"\nsizes ${streamed.size} vs ${expected.size}")
    // the engine's drop counter sits AFTER the in-batch partial
    // aggregation, so it counts dropped (window, type) partials — a
    // positive number bounded by the replayed dropped-EVENT count
    val droppedExpected = ev.filter(col("event_id") % 2 =!= 0)
      .filter(winEnd <= lit(w1)).count()
    assert(droppedExpected > 0, "fixture must produce genuine late data")
    assert(StreamOps.lastDroppedByWatermark > 0 &&
      StreamOps.lastDroppedByWatermark <= droppedExpected,
      s"engine ${StreamOps.lastDroppedByWatermark} vs events $droppedExpected")
  }

  test("CDC apply folds state across micro-batches and revives tombstones") {
    import org.apache.spark.sql.functions._
    // stage the events fixture as two files (event_id parity split) so
    // the keyed state demonstrably carries across micro-batches; the
    // drained view must equal the single-batch run on the same data
    val ev = spark.read.parquet(s"$sf/events.parquet")
      .transform(graft.Tables.normalizeTs)
    val stage = java.nio.file.Files.createTempDirectory("graft_cdc_stage_")
    try {
      def stageFile(df: org.apache.spark.sql.DataFrame, n: Int): Unit = {
        val tmp = stage.resolve(s"tmp$n")
        df.coalesce(1).write.parquet(tmp.toString)
        val part = java.nio.file.Files.list(tmp).iterator()
        var src: java.nio.file.Path = null
        while (part.hasNext) {
          val p = part.next()
          if (p.getFileName.toString.endsWith(".parquet")) src = p
        }
        val dst = stage.resolve(f"batch$n%04d.parquet")
        java.nio.file.Files.move(src, dst)
        java.nio.file.Files.setLastModifiedTime(dst,
          java.nio.file.attribute.FileTime.fromMillis(1000000L + n * 10000L))
      }
      stageFile(ev.filter(col("event_id") % 2 === 0), 1)
      stageFile(ev.filter(col("event_id") % 2 =!= 0), 2)
      val ss = spark.newSession()
      ss.conf.set("spark.sql.shuffle.partitions", "4")
      val staged = StreamOps.cdcApplyPath(ss, stage.toString,
          "batch*.parquet", maxFilesPerTrigger = 1)
        .collect().map(_.toString).sorted
      val single = StreamOps.streamCdcApply(spark, sf)
        .collect().map(_.toString).sorted
      assert(staged.nonEmpty)
      assert(staged.toSeq == single.toSeq)
      // the fixture must actually exercise tombstone semantics: at least
      // one user's final op is an 'error' (absent from the view) and at
      // least one user has an error followed by a reviving upsert
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts").desc, col("event_id").desc)
      val lastOps = ev.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
      val deadUsers = lastOps.filter(col("event_type") === "error")
        .select("user_id").collect().map(_.getLong(0)).toSet
      assert(deadUsers.nonEmpty, "no user ends on a tombstone")
      val revived = ev.filter(col("event_type") === "error")
        .select("user_id").distinct()
        .collect().map(_.getLong(0)).toSet -- deadUsers
      assert(revived.nonEmpty, "no user revives after a tombstone")
      val viewUsers = single.map(_.split(",")(0).stripPrefix("[").toLong).toSet
      assert(deadUsers.forall(u => !viewUsers.contains(u)))
      assert(revived.forall(viewUsers.contains))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(stage.toFile)
    }
  }
}
