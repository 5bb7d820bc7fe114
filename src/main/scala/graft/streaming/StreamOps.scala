package graft.streaming

import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress
import graft.expressions.{BottomKAgg, HllAgg, TopKAgg}
import graft.expressions.DotProduct.dot

/** Structured Streaming surface. The reference is batch-only (SURVEY.md §0),
  * so this is engine-completeness beyond the reference: windowed streaming
  * aggregation with event-time semantics, driven synchronously from the
  * batch fixtures for test/verify. Each entry states only its plan and
  * output mode: [[graft.Tables.stream]] is the source over one fixture
  * table ([[stagedStream]] over a staged multi-batch directory), and
  * [[drain]] runs the query into a memory sink and returns the sink
  * table. Three drains are written by hand, each with its reason beside
  * it: [[Sessionize.streaming]]'s file sink, [[streamLakeUpsert]]'s
  * `foreachBatch` and [[streamSegmentSource]]'s drain–commit–drain.
  */
object StreamOps {

  private val counter = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Run `stream` to completion into a memory sink in `outputMode` and
    * return the sink table. The query gets a fresh name, drains every
    * available input, and stops even when the drain throws; its
    * `recentProgress` stays readable in [[lastDrainProgress]].
    */
  private[graft] def drain(stream: Dataset[_], outputMode: String): DataFrame = {
    val name = s"graft_stream_${counter.incrementAndGet()}"
    val q = stream.writeStream.outputMode(outputMode).format("memory")
      .queryName(name).start()
    try q.processAllAvailable()
    finally {
      lastDrainProgress = q.recentProgress
      q.stop()
    }
    stream.sparkSession.table(name)
  }

  /** `recentProgress` of the most recent [[drain]]. */
  @volatile private var lastDrainProgress: Array[StreamingQueryProgress] = Array.empty

  /** File-stream source over a staged directory (or glob) of batch files:
    * one micro-batch per file, oldest mtime first (`maxFilesPerTrigger=1`,
    * `latestFirst=false`), so the staged order is the batch order that
    * watermark and late-data semantics depend on. The staged files are no
    * fixture table, so their schema is read from them.
    */
  private[streaming] def stagedStream(ss: SparkSession, watch: String): DataFrame =
    ss.readStream.schema(ss.read.parquet(watch).schema)
      .option("maxFilesPerTrigger", "1")
      .option("latestFirst", "false")
      .parquet(watch)

  /** Stage micro-batch `n` of `watch`: `write` puts one parquet file at
    * its path, whose mtime is then pinned so [[stagedStream]] reads it
    * n-th.
    */
  private def stageBatch(watch: Path, n: Int)(write: Path => Unit): Unit = {
    val dst = watch.resolve(f"batch$n%04d.parquet")
    write(dst)
    Files.setLastModifiedTime(dst, FileTime.fromMillis(1000000L + n * 10000L))
  }

  /** Per-corpus max event time (see stageEventsWithHeartbeats) — cleared
    * by [[graft.Tables.invalidate]] when fixtures are rewritten in place.
    */
  private[graft] val maxEventTs =
    new java.util.concurrent.ConcurrentHashMap[String, java.time.Instant]()

  /** Staged heartbeat fixture dirs, memoized per (canonical events file,
    * nHeartbeats) — the staged bytes are a pure function of the corpus,
    * yet each heartbeat-staged query was re-paying the byte copy plus
    * 2–3 single-file heartbeat writes (Spark jobs) for an identical
    * directory. The staged dir is READ-ONLY after creation (each query
    * attaches its own FileStreamSource with its own checkpoint), so
    * sharing is safe. Cleared — files deleted — by
    * [[graft.Tables.invalidate]] alongside [[maxEventTs]].
    */
  private[graft] val stagedHeartbeats =
    new java.util.concurrent.ConcurrentHashMap[(String, Int), Path]()

  // Backstop for processes that run streaming queries and exit without
  // calling Tables.invalidate(): without this the memoized graft_hb* temp
  // dirs outlive the JVM. Normal in-session lifecycle is unchanged.
  // Registered through Hadoop's ShutdownHookManager at a priority BELOW
  // SparkContext's (50), so the staged dirs are deleted only after Spark's
  // own hook has stopped any still-draining file-source streams — a plain
  // Runtime hook has no ordering and a drain could hit deleted paths.
  // Wrapped: if this object is first loaded DURING shutdown, registration
  // itself throws IllegalStateException; cleanup is best-effort anyway.
  try org.apache.hadoop.util.ShutdownHookManager.get().addShutdownHook(
    new Runnable { def run(): Unit = { clearStagedHeartbeats(); clearScratchDirs() } }, 10)
  catch { case _: IllegalStateException => () }

  /** Per-call scratch dirs backing file-sink verification outputs (e.g.
    * [[Sessionize.streaming]]'s parquet sink). Unlike the memoized staged
    * fixtures these are WRITE-ONCE results a caller may still be lazily
    * reading, so they are only reclaimed at JVM exit (above) — the
    * file-sink path exists precisely so result bytes never buffer in the
    * driver, and its disk cost is output-sized, not corpus-sized.
    */
  private val scratchDirs =
    new java.util.concurrent.ConcurrentLinkedQueue[Path]()

  private[streaming] def newScratchDir(prefix: String): Path = {
    val p = Files.createTempDirectory(prefix)
    scratchDirs.add(p)
    p
  }

  private[graft] def clearScratchDirs(): Unit = {
    val it = scratchDirs.iterator()
    while (it.hasNext) {
      try org.apache.commons.io.FileUtils.deleteDirectory(it.next().toFile)
      catch { case _: java.io.IOException => () } // best-effort temp cleanup
    }
    scratchDirs.clear()
  }

  private[graft] def clearStagedHeartbeats(): Unit = {
    val it = stagedHeartbeats.values().iterator()
    while (it.hasNext) {
      try org.apache.commons.io.FileUtils.deleteDirectory(it.next().toFile)
      catch { case _: java.io.IOException => () } // best-effort temp cleanup
    }
    stagedHeartbeats.clear()
  }

  /** The shared watch directory for `dir`'s events staged with
    * `nHeartbeats` far-future flush rows — built on first use
    * ([[stageEventsWithHeartbeats]]), byte-identical thereafter.
    *
    * The memo key is the REALPATH of `events.parquet`, so both deleting
    * AND rewriting the fixture in place require [[graft.Tables.invalidate]]
    * first — a rewrite under the same path would otherwise keep serving
    * the previously staged bytes (same contract as [[maxEventTs]]).
    */
  private[streaming] def stagedHeartbeatDir(ss: SparkSession, dir: String,
                                            nHeartbeats: Int): Path = {
    val key = (java.nio.file.Paths.get(dir, "events.parquet")
      .toRealPath().toString, nHeartbeats)
    stagedHeartbeats.computeIfAbsent(key, _ => {
      val watch = Files.createTempDirectory(s"graft_hb${nHeartbeats}_")
      stageEventsWithHeartbeats(ss, dir, watch, nHeartbeats)
      watch
    })
  }

  /** Stateful streaming operators allocate one state store PER shuffle
    * partition PER stateful operator; with local micro-batches of fixture
    * size, store initialization dominates wall time, so the streaming
    * query wants a smaller stateful parallelism (pinned at first start of
    * each query; on a cluster this knob instead tracks expected state
    * volume). Rather than mutating the SHARED session's conf around the
    * query — a tuning race for anything running concurrently — each
    * streaming query gets its own `newSession()`: same SparkContext and
    * cached data, isolated SQLConf.
    */
  private[streaming] def streamingSession(s: SparkSession, partitions: Int = 2): SparkSession = {
    val ss = s.newSession()
    // stateful parallelism is a data-size tradeoff: each micro-batch pays a
    // per-partition state-store open/commit, so small fixtures want few
    // stores, while the per-batch sort/merge inside the stateful operator
    // wants many tasks once rows reach the millions; the `partitions`
    // default is the measured fixture value (see SCALE.md).
    //
    // Default 2, from the r12 interleaved 3-run family A/B at sf0.1:
    // per-query minima total 61.8 s @4 → 48.9 s @2 (−21%), 11 of 21
    // entries ≥15% faster, worst regression +3% (noise). P=1 was ALSO
    // measured and regresses the heavy stateful entries 2–4× (sessionize
    // 3.7 → 12.5 s) — the fixture sweet spot is 2. State-store commits
    // are not the per-batch floor: their commitMs was mostly Hadoop
    // forking chmod/readlink per checkpoint file, which the engine's
    // graft.fs filesystem removes (traced streaming pass: 0.48 → 0.03 s
    // of state commits). On a cluster this knob tracks expected
    // state volume, exactly as before.
    ss.conf.set("spark.sql.shuffle.partitions", partitions.toString)
    // events.parquet stores TIMESTAMP(NANOS) — see Tables.events
    ss.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // newSession starts from SparkConf defaults, not the parent's runtime
    // conf — carry over the semantics-bearing session setting explicitly
    ss.conf.set("spark.sql.session.timeZone",
      s.conf.get("spark.sql.session.timeZone"))
    ss
  }

  /** Tumbling-window count/sum by event_type over the events table, executed
    * as a genuine streaming query (readStream → window agg → memory sink).
    * Complete output mode so every window is emitted when the (finite)
    * source drains. Returns the materialized result as a DataFrame with a
    * flat schema (win_start, event_type, cnt, sum_v).
    */
  def tumblingWindowAgg(s: SparkSession, dir: String,
                        windowLen: String = "1 hour"): DataFrame = {
    val ss = streamingSession(s)
    val stream = graft.Tables.stream(ss, dir, "events")
      .transform(graft.Tables.normalizeTs)
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("cnt"), round(sum("value"), 2).as("sum_v"))
    drain(stream, "complete").select(
      col("window.start").as("win_start"),
      col("event_type"), col("cnt"), col("sum_v"))
  }

  /** Streaming heavy hitters — the per-window frequency-threshold monitor
    * (burst/abuse detection, hot-key discovery feeding the batch salting
    * levers): users whose event count within a tumbling window reaches
    * `threshold`. One stateful aggregation keyed (window, user); the
    * threshold filter is stateless on the aggregate's output, so this
    * stays a SINGLE stateful operator. State is bounded by the watermark:
    * a (window, user) entry lives until the watermark passes the window
    * end, i.e. state ∝ users active per window-length of traffic, never
    * history — the same eviction contract as the tumbling aggregate.
    * Complete output mode (like tumblingWindowAgg) because the finite
    * fixture drains; a production deployment emits finalized windows in
    * append mode with the identical plan. The batch SQL replay over the
    * same events IS the oracle — the streaming twin of
    * `text_heavy_hitters`' exact phase, keyed by (window, user) instead
    * of corpus-wide terms.
    */
  def streamingHeavyHitters(s: SparkSession, dir: String,
                            threshold: Long = 2,
                            windowLen: String = "1 hour"): DataFrame = {
    val ss = streamingSession(s)
    val stream = graft.Tables.stream(ss, dir, "events")
      .transform(graft.Tables.normalizeTs)
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), windowLen), col("user_id"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= threshold)
    drain(stream, "complete").select(
      col("window.start").as("win_start"), col("user_id"), col("cnt"))
  }

  /** Stream-stream inner join with an event-time bound: purchases
    * attributed to a preceding click of the same user within one hour.
    * Both sides carry watermarks and the join condition bounds event time
    * on both, so state for either side is evicted one hour behind its
    * watermark — state ∝ one hour of traffic, not history. Inner join
    * results emit on match (watermarks only bound state), so draining a
    * finite source yields the complete batch-equivalent set.
    */
  def streamStreamJoin(s: SparkSession, dir: String): DataFrame = {
    val ss = streamingSession(s)
    def events = graft.Tables.stream(ss, dir, "events")
      .transform(graft.Tables.normalizeTs)
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", "1 hour")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user_id"),
        col("event_id").as("purchase_id"), col("ts").as("purchase_ts"),
        col("value"))
      .withWatermark("purchase_ts", "1 hour")
    val joined = clicks.join(purchases,
      col("user_id") === col("p_user_id") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"))
      .select(col("click_id"), col("purchase_id"), col("user_id"),
        col("value"))
    drain(joined, "append")
  }

  /** Streaming dedup with BOUNDED state — the form a real ingest pipeline
    * runs: `dropDuplicatesWithinWatermark` evicts a key's state once the
    * watermark passes its event time plus the delay, so state is ∝
    * traffic inside the watermark horizon rather than ∝ all distinct
    * history (the `streamingDedup` variant above). Dedup key:
    * (user_id, event_type, event-hour) over the events stream. The
    * emitted first-arrival rows carry nondeterministic arrival order, so
    * only the key columns are emitted; a finite source drained in one
    * micro-batch dedups every duplicate against live state, making the
    * emitted set exactly the batch DISTINCT (the oracle).
    */
  def streamingDedupBounded(s: SparkSession, dir: String): DataFrame = {
    val ss = streamingSession(s)
    val stream = graft.Tables.stream(ss, dir, "events")
      .transform(graft.Tables.normalizeTs)
      .withWatermark("ts", "1 hour")
      .withColumn("hour_start", date_trunc("hour", col("ts")))
      .dropDuplicatesWithinWatermark("user_id", "event_type", "hour_start")
      .select("user_id", "event_type", "hour_start")
    drain(stream, "append")
  }

  /** Stream-static join — the remaining canonical streaming join shape:
    * a document stream decontaminated against a STATIC eval-set shingle
    * dictionary (the batch frame is re-read per micro-batch; broadcast
    * keeps the probe map-side, exactly as in the batch
    * `TextOps.decontaminate`). The join itself is STATELESS — no
    * watermark, no state store; the per-doc overlap aggregation runs in
    * complete mode, so draining the finite source emits exactly the
    * batch contamination counts (the oracle). Emits only contaminated
    * docs (inner join) with their distinct-shared-shingle counts.
    */
  def streamStaticJoin(s: SparkSession, dir: String,
                       k: Int = 3, evalMod: Int = 10): DataFrame = {
    import graft.functions.TextFunctions.shingles
    val ss = streamingSession(s)
    val evalShingles = ss.read.parquet(s"$dir/documents.parquet")
      .filter(col("doc_id") % evalMod === 0)
      .select(explode(shingles(col("text"), k)).as("sh"))
      .distinct()
    val stream = graft.Tables.stream(ss, dir, "documents")
      .filter(col("doc_id") % evalMod =!= 0)
      .select(col("doc_id"), explode(shingles(col("text"), k)).as("sh"))
      .join(broadcast(evalShingles), Seq("sh"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
    drain(stream, "complete")
  }

  /** Streaming anomaly detection against a fitted static baseline — the
    * model-apply-on-stream shape of a monitoring pipeline: per-type
    * (mean, stddev) fit once over the static history, broadcast onto the
    * stream, each arriving event scored z = (value − μ)/σ in the
    * micro-batch map phase, |z| > threshold alerts emitted. Entirely
    * STATELESS — no state store, no watermark, unbounded uptime; the
    * fitted model is the only driver-side artifact and refreshes by
    * restarting the query (or a foreachBatch re-read at production
    * scale). Emitted rows are pure per-event functions, so the batch SQL
    * oracle gates the stream exactly.
    */
  def streamAnomaly(s: SparkSession, dir: String,
                    threshold: Double = 3.0): DataFrame = {
    val ss = streamingSession(s)
    val stats = ss.read.parquet(s"$dir/events.parquet").groupBy("event_type")
      .agg(avg("value").as("mu"), stddev_samp("value").as("sigma"))
    val stream = graft.Tables.stream(ss, dir, "events")
      .select("event_id", "event_type", "value")
      .join(broadcast(stats), Seq("event_type"))
      // zero-variance types (every value identical) have no anomalies by
      // definition — and dividing by their sigma is an ANSI error; a
      // null sigma (single-row type) already null-filters below
      .filter(col("sigma") > 0)
      .withColumn("z", (col("value") - col("mu")) / col("sigma"))
      .filter(abs(col("z")) > lit(threshold))
      .select(col("event_id"), col("event_type"), round(col("z"), 4).as("z"))
    drain(stream, "append")
  }

  /** Streaming ANN ingest — the streaming twin of `emb_knn_incremental`
    * (online embedding ingestion: vectors arrive on a stream and each
    * immediately receives its top-k neighbors from the static corpus
    * index). The new batch (odd vec_id) streams in; the existing corpus
    * (even) is the STATIC side, bucketed once by the same 8-plane LSH
    * sign pattern. The stream-static equi-join on the bucket key is
    * STATELESS (no watermark, no join state — the static side is a
    * lookup), and the only state is the per-query `TopKAgg` buffer:
    * bounded at k entries per streamed vector, exactly the result being
    * built. Draining the finite fixture therefore ends at precisely the
    * batch incremental result, so the same DuckDB oracle applies.
    *
    * At scale: the static index is corpus-sized, so the join shuffles on
    * the bucket key rather than broadcasting (locally Catalyst may
    * broadcast the small fixture side — the semantics don't change); the
    * top-k state is new-batch-proportional. This is the shape that lets
    * an always-on ingest pipeline annotate arriving embeddings without
    * rebuilding the graph.
    */
  def streamKnnIngest(s: SparkSession, dir: String, k: Int = 5,
                      numPlanes: Int = 8): DataFrame = {
    import graft.functions.VectorFunctions
    val ss = streamingSession(s)
    val dim = VectorFunctions.Dim
    val bucketOf = VectorFunctions.bucketKernel(
      VectorFunctions.hyperplanesFlat(numPlanes, dim), dim)
    // null embeddings are excluded on BOTH sides — corpusVectors' index
    // ingest-hygiene rule, applied to the streaming source too
    val corpus = ss.read.parquet(s"$dir/embeddings.parquet")
      .filter(col("vec_id") % 2 === 0 && col("embedding").isNotNull)
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("nv"))
      .withColumn("bucket", bucketOf(col("nv")))
      .withColumn("nn", sqrt(dot(col("nv"), col("nv"))))
    val stream = graft.Tables.stream(ss, dir, "embeddings")
      .filter(col("vec_id") % 2 === 1 && col("embedding").isNotNull)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      .withColumn("bucket", bucketOf(col("qv")))
      .withColumn("qn", sqrt(dot(col("qv"), col("qv"))))
      .join(corpus, Seq("bucket"))
      .select(col("query_id"),
        round(dot(col("qv"), col("nv")) / (col("qn") * col("nn")), 6).as("cosine"),
        col("neighbor_id"))
      .groupBy("query_id")
      .agg(TopKAgg.topk(col("cosine"), col("neighbor_id"), k).as("top"))
    drain(stream, "complete")
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("query_id"), col("t.id").as("neighbor_id"),
        col("t.score").as("cosine"), (col("pos") + 1).cast("int").as("rank"))
  }

  /** One LSH band occurrence of a streaming document (ts = arrival time,
    * the watermark/TTL column).
    */
  private[streaming] case class BandRow(bandIdx: Int, bandHash: Long,
                                        docId: Long, ts: java.sql.Timestamp)

  /** A candidate near-dup pair (unordered, id_a < id_b). */
  private[streaming] case class CandPair(id_a: Long, id_b: Long)

  /** Streaming MinHash-LSH near-dup detection with BOUNDED per-bucket
    * state — the streaming twin of the batch `Dedup.minhashLsh` pipeline:
    *
    *  1. each arriving document maps to its band keys in ONE narrow
    *     projection (TextFunctions.bandKeysKernel over the xxhash64'd
    *     shingles — its 32-permutation signature is bit-equal to the
    *     batch MinHashAgg signature, so two documents share a band
    *     bucket here exactly when they share one in the batch path);
    *  2. band keys explode to (band_idx, band_hash) rows;
    *  3. `flatMapGroupsWithState` keyed by band bucket emits (new, old)
    *     candidate pairs against the bucket's remembered doc ids. State
    *     per bucket is a FIFO of ≤ `maxBucket` ids plus an EVENT-TIME TTL
    *     (watermark over arrival time; timeout = last arrival + horizon)
    *     — the two bounds a 100 TB ingest needs: hot buckets cap their
    *     quadratic fan-out (recall loss only past the cap, as in the
    *     batch hot-bucket guard), idle buckets evict once the watermark
    *     passes their horizon. Event-time (not processing-time) timeout
    *     is deliberate: processing-time timeouts make the query
    *     clock-driven — it never goes idle, which both burns a trigger
    *     loop on an idle ingest and deadlocks any drain-the-source
    *     harness; watermark-driven eviction does the same job and idles
    *     with the data;
    *  4. candidates hand off to the batch exact-Jaccard verify
    *     (`Dedup.verifyCandidates`) — candidate generation is the
    *     streaming part; verification joins the corpus arrays exactly as
    *     the incremental ingest path does.
    *
    * Draining the finite fixture in one pass emits every pair sharing a
    * band bucket (capacity permitting), which is exactly the batch LSH
    * candidate set — so the final verified pairs equal `minhashLsh`'s and
    * the same SQL oracle applies (spec-pinned equality). "Capacity
    * permitting" is load-bearing: the FIFO cap silently trades recall on
    * skewed corpora, so every run COUNTS its evictions into
    * [[lastCapacityDrops]] — 0 proves the drained candidate set is the
    * complete batch set (the oracle's precondition); > 0 makes an oracle
    * mismatch attributable to the documented cap instead of a bug. (The
    * count can only over-state: a replayed micro-batch re-adds its
    * evictions, never hides one.)
    */
  @volatile private[graft] var lastCapacityDrops: Long = 0L

  def streamingMinhashNearDup(s: SparkSession, dir: String,
                              maxBucket: Int = 64): DataFrame = {
    import graft.functions.TextFunctions.{bandKeysKernel, shingles}
    import graft.operators.Dedup.{NumBands, NumPerm, ShingleK}
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode, GroupState}
    val ss = streamingSession(s)
    import ss.implicits._
    val ttlMs = 3600L * 1000
    val dropAcc = ss.sparkContext.longAccumulator("graft.streamMinhash.capacityDrops")
    val bands = graft.Tables.stream(ss, dir, "documents")
      .select(col("doc_id"),
        posexplode(bandKeysKernel(NumPerm, NumBands)(
          transform(shingles(col("text"), ShingleK), sh => xxhash64(sh))))
          .as(Seq("band_idx", "band_hash")),
        current_timestamp().as("ts"))
      .withWatermark("ts", "10 minutes")
      .select(col("band_idx").as("bandIdx"), col("band_hash").as("bandHash"),
        col("doc_id").as("docId"), col("ts"))
      .as[BandRow]
    val candidates = bands
      .groupByKey(r => (r.bandIdx, r.bandHash))
      .flatMapGroupsWithState[Seq[Long], CandPair](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_: (Int, Long), rows: Iterator[BandRow], state: GroupState[Seq[Long]]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            var seen = state.getOption.getOrElse(Seq.empty)
            var maxTs = 0L
            val out = Seq.newBuilder[CandPair]
            rows.foreach { r =>
              seen.foreach { old =>
                if (old != r.docId)
                  out += CandPair(math.min(old, r.docId), math.max(old, r.docId))
              }
              if (seen.size >= maxBucket) dropAcc.add(seen.size - maxBucket + 1)
              seen = (seen :+ r.docId).takeRight(maxBucket)
              if (r.ts.getTime > maxTs) maxTs = r.ts.getTime
            }
            state.update(seen)
            state.setTimeoutTimestamp(maxTs + ttlMs)
            out.result().iterator
          }
      }
    val drained = drain(candidates, "append")
    lastCapacityDrops = dropAcc.value
    if (lastCapacityDrops > 0)
      Console.err.println(
        s"[graft] stream minhash: $lastCapacityDrops band-bucket FIFO " +
          s"evictions (maxBucket=$maxBucket) — candidate recall may trail " +
          "the batch LSH set; an oracle mismatch on this run is attributable " +
          "to the capacity cap")
    // batch hand-off: distinct candidates (a pair repeats once per shared
    // band) verified exactly against the corpus shingle arrays
    graft.operators.Dedup.verifyCandidates(ss, dir, drained.distinct())
  }

  /** Streaming curation — the ingest-time twin of `pipeline_curate`'s
    * filter+dedup stages: documents arrive on a stream, a STATELESS
    * quality projection (token count, distinct-token ratio) drops the
    * junk in the micro-batch map phase, and the survivors dedup exactly
    * on their content fingerprint. Emitted rows are functions of the
    * text alone (fingerprint, token count) plus the lang tag, so the
    * distinct set is deterministic regardless of arrival order — which
    * is what lets one batch SQL oracle gate the stream.
    *
    * State: one entry per distinct surviving (fp, lang, n_tokens) —
    * bounded by the DEDUPED corpus, the same bound the batch pipeline's
    * groupBy carries; the quality filter runs BEFORE the stateful op, so
    * junk never enters the state store. At production scale the
    * watermarked `dropDuplicatesWithinWatermark` variant of
    * [[streamingDedupBounded]] swaps in unchanged.
    */
  def streamCurate(s: SparkSession, dir: String): DataFrame = {
    val ss = streamingSession(s)
    val t = graft.functions.TextFunctions.tokens(col("text"))
    val stream = graft.Tables.stream(ss, dir, "documents")
      .select(col("lang"),
        graft.functions.TextFunctions.fingerprint(col("text")).as("fp"),
        size(t).as("n_tokens"),
        (size(array_distinct(t)) / size(t).cast("double")).as("distinct_ratio"))
      .filter(col("n_tokens") >= 20 && col("distinct_ratio") >= 0.3)
      .select("fp", "lang", "n_tokens")
      .dropDuplicates("fp", "lang", "n_tokens")
    drain(stream, "append")
  }

  /** Streaming exact dedup — the streaming member of the dedup family:
    * documents stream in, `dropDuplicates` on the normalized fingerprint
    * keeps the first arrival of each distinct content, append mode emits
    * exactly the distinct set. State is one fingerprint per distinct
    * document; a real ingest pipeline bounds it with
    * `dropDuplicatesWithinWatermark` over arrival time (the fixture table
    * has no event-time column, so the unbounded variant is exercised).
    * Output is the fingerprint set itself — arrival order is
    * partition-nondeterministic, so only order-insensitive columns are
    * emitted (the batch oracle is SELECT DISTINCT of the same expression).
    */
  def streamingDedup(s: SparkSession, dir: String): DataFrame = {
    val ss = streamingSession(s)
    val stream = graft.Tables.stream(ss, dir, "documents")
      .select(graft.functions.TextFunctions.fingerprint(col("text")).as("fp"))
      .dropDuplicates("fp")
    drain(stream, "append")
  }

  /** Watermark late-data semantics, end-to-end and DETERMINISTIC — the
    * part of event-time processing that only shows under multi-batch
    * arrival: the fixture is staged into three files consumed in a
    * pinned order (`maxFilesPerTrigger=1`, explicit mtimes):
    *
    *   1. the on-time slice (even event_ids) — its max event time sets
    *      the watermark W₁ = max(ts) − delay after batch 1;
    *   2. the straggler slice (odd event_ids) — rows whose window closed
    *      before W₁ are DROPPED by the watermark, rows in still-open
    *      windows are accepted late;
    *   3. a single heartbeat row far in the future — pushes the final
    *      watermark past every real window so append mode EMITS them
    *      (the heartbeat's own window stays open and never emits).
    *
    * Because the file order is pinned, the drop set is a pure function
    * of the data and the batch SQL oracle replays it exactly — the spec
    * additionally cross-checks `numRowsDroppedByWatermark` from query
    * progress against the oracle's drop count. Windowed counts come out
    * in append mode (finalized-only), the production emission contract.
    */
  def streamLateAudit(s: SparkSession, dir: String,
                      delay: String = "15 days",
                      windowLen: String = "6 hours"): DataFrame = {
    val ss = streamingSession(s)
    val ev = ss.read.parquet(s"$dir/events.parquet")
      .transform(graft.Tables.normalizeTs)
    val watch = Files.createTempDirectory("graft_late_")
    try {
      // empty corpus: anchor the heartbeat at the epoch (same contract as
      // stageEventsWithHeartbeats) — the audit then drains to zero rows
      val hbRow = ev.agg(max("ts")).collect()(0)
      val heartbeatTs = (if (hbRow.isNullAt(0)) java.time.Instant.EPOCH
                         else hbRow.getTimestamp(0).toInstant)
        .plus(java.time.Duration.ofDays(20))
      def stageFile(df: DataFrame, n: Int): Unit =
        stageBatch(watch, n)(graft.Tables.writeFile(df, _))
      // ORDER MATTERS, and one batch more subtly than the docs suggest:
      // Spark's LATE-EVENT filter for batch N uses the watermark computed
      // from data through batch N−2 (one batch behind the EVICTION
      // watermark — measured here via the progress trace, not assumed).
      // So the heartbeat slots BETWEEN the on-time and straggler slices:
      // batch 3's late filter then runs at W₁ = max(on-time ts) − delay.
      stageFile(ev.filter(col("event_id") % 2 === 0), 1)
      // heartbeat keeps the exact file schema: one row, far-future ts
      stageFile(ev.limit(1)
        .withColumn("ts", lit(java.sql.Timestamp.from(heartbeatTs)))
        .withColumn("event_id", lit(-1L))
        .withColumn("event_type", lit("heartbeat"))
        .withColumn("value", lit(0.0)), 2)
      stageFile(ev.filter(col("event_id") % 2 =!= 0), 3)
      val stream = stagedStream(ss, watch.toString)
        .withWatermark("ts", delay)
        .groupBy(window(col("ts"), windowLen), col("event_type"))
        .agg(count(lit(1)).as("cnt"), round(sum("value"), 2).as("sum_v"))
      val drained = drain(stream, "append")
      lastDroppedByWatermark = lastDrainProgress
        .map(p => Option(p.stateOperators).map(_.map(
          _.numRowsDroppedByWatermark).sum).getOrElse(0L)).sum
      lastProgressSummary = lastDrainProgress.map(p =>
        s"[rows=${p.numInputRows} wm=${p.eventTime.get("watermark")}]")
        .mkString(" ")
      val result = drained.select(
        col("window.start").as("win_start"), col("event_type"),
        col("cnt"), col("sum_v"))
      val out = result.collect()
      ss.createDataFrame(java.util.Arrays.asList(out: _*), result.schema)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(watch.toFile)
    }
  }

  /** Watermark-drop count observed by the most recent [[streamLateAudit]]
    * run (query-progress metric; the spec reconciles it with the oracle's
    * replayed drop set).
    */
  @volatile var lastDroppedByWatermark: Long = -1L

  /** Per-batch (rows, watermark) trace of the most recent
    * [[streamLateAudit]] run — debugging/observability aid.
    */
  @volatile var lastProgressSummary: String = ""

  /** Streaming upsert MATERIALIZED TO STORAGE — `foreachBatch` + the
    * manifest-table layer (operators.Lake): each micro-batch SCD-1-merges
    * into the table and commits a NEW VERSION, so the view lives on disk
    * with full time-travel history instead of in executor state. The
    * merge state is (key → last row, n_versions) — both merge
    * associatively (max_by by the (ts, event_id) total order; counts
    * add), so any micro-batch split of the changelog converges to the
    * batch compaction, which is exactly what the shared oracle checks.
    * Versus `streamMergeUpsert`'s complete-mode memory sink: restart
    * recovery = read the last committed version (no state store), and
    * downstream batch readers see consistent snapshots. At scale the
    * per-batch rewrite cost is the live-key table, the same
    * copy-on-write bound as q33 — partitioning the table by key range
    * confines each batch's rewrite to touched partitions.
    */
  def streamLakeUpsert(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Lake
    val ss = streamingSession(s)
    val table = Files.createTempDirectory("graft_stream_lake_")
    val version = new java.util.concurrent.atomic.AtomicInteger(0)
    def compact(changelog: DataFrame): DataFrame = changelog
      .groupBy("user_id", "event_type")
      .agg(
        max_by(struct(col("last_ts"), col("last_event_id"), col("last_value")),
          struct(col("last_ts"), col("last_event_id"))).as("last"),
        sum("n_versions").as("n_versions"))
      .select(col("user_id"), col("event_type"),
        col("last.last_ts").as("last_ts"),
        col("last.last_event_id").as("last_event_id"),
        col("last.last_value").as("last_value"), col("n_versions"))
    try {
      val stream = graft.Tables.stream(ss, dir, "events")
        .transform(graft.Tables.normalizeTs)
        .select(col("user_id"), col("event_type"), col("ts").as("last_ts"),
          col("event_id").as("last_event_id"), col("value").as("last_value"),
          lit(1L).as("n_versions"))
      // hand-written drain: foreachBatch, because each micro-batch commits
      // a Lake version rather than appending to a sink table
      val q = stream.writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val v = version.incrementAndGet()
          val merged =
            if (v == 1) compact(batch)
            else compact(Lake.readVersion(batch.sparkSession, table, v - 1)
              .unionByName(batch))
          Lake.commit(merged, table, v, fileTarget = Lake.FixtureWriteFiles)
        }
        .start()
      try q.processAllAvailable()
      finally q.stop()
      val out = Lake.readVersion(ss, table, version.get()).collect()
      ss.createDataFrame(
        java.util.Arrays.asList(out: _*),
        Lake.readVersion(ss, table, version.get()).schema)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(table.toFile)
    }
  }

  // public: Catalyst's generated (de)serializers cannot access private
  // case-class members (Sessionize's lesson)
  case class CdcOp(user_id: Long, ts: java.sql.Timestamp, event_id: Long,
                   event_type: String, value: Double)
  case class CdcState(lastUs: Long, lastEventId: Long, lastValue: Double,
                      deleted: Boolean, nOps: Long)
  case class CdcRow(user_id: Long, last_ts: java.sql.Timestamp,
                    last_event_id: Long, last_value: Double,
                    deleted: Boolean, n_ops: Long)

  /** CDC-apply state logic, isolated Serializable module (no driver-scope
    * capture). The fold is a VERSION-CHECKED upsert: an op mutates the
    * state only if its (ts, event_id) version exceeds the state's — so
    * the final state is the max-version op's, regardless of how the
    * changelog is partitioned into micro-batches or ordered within one
    * (the out-of-order resilience a real CDC materializer needs; the
    * cross-batch spec pins batch-split invariance). An 'error' op
    * tombstones the key, any newer upsert revives it; stale ops still
    * count toward n_ops.
    */
  private[streaming] object CdcLogic extends Serializable {
    import graft.streaming.Sessionize.SessionLogic.toMicros

    def fn(userId: Long, ops: Iterator[CdcOp],
           state: org.apache.spark.sql.streaming.GroupState[CdcState]): CdcRow = {
      var st = state.getOption.getOrElse(
        CdcState(Long.MinValue, Long.MinValue, 0.0, deleted = true, 0L))
      ops.foreach { o =>
        val us = toMicros(o.ts)
        val newer = us > st.lastUs ||
          (us == st.lastUs && o.event_id > st.lastEventId)
        st =
          if (!newer) st.copy(nOps = st.nOps + 1)
          else if (o.event_type == "error")
            CdcState(us, o.event_id, 0.0, deleted = true, st.nOps + 1)
          else
            CdcState(us, o.event_id, o.value, deleted = false, st.nOps + 1)
      }
      state.update(st)
      CdcRow(userId,
        graft.streaming.Sessionize.SessionLogic.fromMicros(st.lastUs),
        st.lastEventId, st.lastValue, st.deleted, st.nOps)
    }
  }

  /** Streaming CDC apply — the consumer side of `lake_change_feed`: a
    * keyed changelog (events on user_id; 'error' ops are DELETE
    * tombstones, everything else upserts `value`) folds into per-key
    * state via `mapGroupsWithState`, the custom-state route a real CDC
    * materializer takes when the sink table needs more than
    * last-row-wins (tombstone revival, op counting, conditional
    * merges). Update output emits each key's state once per touching
    * micro-batch; the drained table collapses to the final emission per
    * key (max n_ops — monotone within a key) and tombstoned keys are
    * dropped from the materialized view.
    *
    * State is one fixed-width row per LIVE key — the bounded-state
    * contract (dead keys stay as tombstones here; a production variant
    * ages them out with a state timeout, exactly like Sessionize's).
    * The SQL oracle replays last-writer-wins + tombstone semantics with
    * one ranking window.
    */
  def streamCdcApply(s: SparkSession, dir: String): DataFrame =
    cdcApplyPath(streamingSession(s), dir, "events.parquet",
      maxFilesPerTrigger = 0)

  /** Source-parameterized core of [[streamCdcApply]]. With
    * `maxFilesPerTrigger = 0` the source is the fixture table file `glob`
    * under `watchDir` ([[graft.Tables.stream]]); with 1 it is every file
    * `glob` matches there, one micro-batch each ([[stagedStream]]) —
    * specs stage multi-file directories through it to pin cross-batch
    * state folds and tombstone revival.
    */
  private[streaming] def cdcApplyPath(ss: SparkSession, watchDir: String,
                                      glob: String,
                                      maxFilesPerTrigger: Int): DataFrame = {
    require(maxFilesPerTrigger == 0 || maxFilesPerTrigger == 1,
      s"maxFilesPerTrigger must be 0 or 1, got $maxFilesPerTrigger")
    import ss.implicits._
    import org.apache.spark.sql.streaming.GroupStateTimeout
    val source =
      if (maxFilesPerTrigger == 0)
        graft.Tables.stream(ss, watchDir, glob.stripSuffix(".parquet"))
      else stagedStream(ss, s"$watchDir/$glob")
    val updates = source
      .transform(graft.Tables.normalizeTs)
      // typed state carries a primitive Double; an op with a null value
      // (missing payload) folds as a zero-value upsert rather than
      // killing the encoder — it still advances the version and counts
      // toward n_ops, the contract a real materializer wants
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"),
        coalesce(col("value"), lit(0.0)).as("value"))
      .as[CdcOp]
      .groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(CdcLogic.fn _)
    drain(updates, "update")
      .groupBy("user_id")
      .agg(max_by(
        struct(col("last_ts"), col("last_event_id"), col("last_value"),
          col("deleted")), col("n_ops")).as("st"),
        max(col("n_ops")).as("n_ops"))
      .filter(!col("st.deleted"))
      .select(col("user_id"), col("st.last_ts").as("last_ts"),
        col("st.last_event_id").as("last_event_id"),
        round(col("st.last_value"), 6).as("last_value"), col("n_ops"))
      .localCheckpoint(true)
  }

  /** Streaming changelog compaction — the streaming twin of
    * `q33_merge_upsert` (a CDC materialized view: upserts arrive on a
    * stream, the view always holds the latest version per key). The same
    * one-aggregate plan as the batch operator — `max_by` keyed by
    * (user_id, event_type) with the (ts, event_id) total order — run as a
    * streaming aggregation in complete mode. State is ONE buffered row
    * per live key (bounded by key cardinality, the materialized view
    * itself), never the changelog; partial aggregation still compacts
    * each micro-batch map-side. Draining the finite fixture ends at
    * exactly the batch result, so the SAME DuckDB oracle gates it.
    */
  def streamMergeUpsert(s: SparkSession, dir: String): DataFrame = {
    val ss = streamingSession(s)
    val stream = graft.Tables.stream(ss, dir, "events")
      .transform(graft.Tables.normalizeTs)
      .groupBy("user_id", "event_type")
      .agg(
        max_by(struct(col("ts"), col("event_id"), col("value")),
          struct(col("ts"), col("event_id"))).as("last"),
        count(lit(1)).as("n_versions"))
      .select(col("user_id"), col("event_type"),
        col("last.ts").as("last_ts"),
        col("last.event_id").as("last_event_id"),
        col("last.value").as("last_value"),
        col("n_versions"))
    drain(stream, "complete")
  }

  /** Stage the events fixture plus two far-future heartbeat rows
    * (user_id −1, pinned mtimes, one file per micro-batch under
    * `maxFilesPerTrigger=1`) into `watch` — the shared setup for every
    * append-mode operator that must flush its final state on a finite
    * source: the first heartbeat advances the watermark past all real
    * event time, the second forces the eviction pass that acts on it
    * (the eviction watermark for batch N comes from data through N−1).
    */
  private[streaming] def stageEventsWithHeartbeats(ss: SparkSession, dir: String,
                                                   watch: Path,
                                                   nHeartbeats: Int = 2): Unit = {
    // mirrors Tables.events so a TIMESTAMP(NANOS) fixture is readable by
    // this raw scan and by the streaming source that follows
    if (ss.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") != "true")
      ss.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val srcFile = java.nio.file.Paths.get(dir, "events.parquet")
    val raw = ss.read.parquet(srcFile.toString)
    val rawTs = raw.schema("ts").dataType
    // max event time is FIXTURE METADATA (one value per corpus dir), not
    // per-query state: every heartbeat-staged streaming query needs it,
    // and each was paying a full events scan for the same scalar. Cached
    // per canonical dir (session-independent — the value is a property of
    // the files); Tables.invalidate() clears it alongside the plan cache
    // when a fixture is rewritten in place.
    val maxTs = StreamOps.maxEventTs.computeIfAbsent(
      srcFile.toRealPath().toString,
      _ => {
        // empty corpus (a stream that hasn't received data yet): max(ts)
        // is null — anchor heartbeats at the epoch so staging still
        // produces schema-complete batches and the query drains to an
        // empty result instead of NPEing on the driver
        val r = graft.Tables.normalizeTs(raw).agg(max("ts")).collect()(0)
        if (r.isNullAt(0)) java.time.Instant.EPOCH
        else r.getTimestamp(0).toInstant
      })
    // batch 1 is the source file VERBATIM — a byte copy, not a
    // decode→re-encode rewrite. The rewrite was the one staging cost that
    // grew linearly with data (single-threaded coalesce(1) encode) and
    // dominated these queries at 10× scale; consumers normalize `ts` on
    // the STREAMING frame instead (same values, applied before the
    // watermark), so the staged bytes never need rewriting. A directory-
    // shaped dataset (a Spark-written multi-part table) cannot be copied
    // as one batch — part files as separate micro-batches would advance
    // the watermark between unordered parts and silently DROP late rows —
    // so that layout keeps the single-file rewrite.
    stageBatch(watch, 1)(first =>
      if (Files.isRegularFile(srcFile)) Files.copy(srcFile, first)
      else graft.Tables.writeFile(raw, first))
    // the heartbeat `ts` literal matches the RAW file's ts physical type
    // so every staged file shares one parquet schema with the copied file
    def hbTs(plusDays: Long): org.apache.spark.sql.Column = {
      val inst = maxTs.plus(java.time.Duration.ofDays(plusDays))
      rawTs match {
        case org.apache.spark.sql.types.LongType => // TIMESTAMP(NANOS)
          lit(inst.getEpochSecond * 1000000000L + inst.getNano)
        case org.apache.spark.sql.types.TimestampNTZType =>
          lit(java.time.LocalDateTime.ofInstant(inst, java.time.ZoneOffset.UTC))
        case _ =>
          lit(java.sql.Timestamp.from(inst))
      }
    }
    def heartbeat(n: Int, plusDays: Long): DataFrame = raw.limit(1)
      .withColumn("ts", hbTs(plusDays))
      .withColumn("event_id", lit(-n.toLong))
      .withColumn("user_id", lit(-1L))
      .withColumn("event_type", lit("heartbeat"))
      .withColumn("value", lit(0.0))
    // each successive heartbeat is one batch whose watermark advance the
    // NEXT batch acts on; chains of S stateful operators need S+1 of them
    // for the final eviction to propagate through every operator
    (1 to nHeartbeats).foreach(i =>
      stageBatch(watch, i + 1)(graft.Tables.writeFile(heartbeat(i + 1, 10L * i), _)))
  }

  /** CHAINED stateful operators — windowed DISTINCT-user counts as
    * dedup → aggregate, the multi-stateful pipeline shape (Spark 3.4+)
    * that replaces the old two-job workaround for streaming
    * count-distinct (which no streaming aggregate supports directly):
    *
    *  1. `dropDuplicates(window, user)` holds one state row per
    *     (window, user) until the watermark passes the window — the
    *     exact state a distinct count needs, evicted on schedule;
    *  2. the downstream count per window is a second stateful
    *     aggregate fed by the dedup's APPEND output, so each
    *     (window, user) contributes exactly once.
    *
    * Both operators share the one watermark; heartbeat staging
    * ([[stageEventsWithHeartbeats]]) flushes the final windows, so the
    * drained result equals the batch count-distinct and the SQL oracle
    * gates it exactly. State scales as active (window, user) pairs plus
    * window-cardinality counters — never history.
    */
  def streamDistinctUsers(s: SparkSession, dir: String,
                          windowLen: String = "1 hour",
                          delay: String = "10 minutes"): DataFrame = {
    val ss = streamingSession(s)
    // shared staged fixture (read-only; lives until Tables.invalidate)
    val watch = stagedHeartbeatDir(ss, dir, nHeartbeats = 3)
    val stream = stagedStream(ss, watch.toString)
      // NO user filter inside the stream: Catalyst pushes a
      // deterministic filter below the EventTimeWatermark node (into
      // the scan), which silently drops the heartbeats before they can
      // advance the watermark — the final window then never flushes.
      // Heartbeats flow through the whole pipeline instead, and their
      // phantom far-future windows are cut from the drained result by
      // event time below. (normalizeTs is a projection, not a filter —
      // safe below the watermark.)
      .transform(graft.Tables.normalizeTs)
      .withWatermark("ts", delay)
      .select(window(col("ts"), windowLen).as("w"), col("user_id"))
      .dropDuplicates("w", "user_id")
      .groupBy(col("w"))
      .agg(count(lit(1)).as("n_users"))
    val drained = drain(stream, "append")
    val maxReal = ss.read.parquet(s"$dir/events.parquet")
      .transform(graft.Tables.normalizeTs)
      .agg(max("ts")).collect()(0).getTimestamp(0)
    // the memory sink is independent of the staged files — return the
    // window-cardinality view lazily, no driver round-trip
    drained
      .filter(col("w.start") <= lit(maxReal))
      .select(col("w.start").as("win_start"), col("n_users"))
  }

  /** Windowed distinct-user ESTIMATES on the stream via the custom HLL
    * aggregate ([[graft.expressions.HllAgg]]) — the mergeable-sketch
    * answer to [[streamDistinctUsers]]'s exact chained pipeline: ONE
    * stateful operator whose per-window state is a 4 KiB register
    * array, updated in place each micro-batch (TypedImperativeAggregate
    * buffers serialize into the state store), instead of one state row
    * per (window, user). At 100 TB of high-cardinality traffic that is
    * the difference between state ∝ distinct keys and state ∝ windows.
    * Complete mode on the drained fixture; the estimate is
    * deterministic for a fixed input set (max-merge is order- and
    * partitioning-insensitive), so the spec pins streaming == batch
    * sketch equality — no SQL oracle can replay the registers
    * (rows-only driver check, like sketch_hll_users).
    */
  def streamHllUsers(s: SparkSession, dir: String,
                     windowLen: String = "1 hour"): DataFrame = {
    val ss = streamingSession(s)
    val stream = graft.Tables.stream(ss, dir, "events")
      .transform(graft.Tables.normalizeTs)
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), windowLen))
      .agg(HllAgg.hll(col("user_id")).as("n_users_est"))
    drain(stream, "complete").select(
      col("window.start").as("win_start"), col("n_users_est"))
  }

  /** Streaming read THROUGH the custom V2 connector
    * (`sources/SegmentSource`): the segment table's committed write
    * generations are the stream's offsets, so each micro-batch reads
    * exactly the files one commit added — the incremental-table
    * contract (Delta/Iceberg streaming source) where file sets are a
    * pure function of committed metadata, never directory-listing
    * heuristics. The fixture commits TWO generations (even ids, then
    * odd ids appended) with the query live between them; the drained
    * complete-mode aggregate must equal the batch aggregate over the
    * whole corpus — each file ingested exactly once.
    */
  def streamSegmentSource(s: SparkSession, dir: String): DataFrame = {
    val ss = streamingSession(s)
    val docs = graft.Tables.documents(ss, dir).select("doc_id", "text")
    val tmp = Files.createTempDirectory("graft_segstream_")
    try {
      def commitGen(slice: org.apache.spark.sql.DataFrame): Unit =
        slice.select(col("doc_id").cast("long").as("doc_id"), col("text"))
          .repartitionByRange(4, col("doc_id"))
          .sortWithinPartitions("doc_id")
          .write.format("graft-segments").mode("append")
          .save(tmp.toString)
      commitGen(docs.filter(col("doc_id") % 2 === 0))
      // hand-written drain: the second generation commits between two
      // drains of the one live query
      val name = s"graft_stream_${counter.incrementAndGet()}"
      val q = ss.readStream.format("graft-segments").load(tmp.toString)
        .groupBy(pmod(col("doc_id"), lit(10)).as("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("text"))).as("sum_chars"))
        .writeStream
        .outputMode("complete")
        .format("memory")
        .queryName(name)
        .start()
      try {
        q.processAllAvailable()
        commitGen(docs.filter(col("doc_id") % 2 =!= 0))
        q.processAllAvailable()
      } finally q.stop()
      ss.table(name).localCheckpoint(true)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    }
  }

  /** Windowed deterministic uniform sample — bottom-k by member hash
    * (`expressions/BottomKAgg`), the MERGEABLE replacement for
    * reservoir sampling: Algorithm R's sample depends on arrival order
    * and RNG state (unreplayable, unmergeable); the k hash-minima are a
    * pure function of each window's distinct-user SET, so the streaming
    * state is k pairs per window, partials merge map-side, and the SQL
    * oracle replays the exact sample by ranking the same portable hash.
    * The same buffer doubles as the KMV distinct sketch. Output is one
    * row per sampled user with its rank.
    */
  def streamSampleBottomK(s: SparkSession, dir: String, k: Int = 5,
                          windowLen: String = "1 hour"): DataFrame = {
    val ss = streamingSession(s)
    val stream = graft.Tables.stream(ss, dir, "events")
      .transform(graft.Tables.normalizeTs)
      .withWatermark("ts", "10 minutes")
      .select(col("ts"),
        graft.functions.TextFunctions.portableTokenHash(
          col("user_id").cast("string")).as("h"),
        col("user_id"))
      .groupBy(window(col("ts"), windowLen))
      .agg(BottomKAgg.bottomk(col("h"), col("user_id"), k).as("sample"))
    drain(stream, "complete")
      .select(col("window.start").as("win_start"),
        posexplode(col("sample")).as(Seq("pos", "e")))
      .select(col("win_start"), (col("pos") + 1).cast("int").as("rank"),
        col("e.id").as("user_id"))
  }

  /** Streaming data-quality monitor — the ingest-time twin of the batch
    * `dq_constraints` suite (the gate a production pipeline runs ON the
    * stream, not after landing): per tumbling window, every named check
    * folds into the SAME single stateful aggregation as conditional
    * sums — adding a check costs one codegen'd column, never a second
    * stateful operator, and state stays one row per (window) however
    * many checks run. Violations are REPORTED per window with an
    * all-clear flag; watermark-bounded state, complete mode on the
    * draining fixture (append emits finalized windows in production —
    * the tumblingWindowAgg contract). The batch SQL replay over the
    * same events is the oracle.
    */
  def streamingDqMonitor(s: SparkSession, dir: String,
                         windowLen: String = "1 hour",
                         maxValue: Double = 1000.0): DataFrame = {
    val ss = streamingSession(s)
    val viol = (c: Column) => sum(when(c, 1L).otherwise(0L))
    val stream = graft.Tables.stream(ss, dir, "events")
      .transform(graft.Tables.normalizeTs)
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), windowLen))
      .agg(
        count(lit(1)).as("n_rows"),
        viol(col("value").isNull).as("null_value"),
        viol(col("value") <= 0.0 || col("value") > maxValue)
          .as("value_range"),
        viol(!col("event_type").isin(
          "click", "view", "signup", "purchase", "error")).as("type_domain"),
        viol(col("user_id").isNull || col("user_id") < 0L).as("bad_user"))
    drain(stream, "complete").select(
      col("window.start").as("win_start"), col("n_rows"),
      col("null_value"), col("value_range"), col("type_domain"),
      col("bad_user"),
      (col("null_value") + col("value_range") + col("type_domain") +
        col("bad_user") === 0L).as("all_clear"))
  }
}
