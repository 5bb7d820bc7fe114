package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.Tables

/** Gap-based sessionization (30-minute inactivity gap) over the events
  * table — batch and streaming forms.
  *
  * The batch form uses Spark's `session_window` grouping (one shuffle on
  * (user_id, merged window)); its results hash-match a DuckDB lag/cumsum
  * oracle. The streaming form is the stateful-operator surface:
  * `flatMapGroupsWithState` with event-time timeout keeping one open
  * session per user; sessions emit when the watermark passes their gap.
  * On a finite input the final (unexpired) session per user remains in
  * state — by design; tests compare the emitted prefix against batch.
  */
object Sessionize {

  val GapMinutes = 30

  /** Batch sessionization: session_window grouping, flat output schema. */
  def batch(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("user_id"), session_window(col("ts"), s"$GapMinutes minutes").as("w"))
      // coalesce AFTER the null-skipping sum: an all-null session reads
      // 0.0, matching the streaming form's per-event coalesce and the
      // oracle's COALESCE(sum(value), 0) — the three stay aligned even
      // on null-carrying inputs (ADVICE r7)
      .agg(count(lit(1)).as("n_events"),
        round(coalesce(sum("value"), lit(0.0)), 2).as("sum_v"),
        max("ts").as("last_ts"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("last_ts"), col("n_events"), col("sum_v"))

  // public: Catalyst's generated (de)serializers cannot access private
  // case-class members
  case class Ev(user_id: Long, ts: java.sql.Timestamp, value: Double)
  /** start/last are epoch MICROseconds — Timestamp.getTime alone truncates
    * to ms and would shift session starts relative to the batch form.
    */
  case class SessionState(start: Long, last: Long, n: Long, sum: Double)
  case class Session(user_id: Long, session_start: java.sql.Timestamp,
                     last_ts: java.sql.Timestamp, n_events: Long, sum_v: Double)

  /** State-update logic, isolated in a Serializable module so the closure
    * shipped to executors captures nothing from the driver-side method
    * scope (a captured SparkSession fails task serialization).
    */
  private[streaming] object SessionLogic extends Serializable {
    val gapUs: Long = GapMinutes * 60 * 1000000L

    def toMicros(t: java.sql.Timestamp): Long =
      math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L

    def fromMicros(us: Long): java.sql.Timestamp = {
      val ts = new java.sql.Timestamp(math.floorDiv(us, 1000000L) * 1000L)
      ts.setNanos((math.floorMod(us, 1000000L) * 1000L).toInt)
      ts
    }

    // sum_v stays RAW here; the final projection rounds with Spark's
    // round() so the value is bit-identical to the batch session_window
    // path (math.round(x*100)/100.0 disagrees with BigDecimal HALF_UP on
    // .xx5 boundaries)
    def finish(userId: Long, cur: SessionState): Session =
      Session(userId, fromMicros(cur.start), fromMicros(cur.last), cur.n,
        cur.sum)

    def fn(userId: Long, events: Iterator[Ev],
           state: GroupState[SessionState]): Iterator[Session] = {
      val sorted = events.toSeq.sortBy(e => toMicros(e.ts))
      var out = List.empty[Session]
      var st = state.getOption
      sorted.foreach { e =>
        val t = toMicros(e.ts)
        st match {
          case Some(cur) if t - cur.last < gapUs =>
            st = Some(cur.copy(last = t, n = cur.n + 1, sum = cur.sum + e.value))
          case Some(cur) =>
            out ::= finish(userId, cur)
            st = Some(SessionState(t, t, 1, e.value))
          case None =>
            st = Some(SessionState(t, t, 1, e.value))
        }
      }
      if (state.hasTimedOut) {
        st.foreach(cur => out ::= finish(userId, cur))
        state.remove()
      } else {
        st.foreach { cur =>
          state.update(cur)
          state.setTimeoutTimestamp(math.floorDiv(cur.last + gapUs, 1000L))
        }
      }
      out.reverseIterator
    }
  }

  /** Streaming sessionization with explicit state: one open session per
    * user; a new event either extends it (gap not exceeded) or closes it
    * (emitting the finished session) and opens a new one. Event-time
    * timeout flushes sessions whose gap has passed the watermark.
    *
    * The fixture is staged with two far-future heartbeat batches
    * (`StreamOps.stageEventsWithHeartbeats`): the first heartbeat advances the watermark past every
    * real session's gap, the second forces the timeout pass that acts on
    * it — so every FINAL session per user times out and emits too, and
    * the drained output equals the batch `session_window` result
    * row-for-row (the DuckDB lag/cumsum oracle gates it).
    */
  def streaming(s: SparkSession, dir: String): DataFrame = {
    // smaller stateful parallelism for local micro-batches (state store
    // per shuffle partition) via an isolated session — no conf mutation
    // on the shared session (see StreamOps.streamingSession)
    val ss = StreamOps.streamingSession(s)
    import ss.implicits._
    // shared staged fixture (read-only; lives until Tables.invalidate)
    val watch = StreamOps.stagedHeartbeatDir(ss, dir, nHeartbeats = 2)
    locally {
      val schema = ss.read.parquet(watch.toString).schema
      val stream = ss.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("latestFirst", "false")
        .parquet(watch.toString)
        .transform(graft.Tables.normalizeTs) // staged bytes are the raw fixture
        .withWatermark("ts", "10 minutes")
        // the typed state row carries a primitive Double; a null value
        // (failed upstream parse) folds as a zero contribution. The
        // batch form and the oracle both COALESCE their null-skipping
        // sums to 0, so all three agree even on an all-null session
        .select(col("user_id"), col("ts"),
          coalesce(col("value"), lit(0.0)).as("value"))
        .as[Ev]
        .groupByKey(_.user_id)
        .flatMapGroupsWithState(OutputMode.Append,
          GroupStateTimeout.EventTimeTimeout)(SessionLogic.fn _)
      // FILE sink, not the memory sink: the memory sink routes every
      // emitted session through the driver as task results, which is a
      // spark.driver.maxResultSize ceiling that grows with the corpus
      // (at sf10 the session set crossed the 1g default and forced a
      // global 8g bump). A parquet sink writes executor-side — the
      // production shape — so session output never touches the driver
      // and the default result-size guard stays intact for everyone else.
      val out = StreamOps.newScratchDir("graft_sessions_out_")
      val chk = StreamOps.newScratchDir("graft_sessions_chk_")
      val q = stream.toDF().writeStream
        .outputMode("append").format("parquet")
        .option("path", out.toString)
        .option("checkpointLocation", chk.toString)
        .start()
      try q.processAllAvailable()
      finally q.stop()
      // explicit schema: an EMPTY stream (degenerate fixtures — the
      // EdgeSweep empty mode) writes no part files, and schema inference
      // on an empty directory throws where the old memory sink returned
      // an empty table; the sink's own schema keeps the contract
      ss.read.schema(stream.toDF().schema).parquet(out.toString)
        .filter(col("user_id") >= 0)
        .withColumn("sum_v", round(col("sum_v"), 2))
    }
  }
}
