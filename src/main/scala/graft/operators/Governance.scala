package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Data-governance audits a training-data platform runs before a corpus
  * ships: re-identification risk over quasi-identifier combinations.
  * (The scrub/redact side of governance lives in TextOps — text_scrub,
  * text_redact_pii; this module covers the relational side.)
  */
object Governance {

  /** k-anonymity audit (Sweeney, IJUFKS 2002): group the table by its
    * quasi-identifier tuple — here (market segment, nation, account-
    * balance band) — and flag every equivalence class smaller than `k`
    * for suppression, with the class's re-identification risk 1/|class|.
    *
    * One hash shuffle on the quasi-identifier key; the flag and risk are
    * map-side projections over the (class-cardinality-sized) aggregate.
    * At 100 TB the class table is vanishingly smaller than the corpus
    * (bounded by the QI-combination count), so the suppression list
    * broadcast-joins back against the full table — the same
    * broadcast-purge shape as Dedup.purge.
    */
  def kAnonymity(s: SparkSession, dir: String, k: Long = 5): DataFrame =
    Tables.customer(s, dir)
      .select(col("c_mktsegment"),
        col("c_nationkey"),
        floor(col("c_acctbal") / lit(1000.0)).cast("long").as("acct_band"))
      .groupBy("c_mktsegment", "c_nationkey", "acct_band")
      .agg(count(lit(1)).as("group_size"))
      .select(col("c_mktsegment"), col("c_nationkey"), col("acct_band"),
        col("group_size"),
        (col("group_size") < k).as("suppress"),
        round(lit(1.0) / col("group_size"), 6).as("reid_risk"))

  /** l-diversity audit (Machanavajjhala et al., TKDD 2007) — the
    * follow-up question k-anonymity can't answer: a class of 50 rows is
    * useless cover if they all share one sensitive value. Classes are
    * the (nation, balance-band) quasi-identifier pairs; the sensitive
    * attribute is the market segment; a class is l-diverse when it
    * holds ≥ `l` distinct sensitive values.
    *
    * count_distinct inside the class aggregate is the whole operator —
    * one shuffle; Spark expands it to a two-phase distinct-then-count
    * (exact, scales with class × distinct-value cardinality, which the
    * sensitive attribute bounds by definition).
    */
  def lDiversity(s: SparkSession, dir: String, l: Long = 3): DataFrame =
    Tables.customer(s, dir)
      .select(col("c_nationkey"),
        floor(col("c_acctbal") / lit(1000.0)).cast("long").as("acct_band"),
        col("c_mktsegment"))
      .groupBy("c_nationkey", "acct_band")
      .agg(count(lit(1)).as("group_size"),
        countDistinct("c_mktsegment").as("l_distinct"))
      .select(col("c_nationkey"), col("acct_band"), col("group_size"),
        col("l_distinct"), (col("l_distinct") >= l).as("diverse"))

  /** Differentially-private release counts — Laplace(1/ε) noise on the
    * per-group counts (Dwork et al., TCC 2006; sensitivity 1 for a
    * counting query), with the noise draw made REPLAYABLE: the uniform
    * deviate comes from the engine-portable md5-prefix hash of the group
    * key (the dedup family's portable-hash pattern), so the release is
    * deterministic, auditable, and bit-checkable against the SQL oracle
    * — the property a governance pipeline wants anyway (the same release
    * twice must not spend privacy budget twice). The half-offset
    * ((m+0.5)/2⁵², exact in doubles) keeps the deviate strictly inside
    * (−½, ½) so the inverse-CDF log never sees 0. True counts are NOT
    * in the output — only the noisy release and its ε.
    *
    * One shuffle to group cardinality; noise is a map-side projection
    * over the (tiny) aggregate.
    */
  def dpCounts(s: SparkSession, dir: String, epsilon: Double = 1.0): DataFrame = {
    val b = 1.0 / epsilon
    val tok = graft.functions.TextFunctions.portableTokenHash(
      concat_ws("|", col("c_nationkey"), col("c_mktsegment")))
    val m = pmod(tok, lit(1L << 52)).cast("double")
    val u = (m + lit(0.5)) / lit(4503599627370496.0) - lit(0.5)
    val sgn = when(u >= 0, lit(1.0)).otherwise(lit(-1.0))
    val noise = lit(-b) * sgn * log(lit(1.0) - lit(2.0) * abs(u))
    Tables.customer(s, dir)
      .groupBy("c_nationkey", "c_mktsegment")
      .agg(count(lit(1)).as("n"))
      .select(col("c_nationkey"), col("c_mktsegment"),
        round(col("n") + noise, 6).as("noisy_count"),
        lit(epsilon).as("epsilon"))
  }

  /** Right-to-be-forgotten cascade audit — the GDPR/CCPA erasure
    * planning pass: given a deletion-request set (fixture stand-in: a
    * deterministic id predicate; production passes a request table),
    * report how far each derived artifact is touched BEFORE any delete
    * runs. One scan answers each artifact class:
    *
    *  - `events_rows`: the direct fact rows to purge;
    *  - `hourly_agg_groups`: downstream aggregate cells that must
    *    recompute (a cell is tainted if ANY of its inputs belongs to a
    *    requested user);
    *  - `user_sessions`: session artifacts to drop — counted by running
    *    the session-boundary rule (the q17 convention: 30-minute gap,
    *    (ts, event_id) order) over ONLY the requested users' slice, so
    *    the window work is request-proportional, never corpus-sized;
    *  - `sample_entries`: rows of the deterministic bottom-k window
    *    sample (the `stream_sample_bottomk` artifact) that expose a
    *    requested user — the "derived data product" erasure obligation
    *    people forget.
    *
    * Every audit is a conditional aggregate behind the same broadcastable
    * request predicate; output is artifact-count-sized at any scale.
    */
  def rtbfCascade(s: SparkSession, dir: String, mod: Long = 97L,
                  sampleK: Int = 5): DataFrame = {
    val ev = Tables.events(s, dir)
    val requested = col("user_id") % mod === 0
    val rows = ev.filter(requested)
      .agg(count(lit(1)).as("affected"))
      .select(lit("events_rows").as("artifact"), col("affected"))
    val cells = ev.filter(requested)
      .select(date_trunc("hour", col("ts")).as("h"), col("event_type"))
      .distinct()
      .agg(count(lit(1)).as("affected"))
      .select(lit("hourly_agg_groups").as("artifact"), col("affected"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts", "event_id")
    val sessions = ev.filter(requested)
      .withColumn("new_s",
        when(lag("ts", 1).over(w).isNull ||
          unix_micros(col("ts")) - unix_micros(lag("ts", 1).over(w)) >=
            1800L * 1000000L, 1L).otherwise(0L))
      .agg(coalesce(sum("new_s"), lit(0L)).as("affected"))
      .select(lit("user_sessions").as("artifact"), col("affected"))
    val hv = graft.functions.TextFunctions
      .portableTokenHash(col("user_id").cast("string"))
    val samples = ev
      .select(date_trunc("hour", col("ts")).as("h"), col("user_id"))
      .withColumn("hv", hv)
      .groupBy("h")
      .agg(graft.expressions.BottomKAgg.bottomk(col("hv"), col("user_id"), sampleK)
        .as("mins"))
      .select(explode(col("mins").getField("id")).as("user_id"))
      .filter(requested)
      .agg(count(lit(1)).as("affected"))
      .select(lit("sample_entries").as("artifact"), col("affected"))
    rows.unionAll(cells).unionAll(sessions).unionAll(samples)
  }
}
