package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.StatFunctions.skewSample

/** Relational operator surface of the reference (SURVEY.md §2), re-expressed
  * on the TPC-H-ish fixtures (FIXTURES.md §B operator→fixture mapping).
  *
  * Every query is a single declarative DataFrame plan: filters/projections
  * reach the parquet scan via Catalyst pushdown, aggregations get map-side
  * partial aggregation, joins shuffle on their keys (or broadcast when one
  * side is small) — nothing here collects to the driver.
  *
  * All computed columns are explicitly aliased so the DuckDB oracle can use
  * identical names (driver compare sorts columns by name). Float aggregates
  * are rounded identically on both sides.
  */
object Relational {

  /** A1 (ny_taxi Q1, /root/reference/timedf_benchmarks/ny_taxi/ny_taxi.py:170-177):
    * single-key group count. `count(*)` semantics per the reference's SQL comment.
    */
  def q01GroupCount(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy("event_type")
      .agg(count(lit(1)).as("cnt"))

  /** A2 (ny_taxi Q2, ny_taxi.py:184-193): single-key group average. */
  def q02GroupAvg(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupBy("o_orderstatus")
      .agg(round(avg("o_totalprice"), 4).as("avg_total"))

  /** A3 (ny_taxi Q3, ny_taxi.py:202-218): two keys, one derived (year). */
  def q03GroupYear(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupBy(col("o_custkey"), year(col("o_orderdate")).as("o_year"))
      .agg(count(lit(1)).as("cnt"))

  /** A4 (ny_taxi Q4, ny_taxi.py:243-270): three keys incl. cast-to-int bucket,
    * mixed-direction order-by. Cast truncates toward zero (pandas astype /
    * SQL trunc semantics — F9).
    */
  def q04Group3KeySort(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(
        col("l_returnflag"),
        year(col("l_shipdate")).as("ship_year"),
        col("l_quantity").cast("long").as("qty_b"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("ship_year").asc, col("cnt").desc)

  /** A5 (plasticc multi-agg, plasticc_pandas_modin.py:31-42): one groupBy with
    * many aggregate functions incl. bias-corrected sample skewness. All
    * aliased flat (the reference flattens a pandas MultiIndex; Spark never
    * builds one). Single hash aggregate, map-side partial agg.
    */
  def q05MultiAggSkew(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy("l_suppkey")
      .agg(
        min("l_extendedprice").as("min_price"),
        max("l_extendedprice").as("max_price"),
        round(avg("l_extendedprice"), 4).as("avg_price"),
        round(sum("l_extendedprice"), 2).as("sum_price"),
        round(sum("l_quantity"), 2).as("sum_qty"),
        round(avg("l_discount"), 6).as("avg_disc"),
        round(skewSample(col("l_extendedprice")), 6).as("skew_price"),
        count(lit(1)).as("cnt"))

  /** J1 (plasticc meta↔agg join, plasticc_pandas_modin.py:56): left equi-join
    * of a table with per-key aggregates. Both sides shuffle on the join key
    * (co-partitioned); at scale AQE picks the physical join.
    */
  def q06JoinAgg(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .groupBy("l_orderkey")
      .agg(
        round(sum("l_extendedprice"), 2).as("revenue"),
        count(lit(1)).as("n_items"))
    Tables.orders(s, dir)
      .join(li, col("o_orderkey") === col("l_orderkey"), "left")
      .select(col("o_orderkey"), col("o_orderstatus"), col("revenue"), col("n_items"))
  }

  /** P8 (ny_taxi_ml 17-predicate conjunctive filter, ny_taxi_ml.py:117-163):
    * range bounds, a disjunctive pair, and a column-vs-column predicate, as
    * ONE filter — Catalyst pushes the conjuncts to the parquet scan.
    */
  def q07FilterConj(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .filter(
        col("l_quantity") > 1 && col("l_quantity") < 50 &&
        col("l_extendedprice") >= 1000 && col("l_extendedprice") <= 90000 &&
        col("l_discount") >= 0.0 && col("l_discount") <= 0.1 &&
        col("l_tax") <= 0.08 &&
        (col("l_quantity") <= 45 || col("l_extendedprice") >= 5000) &&
        col("l_shipdate") > to_timestamp(lit("1995-06-01 00:00:00")) &&
        col("l_linenumber") < 7 &&
        col("l_extendedprice") > col("l_quantity") * col("l_discount") * 100)
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_shipdate")

  /** P5/P6/F1-F9 (feature-engineering projection, ny_taxi_ml.py:171-183):
    * year/day extraction, epoch seconds, floor-division grid cell, power,
    * sqrt, arithmetic, string null-fill — one narrow projection, no shuffle.
    * Epoch unit is SECONDS by engine definition (SURVEY.md §7.2 F3).
    */
  def q08DerivedCols(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir).select(
      col("event_id"),
      year(col("ts")).as("y"),
      dayofmonth(col("ts")).as("dom"),
      col("ts").cast("long").as("epoch_s"),
      floor(col("value") / 0.01).cast("long").as("v_cell"),
      round(sqrt(col("value")), 6).as("sqrt_v"),
      round(pow(col("value"), 2), 4).as("v_sq"),
      round(col("value") * 2 - 1, 2).as("v_lin"),
      coalesce(col("props"), lit("-1")).as("props_filled"))

  /** S5 (multi-source union, ny_taxi.py:305 / ny_taxi_ml.py:109): two scans
    * unioned by name then aggregated — Spark unions without materializing.
    */
  def q09Union(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
    e.filter(col("value") < 100)
      .unionByName(e.filter(col("value") >= 400))
      .groupBy("event_type")
      .agg(count(lit(1)).as("cnt"), round(sum("value"), 2).as("sum_v"))
  }

  /** A6 (distinct + sort, plasticc_pandas_modin.py:97). */
  def q10DistinctSort(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select("lang").distinct().orderBy("lang")

  /** A11 (harness pivot long→wide, benchmark_db.py:170-174): explicit pivot
    * values keep the schema static (no extra pass to discover them).
    */
  def q11Pivot(s: SparkSession, dir: String): DataFrame = {
    val kinds = Seq("click", "error", "purchase", "signup", "view")
    val p = Tables.events(s, dir)
      .groupBy("user_id")
      .pivot("event_type", kinds)
      .agg(count(lit(1)))
    p.select(col("user_id") +: kinds.map(k => coalesce(col(k), lit(0L)).as(k)): _*)
  }

  /** O1/O3 (top-k: total sort + limit). Tie-broken on the key so the result
    * set is deterministic. Spark plans this as TakeOrderedAndProject — a
    * per-partition top-k then a k-way driver merge, no full sort at scale.
    */
  def q12TopK(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(10)
      .select("o_orderkey", "o_totalprice")

  /** Per-group window top-k through the [[graft.plans.TopKRewrite]]
    * plan rewrite: the canonical `row_number() ≤ k` idiom, written
    * exactly as a user would write it — the injected rule replaces the
    * Window (and Spark's own WindowGroupLimit) with the bounded
    * `graft_topk_rows` aggregate + posexplode, so no sort of the input
    * ever runs and the shuffle carries ≤ k rows per group per map
    * partition. TopKRewriteSpec pins plan shape (no Window node) and
    * bit-equality against the unrewritten form; the SQL oracle gates
    * values. Tie-broken on o_orderkey so the result is deterministic.
    */
  def q68WindowTopK(s: SparkSession, dir: String, k: Int = 3): DataFrame = {
    // no register() here: the operator stays a PURE window top-k (the
    // stock plan — WindowGroupLimit + codegen sort — measured FASTER
    // than the rewrite at every local scale, SCALE.md r11).
    // [[q68WindowTopKNative]] is the rewritten twin, oracle-gated under
    // the same SQL.
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    Tables.orders(s, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
  }

  /** The [[graft.plans.TopKRewrite]] plan of the same query, kept
    * oracle-gated next to the composed form: the rule runs on a
    * DERIVED session (`newSession` — same context, fixture caches, and
    * data; fresh experimental methods) so registration never leaks into
    * the shared suite session and query order stays irrelevant. The
    * rewritten plan is the bounded `graft_topk_rows` aggregate +
    * posexplode — no sort of the input, ≤ k rows per group per map
    * partition into the shuffle. Measured honestly (sweeps=3, SCALE.md
    * r11): the stock plan wins at fixture scale at all three decades
    * (codegen sort vs object aggregate); the rewrite's structural win is
    * the regime where the window's partition sort SPILLS, which
    * local[32] partitions never reach.
    */
  def q68WindowTopKNative(s: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val s2 = s.newSession()
    graft.plans.TopKRewrite.register(s2)
    q68WindowTopK(s2, dir, k)
  }

  /** S4 (skiprows → offset over a defined total order,
    * plasticc_pandas_modin.py:76-81; SURVEY.md §7.2).
    */
  def q13Offset(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .orderBy("l_orderkey", "l_linenumber")
      .offset(1000)
      .limit(500)
      .select("l_orderkey", "l_linenumber", "l_quantity")

  /** P11-style exact dedup with deterministic survivor choice: group by the
    * dedup key, keep min(id). (`dropDuplicates` picks an arbitrary row;
    * min-id is the reproducible equivalent at any scale.)
    */
  def q14DedupExact(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy("user_id", "event_type")
      .agg(min("event_id").as("first_event"), count(lit(1)).as("n_dupes"))

  /** Window functions (beyond the reference surface — engine completeness):
    * row_number / lag / running sum over a per-user event timeline. Explicit
    * ROWS frame so ties can't diverge between engines.
    */
  def q15WindowFuncs(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    Tables.events(s, dir).select(
      col("event_id"),
      col("user_id"),
      row_number().over(w).as("rn"),
      round(lag("value", 1).over(w), 2).as("prev_v"),
      round(sum("value").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 2)
        .as("running_v"))
  }

  /** JSON + regex scalar functions over the events.props payload column
    * (semi-structured column handling — beyond the reference surface, which
    * has no string functions on data).
    */
  def q18JsonExtract(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir).select(
      col("event_id"),
      get_json_object(col("props"), "$.k").cast("int").as("k"),
      regexp_extract(col("props"), "\\d+", 0).as("k_str"))

  /** Exact interpolated percentiles + exact distinct count per group
    * (Spark `percentile` == DuckDB `quantile_cont`, both linear
    * interpolation).
    */
  def q19Percentiles(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy("event_type")
      .agg(
        round(expr("percentile(value, 0.5)"), 4).as("p50"),
        round(expr("percentile(value, 0.95)"), 4).as("p95"),
        countDistinct("user_id").as("n_users"))

  /** Sketch-based approximate aggregates (HLL++ distinct count, quantile
    * sketch) — the constant-memory scale path for the q19 statistics; no
    * oracle (approximation is engine-specific), checked rows-only.
    */
  def q20ApproxAgg(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy("event_type")
      .agg(
        approx_count_distinct("user_id").as("approx_users"),
        percentile_approx(col("value"), lit(0.5), lit(1000)).as("approx_p50"))

  /** Date/time arithmetic family: day difference from an epoch, calendar
    * month addition (clamped), last-day-of-month, month truncation,
    * Monday-based weekday.
    */
  def q21DateFuncs(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir).select(
      col("o_orderkey"),
      datediff(col("o_orderdate"), lit("1995-01-01")).as("days_since"),
      add_months(col("o_orderdate"), 1).as("next_month"),
      last_day(col("o_orderdate")).as("month_end"),
      trunc(col("o_orderdate"), "month").as("month_start"),
      weekday(col("o_orderdate")).as("wd"))

  /** Row-level set operations (beyond the reference, which only unions):
    * (user, day) pairs with both a click and a purchase but no error —
    * INTERSECT then EXCEPT with distinct semantics.
    */
  def q22SetOps(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
    def userDays(kind: String) =
      e.filter(col("event_type") === kind)
        .select(col("user_id"), dayofmonth(col("ts")).as("dom"))
    userDays("click").intersect(userDays("purchase")).except(userDays("error"))
  }

  /** Rollup aggregation (hierarchical subtotals + grand total) over
    * (event_type, day-of-month).
    */
  def q23Rollup(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .rollup(col("event_type"), dayofmonth(col("ts")).as("dom"))
      .agg(count(lit(1)).as("cnt"), round(sum("value"), 2).as("sum_v"))

  /** As-of join (beyond the reference; pandas merge_asof / kdb aj
    * territory): attribute each `error` event to the user's most recent
    * click at-or-before it. Clicks are deduplicated per (user, ts) by max
    * event_id so the at-same-instant tie is deterministic on both
    * engines. The oracle is DuckDB's native ASOF JOIN.
    */
  def q24AsofJoin(s: SparkSession, dir: String): DataFrame =
    errorsAsOfClicks(s, dir, forward = false)

  /** FORWARD as-of: attribute each error to the user's NEXT click
    * at-or-after it (the "what did the user do about it" direction —
    * merge_asof direction='forward'). Oracle is DuckDB's native ASOF with
    * the inequality flipped.
    */
  def q24AsofJoinForward(s: SparkSession, dir: String): DataFrame =
    errorsAsOfClicks(s, dir, forward = true)

  private def errorsAsOfClicks(s: SparkSession, dir: String, forward: Boolean): DataFrame = {
    val e = Tables.events(s, dir)
    val clicks = e.filter(col("event_type") === "click")
      .groupBy("user_id", "ts")
      .agg(max(struct(col("event_id"), col("value"))).as("m"))
      .select(col("user_id"), col("ts"), col("m.event_id").as("click_id"),
        col("ts").as("click_ts"), col("m.value").as("click_value"))
    val errors = e.filter(col("event_type") === "error")
      .select(col("user_id"), col("ts"), col("event_id"))
    asOfOf(errors, clicks, forward)
      .select("event_id", "user_id", "click_id", "click_ts", "click_value")
  }

  /** As-of join of `left` onto `right`, both carrying `user_id` and `ts`:
    * each left row gets the right row of its user with the latest `ts`
    * at-or-before its own (`forward`: the earliest at-or-after), whose
    * other columns are appended — null when none matches (left outer).
    *
    * Spark has no as-of operator, and the scalable form is NOT a join at
    * all but a tagged union + one window pass: both sides interleave per
    * user in time order (descending when `forward`, so one running frame
    * serves both directions), a right row ahead of a left row at the same
    * instant, and `last(_, ignoreNulls)` carries the latest right row — as
    * one struct, so every appended column comes from the same row — onto
    * each left row. ONE shuffle on user_id, no row amplification, no
    * inequality join. (The join-based phrasing — join all pairs, argmax
    * per left row — would shuffle twice and amplify by lefts×rights per
    * user.)
    *
    * Nulls follow SQL's ASOF JOIN: a right row with a null `user_id` or
    * `ts` is never a candidate, so a left row with a null `user_id` finds
    * none in its partition; a left row with a null `ts` sorts ahead of
    * every right row and so matches nothing. Right rows tied on
    * (user_id, ts) resolve arbitrarily — deduplicate them first.
    */
  def asOfOf(left: DataFrame, right: DataFrame, forward: Boolean): DataFrame = {
    val carried = right.columns.filterNot(Set("user_id", "ts"))
    val clash = carried.intersect(left.columns)
    require(clash.isEmpty, s"asOfOf: ${clash.mkString(", ")} on both sides")
    val candidates = right.filter(col("user_id").isNotNull && col("ts").isNotNull)
      .select(col("user_id"), col("ts"), lit(0).as("side"),
        struct(carried.toSeq.map(col): _*).as("match"))
    val time = if (forward) col("ts").desc_nulls_first else col("ts").asc_nulls_first
    val w = Window.partitionBy("user_id").orderBy(time, col("side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    left.withColumn("side", lit(1))
      .unionByName(candidates, allowMissingColumns = true)
      .withColumn("match", last(col("match"), ignoreNulls = true).over(w))
      .filter(col("side") === 1)
      .select(left.columns.map(col) :+ col("match.*"): _*)
  }

  /** Range (interval) join (beyond the reference): events whose value
    * falls in a per-supplier band, aggregated per supplier. A naive
    * inequality join is a nested loop, and a binned equi-join (each
    * interval replicated to the bins it covers, each point in one bin)
    * is match-proportional: it must still TOUCH every (interval, point)
    * match — Θ(S·N·span/R) pairs, super-linear in sf when both sides grow
    * — yet the OUTPUT is only a per-supplier aggregate, so the matches
    * never need to be materialized. This path is linear: it aggregates
    * events once into a bucket histogram, turns it into cumulative
    * (count, sum) prefixes, and answers each interval with two prefix
    * lookups plus an exact residual join on the 4 boundary buckets:
    *
    *   1. histogram: one event-sized shuffle → (bucket, cnt, sum) with
    *      bucket width adapted to the corpus (span / clamp(n/16, 1k, 64k))
    *      so boundary buckets stay a vanishing fraction of the data;
    *   2. dense axis + TWO-LEVEL prefix: within-chunk running sums are a
    *      `partitionBy(chunk)` window (distributed); chunk offsets are a
    *      single-partition window over the chunk-count-sized totals table
    *      (≤ axis/1024 rows — driver-metadata scale, never event scale);
    *   3. interior mass: per supplier, cum(hb−2) − cum(lb+1) via two
    *      broadcast equi-joins against the prefix axis. The ±2-bucket
    *      guard band means a value one ulp across a float bucket edge
    *      can never flip interior membership — everything within the
    *      band is provably inside [lo, hi);
    *   4. boundary: the ≤4 edge buckets per supplier equi-join the raw
    *      events with the exact `lo <= value < hi` residual.
    *
    * Cost is O(N + S + axis) with an O(S · N/axis) boundary term — at a
    * fixed axis size of 64k buckets the boundary join touches ~0.006% of
    * events per supplier. The three stats collected up front (min, max,
    * count) are index-metadata, the same driver-side regime as the ANN
    * quantizers. Equality with a binned reference is spec-pinned
    * (Batch56Spec; in the fixed-point regime below the prefix sums are
    * exact).
    */
  def q25RangeJoinPrefix(s: SparkSession, dir: String): DataFrame = {
    val evRaw = Tables.events(s, dir).select(col("event_id"), col("value"))
    // the fourth stat (same single scan) guards the FIXED-POINT regime:
    // when every value is an exact multiple of 1e-6 (the money-like
    // fixtures), sums run over integer-valued doubles — exact while the
    // scaled total stays under 2^53 (Σ|value| < 9e9), so the cumulative-
    // prefix DIFFERENCES carry no association error and the rounded
    // per-supplier cent can never flip against the exact oracle. Data
    // with genuine sub-micro precision (or a total past 2^53) degrades
    // gracefully to the plain double path's error class, never worse.
    val st = evRaw.agg(min("value"), max("value"), count(lit(1)),
      max(abs(col("value") * 1e6 - round(col("value") * 1e6)))).collect()(0)
    // empty events: min/max come back null — return the same empty
    // (s_suppkey, n_events, sum_v) frame a non-empty input produces
    // instead of NPEing on getDouble (ADVICE r6)
    if (st.isNullAt(0))
      return s.range(0).select(col("id").cast("long").as("s_suppkey"),
        lit(0L).as("n_events"), lit(0.0).as("sum_v"))
    val (vlo, vhi, n) = (st.getDouble(0), st.getDouble(1), st.getLong(2))
    val fx = st.getDouble(3) < 1e-3
    def sval(c: Column): Column = if (fx) round(c * 1e6) else c
    val unscale = if (fx) 1e6 else 1.0
    val axis = math.min(1L << 16, math.max(1024L, n / 16)).toDouble
    val binW = math.max((vhi - vlo) / axis, 1e-9)
    val ev = evRaw.withColumn("bucket", floor(col("value") / binW).cast("long"))
    val hist = ev.groupBy("bucket")
      .agg(count(lit(1)).as("cnt"), sum(sval(col("value"))).as("sv"))
    val bLo = math.floor(vlo / binW).toLong
    val bHi = math.floor(vhi / binW).toLong
    // dense bucket axis via distributed range (empty buckets must carry a
    // cumulative value for arbitrary prefix lookups to land)
    val dense = s.range(bLo, bHi + 1).toDF("bucket")
      .join(hist, Seq("bucket"), "left")
      .na.fill(0L, Seq("cnt")).na.fill(0.0, Seq("sv"))
    val chunkSize = 1024
    val chunked = dense
      .withColumn("chunk", floor(col("bucket") / chunkSize).cast("long"))
    val wIn = Window.partitionBy("chunk").orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val inPrefix = chunked.select(col("bucket"), col("chunk"),
      sum("cnt").over(wIn).as("icnt"), sum("sv").over(wIn).as("isv"))
    val wCh = Window.orderBy("chunk")
      .rowsBetween(Window.unboundedPreceding, -1)
    val chOffsets = chunked.groupBy("chunk")
      .agg(sum("cnt").as("tcnt"), sum("sv").as("tsv"))
      .select(col("chunk"),
        coalesce(sum("tcnt").over(wCh), lit(0L)).as("pcnt"),
        coalesce(sum("tsv").over(wCh), lit(0.0)).as("psv"))
    val prefix = inPrefix.join(broadcast(chOffsets), Seq("chunk"))
      .select(col("bucket"),
        (col("icnt") + col("pcnt")).as("ccnt"),
        (col("isv") + col("psv")).as("csv"))

    val c = abs(col("s_acctbal")) % lit(500.0)
    val sup = Tables.supplier(s, dir)
      .select(col("s_suppkey"), (c - 10.0).as("lo"), (c + 10.0).as("hi"))
      .withColumn("lb", floor(col("lo") / binW).cast("long"))
      .withColumn("hb", floor(col("hi") / binW).cast("long"))
    // interior = buckets [lb+2, hb−2]; lookups clamp into [bLo−1, bHi]
    // where bLo−1 (absent from the axis) left-joins to a zero prefix
    val clampHi = least(greatest(col("hb") - 2, lit(bLo - 1)), lit(bHi))
    val clampLo = least(greatest(col("lb") + 1, lit(bLo - 1)), lit(bHi))
    val pHi = prefix.select(col("bucket").as("kHi"),
      col("ccnt").as("cntHi"), col("csv").as("svHi"))
    val interior = sup
      .withColumn("kHi", clampHi).withColumn("kLo", clampLo)
      .join(broadcast(pHi), Seq("kHi"), "left")
      .join(broadcast(prefix.select(col("bucket").as("kLo"),
        col("ccnt").as("cntLo"), col("csv").as("svLo"))), Seq("kLo"), "left")
      .select(col("s_suppkey"),
        when(col("hb") - 2 >= col("lb") + 2,
          coalesce(col("cntHi"), lit(0L)) - coalesce(col("cntLo"), lit(0L)))
          .otherwise(lit(0L)).as("n_int"),
        when(col("hb") - 2 >= col("lb") + 2,
          coalesce(col("svHi"), lit(0.0)) - coalesce(col("svLo"), lit(0.0)))
          .otherwise(lit(0.0)).as("sv_int"))
    // boundary buckets: ≤4 per supplier, exact residual on raw events
    val edges = sup.select(col("s_suppkey"), col("lo"), col("hi"),
        explode(array_distinct(filter(
          array(col("lb"), col("lb") + 1, col("hb") - 1, col("hb")),
          b => b >= col("lb") && b <= col("hb") &&
            !(b >= col("lb") + 2 && b <= col("hb") - 2)))).as("bucket"))
      .join(ev, Seq("bucket"))
      .filter(col("value") >= col("lo") && col("value") < col("hi"))
      .groupBy("s_suppkey")
      .agg(count(lit(1)).as("n_edge"), sum(sval(col("value"))).as("sv_edge"))
    interior.join(edges, Seq("s_suppkey"), "full")
      .select(col("s_suppkey"),
        (coalesce(col("n_int"), lit(0L)) + coalesce(col("n_edge"), lit(0L)))
          .as("n_events"),
        round((coalesce(col("sv_int"), lit(0.0)) +
          coalesce(col("sv_edge"), lit(0.0))) / lit(unscale), 2).as("sum_v"))
      .filter(col("n_events") > 0)
  }

  /** Star-schema dimension join: fact (customer) joined through two tiny
    * dimensions (nation → region) with explicit broadcast hints — at any
    * scale the dimensions fit in memory, so the plan must be two
    * BroadcastHashJoins (PlanSpec pins it): the fact table never
    * shuffles, each executor streams its partitions against the
    * broadcast maps.
    */
  def q26DimJoin(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .join(broadcast(Tables.nation(s, dir)),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, dir)),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_customers"),
        round(sum("c_acctbal"), 2).as("sum_acctbal"))

  /** Semi/anti join family: orders having at least one high-quantity
    * lineitem (LEFT SEMI — no row amplification, the probe side streams
    * against a build-side key set), excluding orders of customers in debt
    * (LEFT ANTI against a broadcast-able filtered dimension). Semi/anti
    * joins shuffle only keys — at scale they are the cheap way to express
    * EXISTS / NOT EXISTS reductions before a wide join.
    */
  def q27SemiAntiJoin(s: SparkSession, dir: String): DataFrame = {
    val bigItems = Tables.lineitem(s, dir)
      .filter(col("l_quantity") >= 45).select(col("l_orderkey"))
    val debtors = Tables.customer(s, dir)
      .filter(col("c_acctbal") < 0).select(col("c_custkey").as("o_custkey"))
    Tables.orders(s, dir)
      .join(bigItems, col("o_orderkey") === col("l_orderkey"), "left_semi")
      .join(broadcast(debtors), Seq("o_custkey"), "left_anti")
      .select("o_orderkey", "o_custkey", "o_totalprice")
  }

  /** Sliding (hopping) event-time windows: 1-hour windows every 30
    * minutes — each event lands in exactly windowLen/slide windows
    * (Spark expands rows before the aggregation, so this is an explode ×2
    * + one hash aggregate; at scale the multiplier is the knob).
    */
  def q31SlidingWindow(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), round(sum("value"), 2).as("sum_v"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("cnt"), col("sum_v"))

  /** Ranking-window family beyond q15: rank / dense_rank / ntile /
    * cume_dist / lead over a per-type total order — one shuffle on the
    * partition key, all functions evaluated in the same window pass.
    */
  def q29WindowRanks(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("event_type").orderBy(col("value"), col("event_id"))
    Tables.events(s, dir).select(
      col("event_id"), col("event_type"),
      rank().over(w).as("rnk"),
      dense_rank().over(w).as("drnk"),
      ntile(4).over(w).as("quartile"),
      round(cume_dist().over(w), 6).as("cd"),
      lead(col("value"), 1).over(w).as("next_v"))
  }

  /** Scalar string-function family over the part dimension: case mapping,
    * length, substring, regex strip, padding, multi-column concat, and
    * edit distance — all codegen'd built-ins in one narrow projection.
    */
  def q30StringFuncs(s: SparkSession, dir: String): DataFrame =
    Tables.part(s, dir).select(
      col("p_partkey"),
      upper(col("p_name")).as("uname"),
      length(col("p_name")).as("nlen"),
      substring(col("p_name"), 1, 10).as("prefix10"),
      regexp_replace(col("p_name"), "[aeiou]", "").as("novowels"),
      lpad(col("p_brand"), 12, "#").as("brand_pad"),
      concat_ws("|", col("p_brand"), col("p_type")).as("brand_type"),
      levenshtein(col("p_brand"), col("p_type")).as("lev"))

  /** Cube aggregation — all 2² grouping sets over (event_type, day):
    * per-combination subtotals, both one-dimension margins, and the grand
    * total in one pass (Expand + single shuffle, rows × #grouping-sets —
    * at scale prefer explicit grouping sets over high-arity cubes).
    */
  def q28Cube(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .cube(col("event_type"), dayofmonth(col("ts")).as("dom"))
      .agg(count(lit(1)).as("cnt"), round(sum("value"), 2).as("sum_v"))

  /** Explicit GROUPING SETS with grouping_id — the general form rollup and
    * cube special-case: three chosen granularities (type×day, type, day)
    * in ONE pass over the input (Spark expands the sets inside a single
    * Expand + two-phase hash aggregation; no self-union of scans).
    */
  def q32GroupingSets(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("event_type"), dayofmonth(col("ts")).as("dom"), col("value"))
      .groupingSets(
        Seq(Seq(col("event_type"), col("dom")), Seq(col("event_type")),
          Seq(col("dom"))),
        col("event_type"), col("dom"))
      .agg(grouping_id().cast("int").as("gid"),
        count(lit(1)).as("cnt"), round(sum("value"), 2).as("sum_v"))

  /** Changelog compaction / SCD-1 upsert merge (engine completeness —
    * the reference is batch-only snapshots): treating events as an upsert
    * stream keyed by (user_id, event_type), emit the LATEST version of
    * every key plus its version count. This is the core of incremental
    * ingestion at scale (Hudi/Iceberg-style merge-on-read compaction):
    * a base snapshot unioned with a changelog compacts with exactly the
    * same plan.
    *
    * One hash shuffle with map-side partial `max_by` — deliberately NOT a
    * window (`row_number ... rn=1` sorts every partition); `max_by` keeps
    * a single row per key in the partial aggregate, so the exchange
    * carries one row per key per mapper, not the full changelog.
    * Tie-break on (ts, event_id): event_id is unique, so the survivor is
    * deterministic at any scale.
    */
  def q33MergeUpsert(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
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

  /** Ordered-funnel analysis: for every user, the event-time of the first
    * `view`, the first `click` strictly after it, and the first `purchase`
    * strictly after that — the conversion-funnel primitive of product
    * analytics (and, pipeline-side, of ordered data-lineage audits).
    *
    * Plan: three chained per-user min-aggregations, each over ONLY its
    * event-type slice (the filter reaches the scan, so each exchange
    * carries one stage's rows, and their union is at most one pass over
    * events). Stage outputs are per-user one-row aggregates — orders of
    * magnitude smaller than events — which join back by broadcast under
    * AQE; no windows, no sorts. Stage flags derive from timestamp
    * nullability.
    */
  def q34Funnel(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).select("user_id", "event_type", "ts")
    val t1 = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("ts").as("t_view"))
    val t2 = ev.filter(col("event_type") === "click")
      .join(t1, Seq("user_id"))
      .filter(col("ts") > col("t_view"))
      .groupBy("user_id").agg(min("ts").as("t_click"))
    val t3 = ev.filter(col("event_type") === "purchase")
      .join(t2, Seq("user_id"))
      .filter(col("ts") > col("t_click"))
      .groupBy("user_id").agg(min("ts").as("t_purchase"))
    t1.join(t2, Seq("user_id"), "left")
      .join(t3, Seq("user_id"), "left")
      .select(col("user_id"), col("t_view"), col("t_click"), col("t_purchase"),
        (lit(1) + when(col("t_click").isNotNull, 1).otherwise(0)
          + when(col("t_purchase").isNotNull, 1).otherwise(0))
          .cast("int").as("stages_reached"))
  }

  /** Unpivot (melt) — the long-form inverse of q11's pivot (A11): the
    * per-user event-type count matrix flows back to (user_id, event_type,
    * cnt) rows. `unpivot` is a zero-shuffle row expansion (Expand node) on
    * top of the pivot's aggregate; round-tripping pivot∘unpivot is the
    * reshape pair every feature store needs in both directions.
    */
  def q35Unpivot(s: SparkSession, dir: String): DataFrame =
    q11Pivot(s, dir).unpivot(
      Array(col("user_id")),
      Array("click", "error", "purchase", "signup", "view").map(col),
      "event_type", "cnt")

  /** Pipeline composition (ny_taxi_ml end-to-end ETL shape): filter → feature
    * engineering → threshold split (P9) → per-split aggregate, re-joined.
    * Exercises caching-free recompute of a shared subplan.
    */
  def q16SplitAgg(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.events(s, dir)
      .filter(col("value") > 0)
      .withColumn("dom", dayofmonth(col("ts")))
    val train = base.filter(col("dom") < 25)
    val test = base.filter(col("dom") >= 25)
    val t = train.groupBy("event_type")
      .agg(count(lit(1)).as("n_train"), round(avg("value"), 4).as("avg_train"))
    val v = test.groupBy("event_type")
      .agg(count(lit(1)).as("n_test"), round(avg("value"), 4).as("avg_test"))
    t.join(v, Seq("event_type"), "full_outer")
  }

  /** Robust per-group statistics — exact median, median absolute
    * deviation (the robust dispersion used for outlier fences where
    * stddev is skew-fragile), and the categorical mode: the three
    * estimators a data-quality pass computes per segment. MAD is the
    * genuinely two-pass shape: the per-group median broadcasts back onto
    * the scan and a SECOND exact percentile runs over |x − median|.
    *
    * Distributed shape: exact percentiles are sort-based per-group
    * aggregates (the at-scale lever is q20's approx sketches; this
    * operator is the exact gold standard they're validated against);
    * group count is tiny (return flags), so both passes are two-phase
    * aggregates with no window over data rows. The mode is a
    * (group, value) pre-aggregate — corpus-sized input compacted
    * map-side — topped by a per-group row_number on counts with a
    * lexicographic tie-break both engines replay.
    */
  def q36RobustStats(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val med = li.groupBy("l_returnflag")
      .agg(expr("percentile(l_quantity, 0.5D)").as("med"),
        count(lit(1)).as("n_rows"))
    val mad = li.join(broadcast(med.select(col("l_returnflag"), col("med"))),
        Seq("l_returnflag"))
      .groupBy("l_returnflag")
      .agg(expr("percentile(abs(l_quantity - med), 0.5D)").as("mad"))
    val mode = li.groupBy("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("l_returnflag")
          .orderBy(col("n").desc, col("l_linestatus"))))
      .filter(col("rn") === 1)
      .select(col("l_returnflag"), col("l_linestatus").as("mode_status"))
    med.join(mad, Seq("l_returnflag")).join(mode, Seq("l_returnflag"))
      .select(col("l_returnflag"), round(col("med"), 6).as("median_qty"),
        round(col("mad"), 6).as("mad_qty"), col("mode_status"), col("n_rows"))
  }

  /** Calendar resample with gap fill — the pandas `resample`/`asfreq`
    * staple (the reference suite is a pandas-API benchmark; regularizing
    * an event stream to a daily grid is the canonical prep for any
    * time-series feature): per-type daily aggregates land on a complete
    * date spine, missing days take count 0, the daily sum forward-fills
    * from the last observed day, and a day-over-day percent change rides
    * on top.
    *
    * Distributed shape: the daily aggregate is a two-phase (type, day)
    * hash agg over the scan; the spine is types × generated day sequence
    * (tiny — one aggregate row cross-joined to the distinct types) LEFT
    * joined to the aggregate (broadcast: the spine is calendar-sized).
    * The forward-fill and lag windows partition by type over the SPINE
    * (types × days rows, aggregate-compacted) — never over raw events,
    * so no window touches corpus-scale data.
    */
  def q37Resample(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val daily = ev
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("cnt_day"), round(sum("value"), 4).as("sum_v"))
    val bounds = ev.agg(to_date(min("ts")).as("d0"), to_date(max("ts")).as("d1"))
    val spine = ev.select("event_type").distinct()
      .crossJoin(bounds)
      .select(col("event_type"),
        explode(sequence(col("d0"), col("d1"))).as("day"))
    val w = Window.partitionBy("event_type").orderBy("day")
    spine.join(daily, Seq("event_type", "day"), "left")
      .withColumn("cnt", coalesce(col("cnt_day"), lit(0L)))
      .withColumn("sum_v_ff", round(coalesce(col("sum_v"),
        last("sum_v", ignoreNulls = true)
          .over(w.rowsBetween(Window.unboundedPreceding, -1))), 4))
      .withColumn("prev", lag("cnt", 1).over(w))
      .withColumn("pct_change",
        when(col("prev").isNull || col("prev") === 0, lit(null))
          .otherwise(round((col("cnt") - col("prev")) / col("prev").cast("double"), 6)))
      .select("event_type", "day", "cnt", "sum_v_ff", "pct_change")
  }

  /** Equi-width histogram — the distribution profile a data-quality /
    * calibration pass computes per segment (and the building block of
    * approximate quantiles and range-partition planning). Bucket edges
    * derive from the global min/max; the bucket formula is spelled with
    * one fixed operator grouping (((x − lo) · nb) / (hi − lo), floored,
    * hi clamped into the last bucket) so any engine replays the same
    * doubles — width_bucket() builtins vary across engines in edge
    * handling, so the portable arithmetic IS the contract.
    *
    * Distributed shape: one tiny bounds aggregate broadcast onto the
    * scan, bucket assignment in the map phase, then a two-phase hash agg
    * on (flag, bucket) — cardinality flags × nb. Two passes over the
    * data, no window, no sort: the same shape at any scale.
    */
  /** Key-skew profiler — the diagnosis a 100 TB join/aggregation runs
    * BEFORE choosing its strategy (salt? AQE skew split? broadcast?):
    * per-key counts, the heaviest keys' individual and cumulative share
    * of all rows, and the total key cardinality. One two-phase count
    * aggregate over the scan (corpus → key-cardinality compaction), one
    * scalar totals row broadcast back, and a bounded top-k — the windows
    * only ever see the top-k rows, never the key table. The output IS
    * the salting decision: a top-1 share ≫ 1/partitions means that key
    * needs splitting.
    */
  def q40SkewProfile(s: SparkSession, dir: String, topK: Int = 20): DataFrame = {
    val counts = Tables.events(s, dir).groupBy("user_id")
      .agg(count(lit(1)).as("cnt"))
    val tot = counts.agg(sum("cnt").as("total"), count(lit(1)).as("n_keys"))
    val top = counts.orderBy(col("cnt").desc, col("user_id")).limit(topK)
    val ord = Window.orderBy(col("cnt").desc, col("user_id"))
    top.crossJoin(broadcast(tot))
      .withColumn("rank", row_number().over(ord).cast("int"))
      .withColumn("share", round(col("cnt") / col("total"), 6))
      .withColumn("cum_share",
        round(sum("cnt").over(ord.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)) / col("total"), 6))
      .select("rank", "user_id", "cnt", "share", "cum_share", "n_keys")
  }

  /** Equi-depth (quantile) bucketing — the QuantileDiscretizer shape that
    * complements q38's equi-width histogram. Quartile boundaries come
    * from `StatFunctions.exactQuantiles` — distributed histogram
    * refinement (narrow map-side passes, never a value→count map of the
    * column's distinct doubles; the built-in exact `percentile` aggregate
    * measured 6.8 s at sf0.1 against ~0.6 s for this kernel, and its
    * per-distinct-value state is exactly what cannot scale on a
    * high-cardinality column). The boundaries land in the plan as double
    * LITERALS (bit-identical to `quantile_cont` by construction), bucket
    * assignment is a map-phase CASE chain, then a two-phase (flag,
    * bucket) count.
    */
  def q41QuantileBucket(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val bounds = graft.functions.StatFunctions.exactQuantiles(
      li, "l_extendedprice", Seq(0.25, 0.5, 0.75))
    // No quantiles exist (empty frame OR all-null measure —
    // exactQuantiles counts non-null values): every CASE arm in the
    // oracle compares against a NULL boundary and falls to the ELSE
    // bucket, so rows (if any) all land in bucket 4. Routing ALL rows to
    // bucket 4 reproduces both cases: an empty frame aggregates to an
    // empty result, an all-null measure column yields one bucket-4 row
    // per l_returnflag — matching DuckDB's NULL-boundary CASE exactly.
    if (bounds.isEmpty)
      return li.select(col("l_returnflag"), lit(4).as("qbucket"))
        .groupBy("l_returnflag", "qbucket")
        .agg(count(lit(1)).as("cnt"))
    val Array(q1, q2, q3) = bounds
    li.select(col("l_returnflag"),
        when(col("l_extendedprice") <= q1, 1)
          .when(col("l_extendedprice") <= q2, 2)
          .when(col("l_extendedprice") <= q3, 3)
          .otherwise(4).as("qbucket"))
      .groupBy("l_returnflag", "qbucket")
      .agg(count(lit(1)).as("cnt"))
  }

  /** SCD-2 history table — the warehouse staple that turns a changelog
    * into validity intervals: per (key) ordered versions with
    * valid_from/valid_to (the next version's timestamp) and a
    * current-row flag. One window partitioned by key over key-local
    * sequences (never a global sort); (ts, event_id) tie-break pins
    * identical version numbering in both engines. At scale this is the
    * merge-on-read view over the raw changelog; Lake's manifest versions
    * give the same history at file granularity.
    */
  def q51Scd2History(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val w = Window.partitionBy("user_id", "event_type")
      .orderBy(col("valid_from"), col("event_id"))
    ev.select(col("user_id"), col("event_type"), col("event_id"),
        col("ts").as("valid_from"), col("value"))
      .withColumn("valid_to", lead("valid_from", 1).over(w))
      .withColumn("version", row_number().over(w).cast("int"))
      .withColumn("is_current", col("valid_to").isNull.cast("int"))
  }

  /** Longest activity streak per user — gaps-and-islands over active
    * days (retention's sibling metric): distinct (user, day), island id
    * = day − row_number·1day (constant within a consecutive run), max
    * island length per user. Both windows partition BY USER over
    * day-compacted rows — local sorts of per-user day lists, never a
    * global sort; the corpus-scale work is the one distinct.
    */
  def q50StreakIslands(s: SparkSession, dir: String): DataFrame = {
    val ud = Tables.events(s, dir)
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    val w = Window.partitionBy("user_id").orderBy("day")
    val islands = ud
      .withColumn("grp", date_sub(col("day"), row_number().over(w)))
      .groupBy("user_id", "grp").agg(count(lit(1)).as("len"),
        min("day").as("streak_start"))
    islands.groupBy("user_id")
      .agg(max("len").as("longest_streak"),
        count(lit(1)).as("n_streaks"),
        min("streak_start").as("first_day"))
  }

  /** Funnel time-to-convert — latency between funnel stages (first view
    * → first click after it), summarized as conversion count + exact
    * median/p90 of the per-user duration. The duration table is
    * USER-cardinality (two chained conditional-min aggregates, q34's
    * shape — stage filters at the scan, no window over raw events), so
    * the exact percentile aggregate runs over key-sized input where its
    * value-map state is harmless — the documented contrast with
    * q41's high-cardinality case, which needs the histogram-refinement
    * kernel.
    */
  def q49TimeToConvert(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val views = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("ts").as("t_view"))
    val clicks = ev.filter(col("event_type") === "click")
      .join(views, Seq("user_id"))
      .filter(col("ts") >= col("t_view"))
      .groupBy("user_id").agg(min("ts").as("t_click"),
        first("t_view").as("t_view2"))
    clicks
      .select((unix_micros(col("t_click")) - unix_micros(col("t_view2")))
        .as("micros"))
      .agg(count(lit(1)).as("n_converted"),
        round(expr("percentile(micros / 1e6, 0.5D)"), 3).as("p50_sec"),
        round(expr("percentile(micros / 1e6, 0.9D)"), 3).as("p90_sec"))
  }

  /** Next-event transition matrix (first-order Markov over user
    * journeys) — the path-analysis primitive behind funnel discovery and
    * session modeling: per-user event sequences yield (from → to)
    * transition counts and row-normalized probabilities. One window
    * partitioned BY USER (sequences are per-user, so the sort is local
    * to each user's events — never a global sort), transitions counted
    * by a two-phase hash agg, per-from totals derived from the tiny
    * transition matrix itself and broadcast back. Ties in event time
    * break on event_id so both engines see identical sequences.
    */
  def q47TransitionMatrix(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val trans = ev
      .withColumn("to_type", lead("event_type", 1).over(w))
      .filter(col("to_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
    val fromTot = trans.groupBy("from_type").agg(sum("n").as("row_n"))
    trans.join(broadcast(fromTot), Seq("from_type"))
      .select(col("from_type"), col("to_type"), col("n"),
        round(col("n") / col("row_n"), 6).as("p"))
  }

  /** Ordered string aggregation (LISTAGG) — the reporting staple:
    * member names per group, deterministically ordered inside the
    * aggregate. Spark spells it collect_list → sort_array → array_join
    * (one hash agg; the per-group sort runs on group-sized arrays, never
    * a shuffle), the oracle as string_agg(... ORDER BY ...). Group
    * cardinality bounds memory — for unbounded groups the production
    * variants cap or top-k the membership first.
    */
  def q48StringAgg(s: SparkSession, dir: String): DataFrame = {
    val n = Tables.nation(s, dir)
    val r = Tables.region(s, dir)
    n.join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name")
      .agg(array_join(sort_array(collect_list(col("n_name"))), ",")
        .as("nations"), count(lit(1)).as("n_nations"))
  }

  /** Decile lift table — the model-evaluation staple for a scoring model
    * (here the LOO target encoder doubles as the "model"): rank rows by
    * prediction, cut into deciles, compare each decile's actual mean to
    * the population mean. The ntile needs a TOTAL order — at fixture
    * scale a single sort; at 100 TB the same query runs on a
    * range-partitioned sort (Spark's global orderBy already plans one)
    * or swaps the exact ntile for quantile-boundary bucketing via the
    * `exactQuantiles` kernel. Ties break on the key so both engines cut
    * identical deciles; DESC NULLS LAST is spelled on both sides
    * (engines disagree on DESC null placement by default).
    */
  /** Row count up to which the decile ranking runs as a plain
    * unpartitioned window (ntile over three narrow columns through one
    * task — the right plan while the scored frame is executor-sized);
    * past it, the rank reconstruction below keeps every stage parallel.
    */
  private val DecileWindowRowCap = 20000000L

  def q45DecileLift(s: SparkSession, dir: String,
                    windowRowCap: Long = DecileWindowRowCap): DataFrame = {
    val enc = Features.targetEncodeLoo(s, dir)
    val o = Tables.orders(s, dir).select("o_orderkey", "o_totalprice")
    val scored = enc.join(o, "o_orderkey")
    val overall = scored.agg(avg("o_totalprice").as("overall_avg"))
    // scored is 1:1 with orders (key-preserving broadcast-encode join),
    // so the regime picker is one parquet-metadata count, not a pass
    // over the scored frame
    if (Tables.orders(s, dir).count() <= windowRowCap) {
      return scored
        .withColumn("decile", ntile(10).over(
          Window.orderBy(col("loo_price").desc_nulls_last, col("o_orderkey"))))
        .groupBy("decile")
        .agg(count(lit(1)).as("n"),
          round(avg("o_totalprice"), 2).as("avg_actual"))
        .crossJoin(broadcast(overall))
        .select(col("decile"), col("n"), col("avg_actual"),
          round(col("avg_actual") / col("overall_avg"), 6).as("lift"))
    }
    // DISTRIBUTED exact ntile: `ntile(10) OVER (ORDER BY ...)` plans an
    // unpartitioned window — every row through ONE task, the classic
    // global-sort scale trap. Instead: range-partition on the sort key
    // (parallel local sorts), read each row's in-partition rank off
    // monotonically_increasing_id (partition-ordered by construction:
    // rank = id − (pid << 33), no window pass at all), then lift local
    // ranks to GLOBAL ranks with the per-partition size prefix sums —
    // partition-count-sized driver state, exact at any scale because the
    // global rank only depends on the total order, not on where the
    // sampled range boundaries fell. The ntile bucket is then pure
    // arithmetic on (rank, N): the first N%10 buckets take ⌈N/10⌉ rows.
    // AnalyticsOpsSpec pins both paths bucket-for-bucket on the same fixture.
    val ranked = scored
      .repartitionByRange(s.sparkContext.defaultParallelism,
        col("loo_price").desc_nulls_last, col("o_orderkey"))
      .sortWithinPartitions(col("loo_price").desc_nulls_last, col("o_orderkey"))
      .withColumn("mid", monotonically_increasing_id())
      .withColumn("pid", shiftright(col("mid"), 33).cast("int"))
      .withColumn("lrn", (col("mid") - shiftleft(shiftright(col("mid"), 33), 33)
        + lit(1L)).as("lrn"))
      .persist()
    try {
      val sizes = ranked.groupBy("pid").count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
      val n = sizes.map(_._2).sum
      val offsets = sizes.map(_._1).zip(
        sizes.map(_._2).scanLeft(0L)(_ + _).dropRight(1))
      val offDf = s.createDataFrame(offsets.toSeq)
        .toDF("pid", "off")
      val szSmall = n / 10
      val nBig = n % 10
      val bigSpan = (szSmall + 1) * nBig
      val decile = when(lit(szSmall) === 0L || col("rn") <= bigSpan,
        ceil(col("rn") / lit((szSmall + 1).toDouble)))
        .otherwise(lit(nBig) +
          ceil((col("rn") - lit(bigSpan)) / lit(szSmall.toDouble)))
        .cast("int")
      val out = ranked.join(broadcast(offDf), Seq("pid"))
        .withColumn("rn", col("lrn") + col("off"))
        .withColumn("decile", decile)
        .groupBy("decile")
        .agg(count(lit(1)).as("n"),
          round(avg("o_totalprice"), 2).as("avg_actual"))
        .crossJoin(broadcast(overall))
        .select(col("decile"), col("n"), col("avg_actual"),
          round(col("avg_actual") / col("overall_avg"), 6).as("lift"))
      CacheLifecycle.materialize(out)
    } finally ranked.unpersist(blocking = false)
  }

  /** Rolling 7-day distinct actives (the WAU curve) — distinct-count
    * over a sliding window, which no windowed aggregate computes exactly
    * (distinct does not decompose over frames). Distributed shape: the
    * contribute-to-window-ends trick — distinct (user, day) pairs each
    * EXPLODE to the `window` window-ends they fall inside, one more
    * distinct collapses multi-day users per end, one count per end. Two
    * hash shuffles and a ×window map-side fan-out of the already
    * day-compacted pairs — never a per-window re-scan, no window
    * function at all. The at-scale approximate alternative is one HLL
    * sketch per day merged over the frame (q20's sketch family).
    */
  def q44RollingDistinct(s: SparkSession, dir: String,
                         window: Int = 7): DataFrame = {
    val ev = Tables.events(s, dir)
    val ud = ev.select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    val bounds = ev.agg(to_date(max("ts")).as("dmax"))
    ud.select(col("user_id"),
        explode(sequence(col("day"), date_add(col("day"), window - 1)))
          .as("w_end"))
      .distinct()
      .crossJoin(broadcast(bounds))
      .filter(col("w_end") <= col("dmax"))
      .groupBy("w_end").agg(count(lit(1)).as("active_users"))
  }

  /** Cohort retention — the standard product-analytics matrix (cohort =
    * first-activity month, cell = distinct users active k months later,
    * retention = cell / cohort size). Distributed shape: first-activity
    * via one user-keyed min aggregate; active (user, month) pairs via one
    * distinct (both shuffle on user_id, so the join is co-partitioned —
    * no extra exchange under AQE); cohort sizes are a month-cardinality
    * aggregate broadcast back onto month-cardinality cells. No window,
    * no self-join of raw events.
    */
  def q42RetentionCohort(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val firstWeek = ev.groupBy("user_id")
      .agg(min(date_trunc("week", col("ts"))).as("cohort"))
    val cohortSizes = firstWeek.groupBy("cohort")
      .agg(count(lit(1)).as("cohort_size"))
    val active = ev.select(col("user_id"),
      date_trunc("week", col("ts")).as("act_week")).distinct()
    active.join(firstWeek, Seq("user_id"))
      .withColumn("week_offset",
        (datediff(col("act_week"), col("cohort")) / 7).cast("int"))
      .groupBy("cohort", "week_offset")
      .agg(countDistinct("user_id").as("n_active"))
      .join(broadcast(cohortSizes), Seq("cohort"))
      .select(col("cohort"), col("week_offset"), col("n_active"),
        round(col("n_active") / col("cohort_size"), 6).as("retention"))
  }

  /** Item co-occurrence with Jaccard association — the market-basket /
    * "users who did X also did Y" primitive over (user, event_type)
    * baskets. Distributed shape: distinct (user, item) pairs (one
    * shuffle), self-join CO-PARTITIONED on user_id with fan-out bounded
    * by per-user basket size squared, two-phase pair count, per-item
    * supports broadcast back. At web scale the standard lever applies
    * unchanged: cap or top-m-filter each user's basket before the
    * self-join (a 10⁶-item power user contributes noise, not signal).
    */
  def q43Cooccurrence(s: SparkSession, dir: String): DataFrame = {
    val ut = Tables.events(s, dir).select("user_id", "event_type").distinct()
    val ct = ut.groupBy("event_type").agg(count(lit(1)).as("c"))
    val co = ut.as("a").join(ut.as("b"), "user_id")
      .filter(col("a.event_type") < col("b.event_type"))
      .groupBy(col("a.event_type").as("type_a"),
        col("b.event_type").as("type_b"))
      .agg(count(lit(1)).as("n_users"))
    co.join(broadcast(ct.select(col("event_type").as("type_a"),
        col("c").as("ca"))), Seq("type_a"))
      .join(broadcast(ct.select(col("event_type").as("type_b"),
        col("c").as("cb"))), Seq("type_b"))
      .select(col("type_a"), col("type_b"), col("n_users"),
        round(col("n_users") / (col("ca") + col("cb") - col("n_users")), 6)
          .as("jaccard"))
  }

  /** Incremental view maintenance — the rollup-merge shape that keeps a
    * 100 TB materialized aggregate fresh without recompute: yesterday's
    * stored PARTIAL aggregate (sum, count per key — mergeable state, not
    * finalized averages) combines with the new delta slice's partial by
    * key-wise addition; finalizers (avg) run only on the merged state.
    * Here both partials derive from date slices of the same table and the
    * oracle is the full recompute — proving merge(base, delta) ≡
    * recompute(all), the invariant an IVM pipeline relies on. At scale
    * the base partial is read from the stored aggregate (keys × state
    * rows, no fact scan), so cost ∝ delta + key cardinality; sums and
    * counts merge associatively (map-side combinable), which is exactly
    * why the stored state holds (sum, count) and never avg.
    */
  def q39IncrementalRollup(s: SparkSession, dir: String,
                           cutoff: String = "1997-01-01"): DataFrame = {
    val o = Tables.orders(s, dir)
    def partial(df: DataFrame): DataFrame =
      df.groupBy(col("o_orderstatus"), year(col("o_orderdate")).as("yr"))
        .agg(sum("o_totalprice").as("s"), count(lit(1)).as("c"))
    val cut = lit(cutoff).cast("timestamp")
    val base = partial(o.filter(col("o_orderdate") < cut))
    val delta = partial(o.filter(col("o_orderdate") >= cut))
    base.unionByName(delta)
      .groupBy("o_orderstatus", "yr")
      .agg(round(sum("s"), 2).as("total_price"), sum("c").as("n_orders"))
      .withColumn("avg_price", round(col("total_price") / col("n_orders"), 4))
  }

  def q38Histogram(s: SparkSession, dir: String, nb: Int = 20): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val bounds = li.agg(min("l_extendedprice").as("lo"),
      max("l_extendedprice").as("hi"))
    // degenerate axis (all values equal → hi == lo) puts every row in
    // bucket 1 instead of dividing by zero (ANSI throws); the guard is
    // inert on any real spread and mirrored verbatim in the oracle
    li.crossJoin(broadcast(bounds))
      .select(col("l_returnflag"),
        least(floor(((col("l_extendedprice") - col("lo")) * nb.toDouble) /
          greatest(col("hi") - col("lo"), lit(1e-12))).cast("int") + 1,
          lit(nb)).as("bucket"),
        col("lo"), col("hi"))
      .groupBy("l_returnflag", "bucket")
      .agg(count(lit(1)).as("cnt"),
        round(first(col("lo")) + (col("bucket") - 1).cast("double") *
          ((first(col("hi")) - first(col("lo"))) / nb.toDouble), 4).as("bin_lo"))
  }

  /** Overlapping-interval coalescing (the "merge intervals" staple behind
    * availability windows, on-call coverage, and contiguous-usage
    * billing): each event opens an interval [ts, ts + ⌊value⌋ minutes];
    * intervals that overlap or touch a running interval of the same user
    * merge into one row with the event count.
    *
    * The classic prefix-max formulation: per user ordered by start, an
    * interval starts a new island iff its start exceeds the max end over
    * all PRECEDING intervals (an exclusive-window cummax — lag(end)
    * alone is wrong when an earlier interval outspans its successor),
    * island id = running sum of the flag. Both windows partition BY USER
    * — local sorts of per-user interval lists, never a global sort.
    * Arithmetic runs in epoch microseconds (exact longs, identical in
    * both engines); ⌊value⌋ sidesteps the engines' different
    * double→bigint cast rounding; (start, event_id) ordering pins ties.
    */
  def q52IntervalMerge(s: SparkSession, dir: String): DataFrame = {
    val iv = Tables.events(s, dir).select(
      col("user_id"), col("event_id"),
      unix_micros(col("ts")).as("s_us"),
      (unix_micros(col("ts")) +
        floor(col("value")).cast("long") * lit(60000000L)).as("e_us"))
    val w = Window.partitionBy("user_id").orderBy(col("s_us"), col("event_id"))
    iv
      .withColumn("prev_max",
        max("e_us").over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("new_i",
        when(col("prev_max").isNull || col("s_us") > col("prev_max"), 1)
          .otherwise(0))
      .withColumn("island",
        sum("new_i").over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("user_id", "island")
      .agg(timestamp_micros(min("s_us")).as("merged_start"),
        timestamp_micros(max("e_us")).as("merged_end"),
        count(lit(1)).as("n_events"))
      .select("user_id", "merged_start", "merged_end", "n_events")
  }

  /** Linear interpolation of the per-user value series onto a daily
    * grid — the time-series regularization step feeding forecasting /
    * feature pipelines (q37's resample does step-fill; this does the
    * two-sided linear blend).
    *
    * Union-marker formulation, one pass, no self-join: grid rows (null
    * value) union the events, then per user two IGNORE-NULLS edge
    * windows find the bracketing observations — prev = last non-null
    * value/ts at or before, next = first at or after. Interior grid
    * points interpolate vp + (vn−vp)·(g−tp)/(tn−tp) in epoch-micros
    * long arithmetic (double only for the final ratio); boundary grid
    * points (no bracket on one side) are dropped, and a tp=tn guard
    * avoids the ANSI division trap when the grid lands exactly on an
    * isolated observation. Order (ts, is_grid, event_id) pins which
    * observation brackets a coincident grid point in both engines.
    * Windows partition BY USER — local sorts; grid size is
    * users × days, metadata-scale next to the event table.
    */
  def q53Interpolate(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val obs = ev.select(col("user_id"), col("ts"), col("event_id"),
      col("value"), lit(0).as("is_grid"))
    val grid = ev.groupBy("user_id")
      .agg(min("ts").as("mn"), max("ts").as("mx"))
      .select(col("user_id"),
        explode(sequence(date_trunc("day", col("mn")), col("mx"),
          expr("INTERVAL 1 DAY"))).as("ts"))
      .select(col("user_id"), col("ts"), lit(-1L).as("event_id"),
        lit(null).cast("double").as("value"), lit(1).as("is_grid"))
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("is_grid"), col("event_id"))
    val wPrev = w.rowsBetween(Window.unboundedPreceding, 0)
    val wNext = w.rowsBetween(0, Window.unboundedFollowing)
    obs.unionByName(grid)
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("vp", last("value", ignoreNulls = true).over(wPrev))
      .withColumn("tp", last(when(col("value").isNotNull, col("us")),
        ignoreNulls = true).over(wPrev))
      .withColumn("vn", first("value", ignoreNulls = true).over(wNext))
      .withColumn("tn", first(when(col("value").isNotNull, col("us")),
        ignoreNulls = true).over(wNext))
      .filter(col("is_grid") === 1 &&
        col("vp").isNotNull && col("vn").isNotNull)
      .select(col("user_id"), col("ts").as("grid_ts"),
        round(when(col("tn") === col("tp"), col("vp"))
          .otherwise(col("vp") + (col("vn") - col("vp")) *
            ((col("us") - col("tp")).cast("double") /
              (col("tn") - col("tp")).cast("double"))), 6).as("ivalue"))
  }

  /** Grouped distinct-user estimates via the custom [[graft.expressions.HllAgg]]
    * HyperLogLog aggregate — the sketch path for COUNT(DISTINCT) at
    * 100 TB: exact distinct shuffles every distinct (group, element)
    * pair, the sketch ships one 4 KiB register array per (partition,
    * group) and merges by elementwise max. The estimate is deterministic
    * for a fixed input set, so HllSpec pins it against the exact count
    * per group (≤5% relative error at p=12); no SQL engine can replay
    * the registers → rows-only driver check by design, with
    * `q20_approx_agg` covering the built-in HLL++ variant.
    */
  def sketchHllUsers(s: SparkSession, dir: String): DataFrame = {
    Tables.events(s, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(graft.expressions.HllAgg.hll(col("user_id")).as("n_users_est"),
        count(lit(1)).as("n_events"))
  }

  /** Salted skew join — the hot-key mitigation every 100 TB fact⋈dim
    * enrichment eventually needs, with the RESULT-EQUALITY contract
    * that makes it safe: per-user stats (the dim, key-cardinality-
    * sized) are replicated `salts` times, the fact side picks a salt
    * deterministically (event_id mod salts), and the join runs on
    * (user_id, salt) — so one hot user's rows spread over `salts`
    * shuffle partitions instead of one. The plain unsalted join is the
    * oracle: salting must be invisible in the output (here, per-type
    * deviation-from-user-mean aggregates). SHUFFLE_HASH hint keeps the
    * demo honest locally (Catalyst would otherwise broadcast the small
    * fixture dim — at which point no salt is needed; at real scale the
    * dim outgrows broadcast and this is the exact shape deployed).
    */
  def q54SkewJoinSalted(s: SparkSession, dir: String,
                        salts: Int = 8): DataFrame = {
    val ev = Tables.events(s, dir)
    val dim = ev.groupBy("user_id")
      .agg(avg("value").as("user_mean"), count(lit(1)).as("user_n"))
      .crossJoin(broadcast(
        s.range(salts).select(col("id").cast("int").as("salt"))))
    val fact = ev.select(col("user_id"), col("event_type"), col("value"),
      pmod(col("event_id"), lit(salts)).cast("int").as("salt"))
    fact.join(dim.hint("shuffle_hash"), Seq("user_id", "salt"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        round(avg(col("value") - col("user_mean")), 6).as("avg_dev"),
        round(max(abs(col("value") - col("user_mean"))), 6).as("max_dev"))
  }

  /** Runtime bloom-filter pruning (Spark's InjectRuntimeFilter rule, the
    * "sideways information passing" 100 TB lever): a selective dim-side
    * predicate is compiled into a bloom filter at runtime and pushed
    * into the FACT scan as `bloom_filter_might_contain`, so fact rows
    * that cannot join are dropped BEFORE the shuffle — the regime where
    * the filtered dim is past broadcast size but its join-key set fits a
    * few MB of bloom bits. The fixture sits under the production
    * thresholds, so the operator scopes the threshold confs to its own
    * execution (flip → materialize → restore): `autoBroadcastJoinThreshold
    * = -1` puts the join in the shuffle regime the feature targets, and
    * the application-side size floor drops to 0. The bloom is a superset
    * filter — the join still decides — so the result is identical with
    * or without the injection (the oracle is the plain join), and
    * PlanSpec pins that the injection actually happened.
    */
  def q55RuntimeFilter(s: SparkSession, dir: String): DataFrame = {
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> s.conf.getOption(k) }
    try {
      confs.foreach { case (k, v) => s.conf.set(k, v) }
      q55RuntimeFilterPlan(s, dir).localCheckpoint(true)
    } finally saved.foreach { case (k, v) =>
      v.fold(s.conf.unset(k))(s.conf.set(k, _)) }
  }

  /** Marketing-touch attribution — first/last-touch within a lookback
    * window, the event-analytics staple: for every purchase, the
    * earliest and latest 'click' by the same user in the 7 days strictly
    * before it, plus the click count. ONE range-frame window pass per
    * user (epoch-micros long order key, RANGE [−7d, −1µs]) — no
    * self-join, no per-purchase probe: the window frame IS the as-of
    * lookup, shared across every purchase of the user, and partitions
    * are per-user local sorts that scale with the user's history, never
    * the corpus. Unattributed purchases keep NULL touches (the honest
    * output — dropping them would hide funnel leakage).
    */
  def q56Attribution(s: SparkSession, dir: String,
                     lookbackDays: Int = 7): DataFrame = {
    val lookbackUs = lookbackDays * 86400000000L
    val ev = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
    val w = Window.partitionBy("user_id").orderBy("us")
      .rangeBetween(-lookbackUs, -1L)
    val isClick = col("event_type") === "click"
    ev
      .withColumn("first_click_us", min(when(isClick, col("us"))).over(w))
      .withColumn("last_click_us", max(when(isClick, col("us"))).over(w))
      .withColumn("n_clicks", count(when(isClick, lit(1))).over(w))
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        timestamp_micros(col("us")).as("purchase_ts"),
        timestamp_micros(col("first_click_us")).as("first_touch_ts"),
        timestamp_micros(col("last_click_us")).as("last_touch_ts"),
        col("n_clicks"))
  }

  /** Classic warehouse shipping-priority query (the TPC-H Q3 shape):
    * segment-filtered customers ⋈ date-bounded orders ⋈ not-yet-shipped
    * lineitems, revenue per open order, top 10. The scale shape: both
    * dim-side filters push to the scans, customer broadcast-prunes
    * orders, the orders⋈lineitem join shuffles only date-surviving
    * rows, and the top-10 is TakeOrdered — no global sort. Revenue is
    * rounded BEFORE ranking so both engines rank identical doubles.
    */
  def q59ShippingPriority(s: SparkSession, dir: String,
                          cutoff: String = "1998-06-01"): DataFrame = {
    val cust = Tables.customer(s, dir)
      .filter(col("c_mktsegment") === "BUILDING")
      .select("c_custkey")
    val ord = Tables.orders(s, dir)
      .filter(col("o_orderdate").cast("date") < lit(cutoff).cast("date"))
      .select("o_orderkey", "o_custkey", "o_orderdate")
    val li = Tables.lineitem(s, dir)
      .filter(col("l_shipdate").cast("date") > lit(cutoff).cast("date"))
      .select("l_orderkey", "l_extendedprice", "l_discount")
    ord.join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(li, col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"))
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
        .as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  /** Local-supplier volume (the TPC-H Q5 shape): the six-table join —
    * region-filtered nations, customers and suppliers CO-LOCATED in the
    * same nation (the c_nationkey = s_nationkey residual), orders in a
    * date year, revenue per nation. All four dimension sides broadcast;
    * the only shuffled join is orders ⋈ lineitem on the order key, and
    * the residual nation-equality predicate rides the join instead of a
    * second shuffle.
    */
  def q60LocalSupplier(s: SparkSession, dir: String,
                       region: String = "ASIA", orderYear: Int = 1997): DataFrame = {
    val nations = Tables.nation(s, dir)
      .join(broadcast(Tables.region(s, dir)),
        col("n_regionkey") === col("r_regionkey"))
      .filter(col("r_name") === region)
      .select("n_nationkey", "n_name")
    val cust = Tables.customer(s, dir)
      .join(broadcast(nations), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_nationkey"), col("n_name"))
    val supp = Tables.supplier(s, dir).select("s_suppkey", "s_nationkey")
    val ord = Tables.orders(s, dir)
      .filter(year(col("o_orderdate")) === orderYear)
      .select("o_orderkey", "o_custkey")
    val li = Tables.lineitem(s, dir)
      .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
    ord.join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(li, col("o_orderkey") === col("l_orderkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .filter(col("c_nationkey") === col("s_nationkey"))
      .groupBy(col("n_name"))
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
        .as("revenue"),
        count(lit(1)).as("n_lines"))
  }

  /** Grouped statistical mode via the custom one-pass `graft_mode`
    * aggregate (count desc, value asc tie-break): the modal account-
    * balance band per market segment + nation. The composed SQL form is
    * two stacked aggregations (count per (group, value), then ranked
    * argmax); the custom aggregate carries a value→count map through
    * map-side partials and resolves the plurality in ONE exchange —
    * state bounded by the group's distinct-value count (bands here,
    * neighbor labels in `graph_label_prop` — the same expression).
    */
  def q58GroupMode(s: SparkSession, dir: String): DataFrame = {
    Tables.customer(s, dir)
      .select(col("c_mktsegment"), col("c_nationkey"),
        floor(col("c_acctbal") / 1000.0).cast("long").as("band"))
      .groupBy("c_mktsegment", "c_nationkey")
      .agg(graft.expressions.ModeAgg.mode(col("band")).as("modal_band"),
        count(lit(1)).as("n_customers"))
  }

  /** Exact cohort overlap via bitmap indexes — the precomputed-audience
    * pattern (`expressions/BitmapAgg`): ONE fact scan materializes each
    * segment's member-id set as a canonical sorted bitmap (map-side
    * union partials, one set per group crosses the wire), then every
    * pairwise overlap / Jaccard answers by a sorted-merge walk over two
    * artifacts — segment-pair count × O(|A|+|B|), ZERO further fact
    * scans. The naive form re-shuffles the fact table per question;
    * at 100 TB the bitmaps are the queryable index and this plan is the
    * nightly build + the whole query family.
    */
  def q57BitmapCohorts(s: SparkSession, dir: String): DataFrame = {
    val bms = Tables.events(s, dir)
      .groupBy("event_type")
      .agg(graft.expressions.BitmapAgg.bitmap(col("user_id")).as("bm"))
    val interCount = udf { (a: Array[Byte], b: Array[Byte]) =>
      graft.expressions.BitmapAgg.intersectCount(a, b) }
    val card = udf { (a: Array[Byte]) =>
      graft.expressions.BitmapAgg.cardinality(a) }
    bms.as("a").join(bms.as("b"),
        col("a.event_type") < col("b.event_type"))
      .select(col("a.event_type").as("type_a"),
        col("b.event_type").as("type_b"),
        interCount(col("a.bm"), col("b.bm")).as("n_common"),
        card(col("a.bm")).as("n_a"), card(col("b.bm")).as("n_b"))
      .withColumn("jaccard", round(col("n_common") /
        (col("n_a") + col("n_b") - col("n_common")).cast("double"), 6))
  }

  /** Lazy plan for [[q55RuntimeFilter]] — built (and PlanSpec-inspected)
    * under whatever runtime-filter confs the caller holds.
    */
  private[graft] def q55RuntimeFilterPlan(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"))
    Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_partkey"), col("l_extendedprice"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_partkey"))
      .agg(count(lit(1)).as("n_lines"),
        round(sum(col("l_extendedprice")), 2).as("rev"))
  }

  /** National market share (the TPC-H Q8 shape): within one region's
    * customer market and one part type, what fraction of revenue per
    * order-year is supplied from one target nation. Two DISTINCT nation
    * roles join the same dimension — the customer side restricts
    * membership (region filter), the supplier side labels each line with
    * its selling nation. Every dimension (part-type subset, region
    * nations, suppliers, region customers) broadcasts; the only shuffled
    * join is the orders ⋈ lineitem spine, and the share arithmetic is a
    * conditional sum inside ONE aggregate — no second pass over the
    * facts. Both sums round before dividing so the share is a ratio of
    * the same doubles the oracle ranks.
    */
  def q61MarketShare(s: SparkSession, dir: String, region: String = "AMERICA",
                     targetNation: String = "NATION_1",
                     pType: String = "PROMO"): DataFrame = {
    val regionNations = Tables.nation(s, dir)
      .join(broadcast(Tables.region(s, dir).filter(col("r_name") === region)),
        col("n_regionkey") === col("r_regionkey"))
      .select("n_nationkey")
    val cust = Tables.customer(s, dir)
      .join(broadcast(regionNations), col("c_nationkey") === col("n_nationkey"))
      .select("c_custkey")
    val supp = Tables.supplier(s, dir)
      .join(broadcast(Tables.nation(s, dir)
        .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))),
        col("s_nationkey") === col("sn_key"))
      .select("s_suppkey", "supp_nation")
    val typedParts = Tables.part(s, dir)
      .filter(col("p_type") === pType).select("p_partkey")
    val li = Tables.lineitem(s, dir)
      .join(broadcast(typedParts), col("l_partkey") === col("p_partkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .select(col("l_orderkey"), col("supp_nation"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev"))
    Tables.orders(s, dir)
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), year(col("o_orderdate")).as("o_year"))
      .join(li, col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_year"))
      .agg(
        round(sum(when(col("supp_nation") === targetNation, col("rev"))
          .otherwise(lit(0.0))), 2).as("nation_rev"),
        round(sum(col("rev")), 2).as("total_rev"))
      .withColumn("mkt_share",
        round(col("nation_rev") / col("total_rev"), 6))
  }

  /** Large-volume customers (the TPC-H Q18 shape): orders whose total
    * line quantity exceeds a threshold, with their customer and order
    * detail. The having-subquery decorrelates into ONE grouped pass over
    * lineitem; the surviving order keys are a tiny fraction (threshold
    * sits past the 99th percentile of order quantity), so they BROADCAST
    * back into orders — the fact table is never shuffled on a key it
    * already aggregated on. Top-100 by order value is TakeOrdered, no
    * global sort.
    */
  def q62BigSpenders(s: SparkSession, dir: String,
                     minQty: Double = 250.0): DataFrame = {
    val bigOrders = Tables.lineitem(s, dir)
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity")).as("total_qty"))
      .filter(col("total_qty") > minQty)
    Tables.orders(s, dir)
      .join(broadcast(bigOrders), col("o_orderkey") === col("l_orderkey"))
      .join(broadcast(Tables.customer(s, dir).select("c_custkey", "c_name")),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        col("o_orderdate"), col("o_totalprice"), col("total_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(100)
  }

  /** Returned-item revenue report (the TPC-H Q10 shape): customers
    * ranked by revenue lost to returns in one order quarter. The date
    * predicate pushes to the orders scan and the return-flag predicate
    * to the lineitem scan BEFORE the spine join; customer and nation
    * broadcast onto the aggregated result (group keys carry the
    * customer attributes, so the dimension join happens once per
    * customer, not once per line). Top-20 is TakeOrdered.
    */
  def q63ReturnedItems(s: SparkSession, dir: String,
                       qStart: String = "1997-01-01",
                       qEnd: String = "1997-04-01"): DataFrame = {
    val ord = Tables.orders(s, dir)
      .filter(col("o_orderdate").cast("date") >= lit(qStart).cast("date") &&
        col("o_orderdate").cast("date") < lit(qEnd).cast("date"))
      .select("o_orderkey", "o_custkey")
    val li = Tables.lineitem(s, dir)
      .filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev"))
    val custNation = Tables.customer(s, dir)
      .join(broadcast(Tables.nation(s, dir)),
        col("c_nationkey") === col("n_nationkey"))
      .select("c_custkey", "c_name", "c_acctbal", "n_name")
    ord.join(li, col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_custkey"))
      .agg(round(sum(col("rev")), 2).as("revenue"))
      .join(broadcast(custNation), col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"),
        col("n_name"), col("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }

  /** Small-quantity-order revenue (the TPC-H Q17 shape): revenue that
    * would vanish if orders below half a part's average quantity were
    * refused, for one brand. The correlated scalar subquery
    * (avg quantity of the SAME part) decorrelates into a per-part
    * window aggregate over the brand-filtered lines: ONE fact scan, one
    * shuffle of only the brand's ~4% of lines, average and comparison
    * resolved inside the window pass — the join-back form would scan
    * the fact table twice for nothing. Single-row output.
    */
  def q64SmallQtyRevenue(s: SparkSession, dir: String,
                         brand: String = "Brand#9"): DataFrame = {
    val brandParts = Tables.part(s, dir)
      .filter(col("p_brand") === brand).select("p_partkey")
    val li = Tables.lineitem(s, dir)
      .join(broadcast(brandParts), col("l_partkey") === col("p_partkey"))
      .select("l_partkey", "l_quantity", "l_extendedprice")
    val w = Window.partitionBy("l_partkey")
    li.withColumn("avg_qty", avg(col("l_quantity")).over(w))
      .filter(col("l_quantity") < lit(0.5) * col("avg_qty"))
      .agg(round(sum(col("l_extendedprice")) / 7.0, 2).as("avg_yearly"))
  }

  /** Bilateral trade volume (the TPC-H Q7 shape): revenue shipped
    * between two named nations, per (supplier nation, customer nation,
    * ship year) — both directions, never domestic. The two nation roles
    * broadcast onto supplier and (through orders) customer; the spine
    * orders ⋈ lineitem join is the only shuffle; the cross-direction
    * predicate ((n1,n2) or (n2,n1)) rides the final projection as a
    * codegen'd filter on two broadcast-resolved name columns.
    */
  def q67TradeVolume(s: SparkSession, dir: String,
                     nationA: String = "NATION_13",
                     nationB: String = "NATION_19"): DataFrame = {
    val nations = Tables.nation(s, dir)
      .filter(col("n_name").isin(nationA, nationB))
    val supp = Tables.supplier(s, dir)
      .join(broadcast(nations.select(col("n_nationkey").as("sk"),
        col("n_name").as("supp_nation"))), col("s_nationkey") === col("sk"))
      .select("s_suppkey", "supp_nation")
    val cust = Tables.customer(s, dir)
      .join(broadcast(nations.select(col("n_nationkey").as("ck"),
        col("n_name").as("cust_nation"))), col("c_nationkey") === col("ck"))
      .select("c_custkey", "cust_nation")
    val ord = Tables.orders(s, dir)
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .select("o_orderkey", "cust_nation")
    Tables.lineitem(s, dir)
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .filter(col("supp_nation") =!= col("cust_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).as("ship_year"))
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
        .as("revenue"),
        count(lit(1)).as("n_lines"))
  }

  /** Order-priority audit (the TPC-H Q4 shape, adapted to the fixture's
    * columns): orders in one quarter that had at least one LATE shipment
    * (a lineitem shipped more than `lateDays` past the order date),
    * counted per priority. The EXISTS correlated subquery decorrelates
    * into a LEFT SEMI join — the fact side contributes each order ONCE
    * no matter how many lines are late, the date predicate rides the
    * join as a residual (never a second shuffle), and the quarter
    * filter pushes to the orders scan before anything joins.
    */
  def q66OrderPriority(s: SparkSession, dir: String,
                       qStart: String = "1997-01-01",
                       qEnd: String = "1997-04-01",
                       lateDays: Int = 60): DataFrame = {
    val ord = Tables.orders(s, dir)
      .filter(col("o_orderdate").cast("date") >= lit(qStart).cast("date") &&
        col("o_orderdate").cast("date") < lit(qEnd).cast("date"))
      .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    val li = Tables.lineitem(s, dir).select("l_orderkey", "l_shipdate")
    ord.join(li,
        col("o_orderkey") === col("l_orderkey") &&
          col("l_shipdate").cast("date") >
            date_add(col("o_orderdate").cast("date"), lateDays),
        "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_late_orders"))
  }

  /** Top supplier by quarter revenue (the TPC-H Q15 shape): the
    * supplier(s) achieving the maximum revenue in a ship-date window.
    * The scalar max-of-aggregate subquery becomes: one grouped pass
    * over the date-pruned lines (supplier-count-sized result), a
    * single-row max aggregate, and a broadcast equality join of the two
    * — revenue is rounded BEFORE the max/compare so both engines
    * equality-match the same doubles. No window over a global sort.
    */
  def q65TopSupplier(s: SparkSession, dir: String,
                     qStart: String = "1997-01-01",
                     qEnd: String = "1997-04-01"): DataFrame = {
    val rev = Tables.lineitem(s, dir)
      .filter(col("l_shipdate").cast("date") >= lit(qStart).cast("date") &&
        col("l_shipdate").cast("date") < lit(qEnd).cast("date"))
      .groupBy(col("l_suppkey"))
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
        .as("total_rev"))
    val maxRev = rev.agg(max(col("total_rev")).as("max_rev"))
    rev.join(broadcast(maxRev), col("total_rev") === col("max_rev"))
      .join(broadcast(Tables.supplier(s, dir).select("s_suppkey", "s_name")),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("total_rev"))
      .orderBy(col("s_suppkey"))
  }
}
