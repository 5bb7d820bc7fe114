package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, translate, upper}

import graft.Oracle.{RowsOnly, Sql}
import graft.operators.{DataQuality, Dedup, Drift, Features, Governance, Graph, Lake, Layout,
  Linkage, Multimodal, Relational, Similarity, Sketches, TextOps}
import graft.streaming.{Sessionize, StreamOps}

/** The query contract — see SURVEY.md §7.
  *
  * `entries` is the one query registry: each entry is one operator of
  * SURVEY.md §2 (or a training-data-pipeline extension), expressed as
  * a declarative Spark plan on the fixture tables (FIXTURES.md), with its
  * oracle decision — DuckDB-equivalent SQL (identical column names and
  * rounding on both sides), or rows-only with the reason no SQL engine can
  * replay the result. `queries` and `oracleSql` are views of it.
  */
object SparkEntry {

  /** Flagship query on sf=0.001; driver smoke-checks rows>0.
    * orders left-joined with per-order lineitem aggregates (J1 shape).
    */
  def entry(spark: SparkSession): DataFrame =
    Relational.q06JoinAgg(spark, "/root/testdata/sf0.001")

  val entries: Seq[Entry] = Seq(
    // ---- relational: TPC-H and events SQL, sketches, governance, data quality ----
    Entry("q01_group_count", Family.Relational, Relational.q01GroupCount _, Sql(
      "SELECT event_type, count(*) AS cnt FROM events GROUP BY event_type")),
    Entry("q02_group_avg", Family.Relational, Relational.q02GroupAvg _, Sql(
      "SELECT o_orderstatus, round(avg(o_totalprice), 4) AS avg_total FROM orders GROUP BY o_orderstatus")),
    Entry("q03_group_year", Family.Relational, Relational.q03GroupYear _, Sql(
      "SELECT o_custkey, CAST(year(o_orderdate) AS INTEGER) AS o_year, count(*) AS cnt FROM orders GROUP BY 1, 2")),
    Entry("q04_group3_sort", Family.Relational, Relational.q04Group3KeySort _, Sql(
      """SELECT l_returnflag, CAST(year(l_shipdate) AS INTEGER) AS ship_year,
        |CAST(trunc(l_quantity) AS BIGINT) AS qty_b, count(*) AS cnt
        |FROM lineitem GROUP BY 1, 2, 3 ORDER BY ship_year ASC, cnt DESC""".stripMargin)),
    Entry("q05_multi_agg_skew", Family.Relational, Relational.q05MultiAggSkew _, Sql(
      """SELECT l_suppkey, min(l_extendedprice) AS min_price, max(l_extendedprice) AS max_price,
        |round(avg(l_extendedprice), 4) AS avg_price, round(sum(l_extendedprice), 2) AS sum_price,
        |round(sum(l_quantity), 2) AS sum_qty, round(avg(l_discount), 6) AS avg_disc,
        |round(skewness(l_extendedprice), 6) AS skew_price, count(*) AS cnt
        |FROM lineitem GROUP BY 1""".stripMargin)),
    Entry("q06_join_agg", Family.Relational, Relational.q06JoinAgg _, Sql(
      """SELECT o.o_orderkey, o.o_orderstatus, l.revenue, l.n_items
        |FROM orders o LEFT JOIN (
        |  SELECT l_orderkey, round(sum(l_extendedprice), 2) AS revenue, count(*) AS n_items
        |  FROM lineitem GROUP BY 1) l
        |ON o.o_orderkey = l.l_orderkey""".stripMargin)),
    Entry("q07_filter_conj", Family.Relational, Relational.q07FilterConj _, Sql(
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_shipdate FROM lineitem
        |WHERE l_quantity > 1 AND l_quantity < 50 AND l_extendedprice >= 1000 AND l_extendedprice <= 90000
        |AND l_discount >= 0.0 AND l_discount <= 0.1 AND l_tax <= 0.08
        |AND (l_quantity <= 45 OR l_extendedprice >= 5000)
        |AND l_shipdate > TIMESTAMP '1995-06-01 00:00:00' AND l_linenumber < 7
        |AND l_extendedprice > l_quantity * l_discount * 100""".stripMargin)),
    Entry("q08_derived_cols", Family.Relational, Relational.q08DerivedCols _, Sql(
      """SELECT event_id, CAST(year(ts) AS INTEGER) AS y, CAST(day(ts) AS INTEGER) AS dom,
        |CAST(floor(epoch(ts)) AS BIGINT) AS epoch_s, CAST(floor(value / 0.01) AS BIGINT) AS v_cell,
        |round(sqrt(value), 6) AS sqrt_v, round(value * value, 4) AS v_sq,
        |round(value * 2 - 1, 2) AS v_lin, coalesce(props, '-1') AS props_filled
        |FROM events""".stripMargin)),
    Entry("q09_union_all", Family.Relational, Relational.q09Union _, Sql(
      """WITH u AS (SELECT * FROM events WHERE value < 100
        |UNION ALL SELECT * FROM events WHERE value >= 400)
        |SELECT event_type, count(*) AS cnt, round(sum(value), 2) AS sum_v FROM u GROUP BY 1""".stripMargin)),
    Entry("q10_distinct_sort", Family.Relational, Relational.q10DistinctSort _, Sql(
      "SELECT DISTINCT lang FROM documents ORDER BY lang")),
    Entry("q11_pivot", Family.Relational, Relational.q11Pivot _, Sql(
      """SELECT user_id,
        |count(*) FILTER (WHERE event_type = 'click') AS click,
        |count(*) FILTER (WHERE event_type = 'error') AS error,
        |count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
        |count(*) FILTER (WHERE event_type = 'signup') AS signup,
        |count(*) FILTER (WHERE event_type = 'view') AS view
        |FROM events GROUP BY 1""".stripMargin)),
    Entry("q12_topk", Family.Relational, Relational.q12TopK _, Sql(
      "SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10")),
    Entry("q68_window_topk", Family.Relational, Relational.q68WindowTopK(_, _), Sql(windowTopKSql)),
    Entry("q68_window_topk_native", Family.Relational, Relational.q68WindowTopKNative(_, _),
      Sql(windowTopKSql)),
    Entry("q13_offset", Family.Relational, Relational.q13Offset _, Sql(
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |ORDER BY l_orderkey, l_linenumber LIMIT 500 OFFSET 1000""".stripMargin)),
    Entry("q14_dedup_exact", Family.Relational, Relational.q14DedupExact _, Sql(
      """SELECT user_id, event_type, min(event_id) AS first_event, count(*) AS n_dupes
        |FROM events GROUP BY 1, 2""".stripMargin)),
    Entry("q15_window_funcs", Family.Relational, Relational.q15WindowFuncs _, Sql(
      """SELECT event_id, user_id,
        |row_number() OVER win AS rn,
        |round(lag(value) OVER win, 2) AS prev_v,
        |round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_v
        |FROM events WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id)""".stripMargin)),
    Entry("q16_split_agg", Family.Relational, Relational.q16SplitAgg _, Sql(
      """WITH base AS (SELECT *, CAST(day(ts) AS INTEGER) AS dom FROM events WHERE value > 0),
        |t AS (SELECT event_type, count(*) AS n_train, round(avg(value), 4) AS avg_train
        |      FROM base WHERE dom < 25 GROUP BY 1),
        |v AS (SELECT event_type, count(*) AS n_test, round(avg(value), 4) AS avg_test
        |      FROM base WHERE dom >= 25 GROUP BY 1)
        |SELECT coalesce(t.event_type, v.event_type) AS event_type, n_train, avg_train, n_test, avg_test
        |FROM t FULL OUTER JOIN v ON t.event_type = v.event_type""".stripMargin)),
    Entry("q18_json_extract", Family.Relational, Relational.q18JsonExtract _, Sql(
      """SELECT event_id, CAST(json_extract(props, '$.k') AS INTEGER) AS k,
        |regexp_extract(props, '\d+', 0) AS k_str FROM events""".stripMargin)),
    Entry("q21_date_funcs", Family.Relational, Relational.q21DateFuncs _, Sql(
      """SELECT o_orderkey,
        |CAST(datediff('day', DATE '1995-01-01', o_orderdate) AS INTEGER) AS days_since,
        |(o_orderdate + INTERVAL 1 MONTH)::DATE AS next_month,
        |last_day(o_orderdate::DATE) AS month_end,
        |date_trunc('month', o_orderdate)::DATE AS month_start,
        |CAST(isodow(o_orderdate) - 1 AS INTEGER) AS wd
        |FROM orders""".stripMargin)),
    Entry("q22_setops", Family.Relational, Relational.q22SetOps _, Sql(
      """SELECT user_id, dom FROM (
        |  SELECT user_id, CAST(day(ts) AS INTEGER) AS dom FROM events WHERE event_type = 'click'
        |  INTERSECT
        |  SELECT user_id, CAST(day(ts) AS INTEGER) FROM events WHERE event_type = 'purchase')
        |EXCEPT
        |SELECT user_id, CAST(day(ts) AS INTEGER) FROM events WHERE event_type = 'error'""".stripMargin)),
    Entry("q23_rollup", Family.Relational, Relational.q23Rollup _, Sql(
      """SELECT event_type, CAST(day(ts) AS INTEGER) AS dom,
        |count(*) AS cnt, round(sum(value), 2) AS sum_v
        |FROM events GROUP BY ROLLUP(event_type, CAST(day(ts) AS INTEGER))""".stripMargin)),
    Entry("q19_percentiles", Family.Relational, Relational.q19Percentiles _, Sql(
      """SELECT event_type, round(quantile_cont(value, 0.5), 4) AS p50,
        |round(quantile_cont(value, 0.95), 4) AS p95,
        |count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY 1""".stripMargin)),
    Entry("q20_approx_agg", Family.Relational, Relational.q20ApproxAgg _,
      RowsOnly("HLL++ and percentile_approx answers are Spark's own approximations; " +
        "OperatorSpec pins them within tolerance of the exact values")),
    // the asof oracle is DuckDB's NATIVE ASOF JOIN — an independent
    // implementation of the same semantics, not a transcription of ours
    Entry("q24_asof_join", Family.Relational, Relational.q24AsofJoin _, Sql(asofBackwardSql)),
    // the NATIVE-operator twin (graft.plans.AsOfJoinExec) answers the
    // identical question — same independent DuckDB ASOF JOIN oracle
    Entry("q24_asof_join_native", Family.Relational, Relational.q24AsofJoinNative _,
      Sql(asofBackwardSql)),
    // forward direction: the SAME independent ASOF oracle with the
    // inequality flipped (earliest click at-or-after each error)
    Entry("q24_asof_join_forward", Family.Relational, Relational.q24AsofJoinForward _, Sql(
      """WITH c0 AS (SELECT user_id, ts, max(event_id) AS click_id FROM events
        |            WHERE event_type = 'click' GROUP BY 1, 2),
        |c AS (SELECT c0.user_id, c0.ts, c0.click_id, e.value AS click_value
        |      FROM c0 JOIN events e ON e.event_id = c0.click_id),
        |err AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'error')
        |SELECT err.event_id, err.user_id, c.click_id, c.ts AS click_ts, c.click_value
        |FROM err ASOF LEFT JOIN c ON err.user_id = c.user_id AND err.ts <= c.ts""".stripMargin)),
    // the headline range join runs the linear prefix-sum form; the
    // match-materializing binned equi-join is its own entry, out of Bench's
    // default sweep: its cost is Θ(matches) by construction, a negative
    // exemplar whose aggregate question the prefix form answers linearly.
    // Verify still checks it; SPARK_GRAFT_QUERIES naming it (or `all`)
    // benches it.
    Entry("q25_range_join", Family.Relational, Relational.q25RangeJoinPrefix _, Sql(rangeJoinSql)),
    Entry("q25_range_join_binned", Family.Relational, Relational.q25RangeJoin(_, _),
      Sql(rangeJoinSql), inDefaultSweep = false),
    Entry("q26_dim_join", Family.Relational, Relational.q26DimJoin _, Sql(
      """SELECT r_name, n_name, count(*) AS n_customers,
        |round(sum(c_acctbal), 2) AS sum_acctbal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1, 2""".stripMargin)),
    Entry("q27_semi_anti_join", Family.Relational, Relational.q27SemiAntiJoin _, Sql(
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem WHERE l_quantity >= 45)
        |AND o_custkey NOT IN (SELECT c_custkey FROM customer WHERE c_acctbal < 0)""".stripMargin)),
    Entry("q28_cube", Family.Relational, Relational.q28Cube _, Sql(
      """SELECT event_type, CAST(day(ts) AS INTEGER) AS dom,
        |count(*) AS cnt, round(sum(value), 2) AS sum_v
        |FROM events GROUP BY CUBE(event_type, CAST(day(ts) AS INTEGER))""".stripMargin)),
    Entry("q32_grouping_sets", Family.Relational, Relational.q32GroupingSets _, Sql(
      """SELECT event_type, CAST(day(ts) AS INTEGER) AS dom,
        |CAST(grouping(event_type) * 2 + grouping(CAST(day(ts) AS INTEGER)) AS INTEGER) AS gid,
        |count(*) AS cnt, round(sum(value), 2) AS sum_v
        |FROM events
        |GROUP BY GROUPING SETS ((event_type, CAST(day(ts) AS INTEGER)), (event_type), (CAST(day(ts) AS INTEGER)))""".stripMargin)),
    Entry("q29_window_ranks", Family.Relational, Relational.q29WindowRanks _, Sql(
      """SELECT event_id, event_type,
        |CAST(rank() OVER win AS INTEGER) AS rnk,
        |CAST(dense_rank() OVER win AS INTEGER) AS drnk,
        |CAST(ntile(4) OVER win AS INTEGER) AS quartile,
        |round(cume_dist() OVER win, 6) AS cd,
        |lead(value) OVER win AS next_v
        |FROM events WINDOW win AS (PARTITION BY event_type ORDER BY value, event_id)""".stripMargin)),
    // sliding windows: each event belongs to the two 1h windows whose
    // starts are the two preceding 30-min grid points (g and g − 30 min,
    // g = ts floored to the 30-min grid)
    Entry("q31_sliding_window", Family.Relational, Relational.q31SlidingWindow _, Sql(
      """WITH x AS (SELECT event_type, value, ts,
        |  date_trunc('hour', ts) + (CASE WHEN minute(ts) >= 30
        |    THEN INTERVAL 30 MINUTE ELSE INTERVAL 0 MINUTE END) AS g
        |  FROM events),
        |u AS (SELECT event_type, value, ts,
        |      UNNEST([g, g - INTERVAL 30 MINUTE]) AS win_start FROM x)
        |SELECT win_start, event_type, count(*) AS cnt, round(sum(value), 2) AS sum_v
        |FROM u WHERE ts >= win_start AND ts < win_start + INTERVAL 1 HOUR
        |GROUP BY 1, 2""".stripMargin)),
    Entry("q30_string_funcs", Family.Relational, Relational.q30StringFuncs _, Sql(
      """SELECT p_partkey, upper(p_name) AS uname,
        |CAST(length(p_name) AS INTEGER) AS nlen,
        |substr(p_name, 1, 10) AS prefix10,
        |regexp_replace(p_name, '[aeiou]', '', 'g') AS novowels,
        |lpad(p_brand, 12, '#') AS brand_pad,
        |concat_ws('|', p_brand, p_type) AS brand_type,
        |CAST(levenshtein(p_brand, p_type) AS INTEGER) AS lev
        |FROM part""".stripMargin)),
    Entry("q17_sessionize", Family.Relational, Sessionize.batch _, Sql(sessionizeSql)),
    // changelog compaction: the oracle states latest-per-key via the
    // window form; the engine uses one-shuffle max_by — same survivor
    // because (ts, event_id) is a total order per key
    Entry("q33_merge_upsert", Family.Relational, Relational.q33MergeUpsert _, Sql(latestPerKeySql)),
    Entry("q34_funnel", Family.Relational, Relational.q34Funnel _, Sql(
      """WITH v AS (SELECT user_id, min(ts) AS t_view FROM events
        |           WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT e.user_id, min(e.ts) AS t_click FROM events e
        |      JOIN v ON e.user_id = v.user_id
        |      WHERE e.event_type = 'click' AND e.ts > v.t_view GROUP BY 1),
        |p AS (SELECT e.user_id, min(e.ts) AS t_purchase FROM events e
        |      JOIN c ON e.user_id = c.user_id
        |      WHERE e.event_type = 'purchase' AND e.ts > c.t_click GROUP BY 1)
        |SELECT v.user_id, v.t_view, c.t_click, p.t_purchase,
        |  CAST(1 + CASE WHEN c.t_click IS NOT NULL THEN 1 ELSE 0 END
        |         + CASE WHEN p.t_purchase IS NOT NULL THEN 1 ELSE 0 END AS INTEGER)
        |    AS stages_reached
        |FROM v LEFT JOIN c ON v.user_id = c.user_id
        |       LEFT JOIN p ON v.user_id = p.user_id""".stripMargin)),
    // melt of the q11 matrix: spelled as an explicit 5-way stack so the
    // oracle is engine-portable (DuckDB's UNPIVOT reorders rows)
    Entry("q35_unpivot", Family.Relational, Relational.q35Unpivot _, Sql(
      """WITH m AS (SELECT user_id,
        |  count(*) FILTER (WHERE event_type = 'click') AS click,
        |  count(*) FILTER (WHERE event_type = 'error') AS error,
        |  count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
        |  count(*) FILTER (WHERE event_type = 'signup') AS signup,
        |  count(*) FILTER (WHERE event_type = 'view') AS view
        |  FROM events GROUP BY 1)
        |SELECT user_id, 'click' AS event_type, click AS cnt FROM m
        |UNION ALL SELECT user_id, 'error', error FROM m
        |UNION ALL SELECT user_id, 'purchase', purchase FROM m
        |UNION ALL SELECT user_id, 'signup', signup FROM m
        |UNION ALL SELECT user_id, 'view', view FROM m""".stripMargin)),
    Entry("q36_robust_stats", Family.Relational, Relational.q36RobustStats _, Sql(
      """WITH med AS (SELECT l_returnflag, quantile_cont(l_quantity, 0.5) AS med,
        |             count(*) AS n_rows FROM lineitem GROUP BY 1),
        |mad AS (SELECT li.l_returnflag,
        |          quantile_cont(abs(l_quantity - med), 0.5) AS mad
        |        FROM lineitem li JOIN med USING (l_returnflag) GROUP BY 1),
        |md AS (SELECT l_returnflag, l_linestatus AS mode_status FROM (
        |         SELECT l_returnflag, l_linestatus, count(*) AS n
        |         FROM lineitem GROUP BY 1, 2)
        |       QUALIFY row_number() OVER (PARTITION BY l_returnflag
        |                                  ORDER BY n DESC, l_linestatus) = 1)
        |SELECT med.l_returnflag, round(med, 6) AS median_qty,
        |  round(mad, 6) AS mad_qty, mode_status, n_rows
        |FROM med JOIN mad USING (l_returnflag) JOIN md USING (l_returnflag)""".stripMargin)),
    Entry("q37_resample", Family.Relational, Relational.q37Resample _, Sql(
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |  count(*) AS cnt_day, round(sum(value), 4) AS sum_v
        |  FROM events GROUP BY 1, 2),
        |b AS (SELECT CAST(min(ts) AS DATE) AS d0, CAST(max(ts) AS DATE) AS d1 FROM events),
        |spine AS (SELECT event_type, CAST(unnest(generate_series(d0::TIMESTAMP, d1::TIMESTAMP, INTERVAL 1 DAY)) AS DATE) AS day
        |          FROM (SELECT DISTINCT event_type FROM events), b),
        |j AS (SELECT s.event_type, s.day, coalesce(d.cnt_day, 0) AS cnt, d.sum_v
        |      FROM spine s LEFT JOIN daily d ON d.event_type = s.event_type AND d.day = s.day),
        |w AS (SELECT event_type, day, cnt,
        |        round(coalesce(sum_v, last_value(sum_v IGNORE NULLS) OVER
        |          (PARTITION BY event_type ORDER BY day
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)), 4) AS sum_v_ff,
        |        lag(cnt) OVER (PARTITION BY event_type ORDER BY day) AS prev
        |      FROM j)
        |SELECT event_type, day, cnt, sum_v_ff,
        |  CASE WHEN prev IS NULL OR prev = 0 THEN NULL
        |       ELSE round((cnt - prev) / CAST(prev AS DOUBLE), 6) END AS pct_change
        |FROM w""".stripMargin)),
    Entry("q38_histogram", Family.Relational, Relational.q38Histogram(_, _), Sql(
      """WITH b AS (SELECT min(l_extendedprice) AS lo, max(l_extendedprice) AS hi FROM lineitem),
        |x AS (SELECT l_returnflag,
        |  LEAST(CAST(floor(((l_extendedprice - lo) * 20.0) / GREATEST(hi - lo, 1e-12)) AS INTEGER) + 1, 20) AS bucket,
        |  lo, hi FROM lineitem, b)
        |SELECT l_returnflag, bucket, count(*) AS cnt,
        |  round(lo + (bucket - 1) * ((hi - lo) / 20.0), 4) AS bin_lo
        |FROM x GROUP BY l_returnflag, bucket, lo, hi""".stripMargin)),
    // oracle = FULL recompute; the Spark side merges base+delta partials,
    // proving the IVM invariant merge(base, delta) ≡ recompute(all)
    Entry("q39_incremental_rollup", Family.Relational, Relational.q39IncrementalRollup(_, _), Sql(
      """SELECT o_orderstatus, CAST(year(o_orderdate) AS INTEGER) AS yr,
        |  round(sum(o_totalprice), 2) AS total_price,
        |  count(*) AS n_orders,
        |  round(round(sum(o_totalprice), 2) / count(*), 4) AS avg_price
        |FROM orders GROUP BY 1, 2""".stripMargin)),
    Entry("q40_skew_profile", Family.Relational, Relational.q40SkewProfile(_, _), Sql(
      """WITH c AS (SELECT user_id, count(*) AS cnt FROM events GROUP BY 1),
        |t AS (SELECT sum(cnt) AS total, count(*) AS n_keys FROM c),
        |top AS (SELECT user_id, cnt FROM c ORDER BY cnt DESC, user_id LIMIT 20)
        |SELECT CAST(row_number() OVER (ORDER BY cnt DESC, user_id) AS INTEGER) AS rank,
        |  user_id, cnt, round(cnt / total, 6) AS share,
        |  round(sum(cnt) OVER (ORDER BY cnt DESC, user_id
        |    ROWS UNBOUNDED PRECEDING) / total, 6) AS cum_share,
        |  n_keys
        |FROM top, t""".stripMargin)),
    Entry("q41_quantile_bucket", Family.Relational, Relational.q41QuantileBucket _, Sql(
      """WITH q AS (SELECT quantile_cont(l_extendedprice, 0.25) AS q1,
        |  quantile_cont(l_extendedprice, 0.5) AS q2,
        |  quantile_cont(l_extendedprice, 0.75) AS q3 FROM lineitem)
        |SELECT l_returnflag,
        |  CASE WHEN l_extendedprice <= q1 THEN 1
        |       WHEN l_extendedprice <= q2 THEN 2
        |       WHEN l_extendedprice <= q3 THEN 3
        |       ELSE 4 END AS qbucket,
        |  count(*) AS cnt
        |FROM lineitem, q GROUP BY 1, 2""".stripMargin)),
    Entry("q42_retention_cohort", Family.Relational, Relational.q42RetentionCohort _, Sql(
      """WITH fm AS (SELECT user_id, min(date_trunc('week', ts)) AS cohort
        |            FROM events GROUP BY 1),
        |cs AS (SELECT cohort, count(*) AS cohort_size FROM fm GROUP BY 1),
        |act AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS act_week
        |        FROM events),
        |r AS (SELECT f.cohort,
        |        CAST(datediff('day', f.cohort, a.act_week) / 7 AS INTEGER) AS week_offset,
        |        count(DISTINCT a.user_id) AS n_active
        |      FROM act a JOIN fm f USING (user_id) GROUP BY 1, 2)
        |SELECT r.cohort, week_offset, n_active,
        |  round(n_active / cohort_size, 6) AS retention
        |FROM r JOIN cs USING (cohort)""".stripMargin)),
    Entry("q43_cooccurrence", Family.Relational, Relational.q43Cooccurrence _, Sql(
      """WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
        |ct AS (SELECT event_type, count(*) AS c FROM ut GROUP BY 1),
        |co AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
        |         count(*) AS n_users
        |       FROM ut a JOIN ut b
        |         ON a.user_id = b.user_id AND a.event_type < b.event_type
        |       GROUP BY 1, 2)
        |SELECT type_a, type_b, n_users,
        |  round(n_users / (ca.c + cb.c - n_users), 6) AS jaccard
        |FROM co JOIN ct ca ON type_a = ca.event_type
        |        JOIN ct cb ON type_b = cb.event_type""".stripMargin)),
    Entry("q44_rolling_distinct", Family.Relational, Relational.q44RollingDistinct(_, _), Sql(
      """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |b AS (SELECT CAST(max(ts) AS DATE) AS dmax FROM events),
        |c AS (SELECT DISTINCT user_id,
        |        CAST(unnest(generate_series(day::TIMESTAMP,
        |          (day + INTERVAL 6 DAY)::TIMESTAMP, INTERVAL 1 DAY)) AS DATE) AS w_end
        |      FROM ud)
        |SELECT w_end, count(*) AS active_users
        |FROM c, b WHERE w_end <= dmax GROUP BY 1""".stripMargin)),
    Entry("q45_decile_lift", Family.Relational, Relational.q45DecileLift(_, _), Sql(
      """WITH st AS (SELECT o_orderpriority, sum(o_totalprice) AS t_sum,
        |  count(*) AS t_n FROM orders GROUP BY 1),
        |enc AS (SELECT o_orderkey, o_totalprice,
        |  CASE WHEN t_n = 1 THEN NULL
        |       ELSE round((t_sum - o_totalprice) / CAST(t_n - 1 AS DOUBLE), 4)
        |  END AS loo_price
        |  FROM orders o JOIN st USING (o_orderpriority)),
        |ov AS (SELECT avg(o_totalprice) AS overall_avg FROM enc),
        |d AS (SELECT ntile(10) OVER (ORDER BY loo_price DESC NULLS LAST,
        |        o_orderkey) AS decile, o_totalprice FROM enc)
        |SELECT decile, count(*) AS n,
        |  round(avg(o_totalprice), 2) AS avg_actual,
        |  round(round(avg(o_totalprice), 2) / overall_avg, 6) AS lift
        |FROM d, ov GROUP BY decile, overall_avg""".stripMargin)),
    // DuckDB dayofweek is 0-based Sunday, Spark's is 1-based — shifted
    Entry("q46_chi_square", Family.Relational, Drift.chiSquare(_, _), Sql(
      """WITH cells AS (SELECT event_type,
        |    CAST(dayofweek(ts) + 1 AS INTEGER) AS dow, count(*) AS o
        |  FROM events GROUP BY 1, 2),
        |rt AS (SELECT event_type, sum(o) AS row_n FROM cells GROUP BY 1),
        |ct AS (SELECT dow, sum(o) AS col_n FROM cells GROUP BY 1),
        |g AS (SELECT sum(o) AS n FROM cells),
        |we AS (SELECT event_type, dow, o,
        |         CAST(row_n AS DOUBLE) * col_n / n AS e
        |       FROM cells JOIN rt USING (event_type) JOIN ct USING (dow), g),
        |wc AS (SELECT event_type, dow, o, e,
        |         (o - e) * (o - e) / e AS contrib FROM we),
        |tt AS (SELECT round(sum(contrib), 4) AS chi2 FROM wc)
        |SELECT event_type, dow, o, round(e, 4) AS e,
        |  round(contrib, 6) AS contrib, chi2
        |FROM wc, tt""".stripMargin)),
    Entry("q47_transition_matrix", Family.Relational, Relational.q47TransitionMatrix _, Sql(
      """WITH t AS (SELECT event_type AS from_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |                           ORDER BY ts, event_id) AS to_type
        |  FROM events),
        |c AS (SELECT from_type, to_type, count(*) AS n FROM t
        |      WHERE to_type IS NOT NULL GROUP BY 1, 2),
        |ft AS (SELECT from_type, sum(n) AS row_n FROM c GROUP BY 1)
        |SELECT from_type, to_type, n, round(n / row_n, 6) AS p
        |FROM c JOIN ft USING (from_type)""".stripMargin)),
    Entry("q48_string_agg", Family.Relational, Relational.q48StringAgg _, Sql(
      """SELECT r_name, string_agg(n_name, ',' ORDER BY n_name) AS nations,
        |  count(*) AS n_nations
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1""".stripMargin)),
    Entry("q49_time_to_convert", Family.Relational, Relational.q49TimeToConvert _, Sql(
      """WITH v AS (SELECT user_id, min(ts) AS t_view FROM events
        |           WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT e.user_id, min(e.ts) AS t_click, min(t_view) AS t_view2
        |      FROM events e JOIN v USING (user_id)
        |      WHERE event_type = 'click' AND e.ts >= t_view GROUP BY 1),
        |d AS (SELECT epoch_us(t_click) - epoch_us(t_view2) AS micros FROM c)
        |SELECT count(*) AS n_converted,
        |  round(quantile_cont(micros / 1e6, 0.5), 3) AS p50_sec,
        |  round(quantile_cont(micros / 1e6, 0.9), 3) AS p90_sec
        |FROM d""".stripMargin)),
    Entry("q50_streak_islands", Family.Relational, Relational.q50StreakIslands _, Sql(
      """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |i AS (SELECT user_id, day,
        |        day - CAST(row_number() OVER (PARTITION BY user_id
        |                                      ORDER BY day) AS INTEGER) AS grp
        |      FROM ud),
        |g AS (SELECT user_id, grp, count(*) AS len, min(day) AS streak_start
        |      FROM i GROUP BY 1, 2)
        |SELECT user_id, max(len) AS longest_streak, count(*) AS n_streaks,
        |  min(streak_start) AS first_day
        |FROM g GROUP BY 1""".stripMargin)),
    Entry("q51_scd2_history", Family.Relational, Relational.q51Scd2History _, Sql(
      """SELECT user_id, event_type, event_id, ts AS valid_from, value,
        |  lead(ts) OVER (PARTITION BY user_id, event_type
        |                 ORDER BY ts, event_id) AS valid_to,
        |  CAST(row_number() OVER (PARTITION BY user_id, event_type
        |                          ORDER BY ts, event_id) AS INTEGER) AS version,
        |  CAST(lead(ts) OVER (PARTITION BY user_id, event_type
        |                      ORDER BY ts, event_id) IS NULL AS INTEGER) AS is_current
        |FROM events""".stripMargin)),
    // exact-long interval arithmetic (epoch micros, floor(value) minutes)
    // so island boundaries are integer comparisons in both engines
    Entry("q52_interval_merge", Family.Relational, Relational.q52IntervalMerge _, Sql(
      """WITH iv AS (SELECT user_id, event_id, epoch_us(ts) AS s_us,
        |  epoch_us(ts) + CAST(floor(value) AS BIGINT) * 60000000 AS e_us FROM events),
        |o AS (SELECT *, max(e_us) OVER (PARTITION BY user_id ORDER BY s_us, event_id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max FROM iv),
        |f AS (SELECT *, CASE WHEN prev_max IS NULL OR s_us > prev_max
        |  THEN 1 ELSE 0 END AS new_i FROM o),
        |g AS (SELECT *, sum(new_i) OVER (PARTITION BY user_id ORDER BY s_us, event_id
        |  ROWS UNBOUNDED PRECEDING) AS island FROM f)
        |SELECT user_id, make_timestamp(min(s_us)) AS merged_start,
        |  make_timestamp(max(e_us)) AS merged_end, count(*) AS n_events
        |FROM g GROUP BY user_id, island""".stripMargin)),
    Entry("gov_k_anonymity", Family.Relational, Governance.kAnonymity(_, _), Sql(
      """SELECT c_mktsegment, c_nationkey,
        |  CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS acct_band,
        |  count(*) AS group_size, count(*) < 5 AS suppress,
        |  round(1.0 / count(*), 6) AS reid_risk
        |FROM customer GROUP BY 1, 2, 3""".stripMargin)),
    // union-marker interpolation: same (ts, is_grid, event_id) bracket
    // order, epoch-micros longs, double only in the final ratio
    Entry("q53_interpolate", Family.Relational, Relational.q53Interpolate _, Sql(
      """WITH obs AS (SELECT user_id, ts, event_id, value, 0 AS is_grid FROM events),
        |g AS (SELECT user_id,
        |  unnest(generate_series(date_trunc('day', mn), mx, INTERVAL 1 DAY)) AS ts,
        |  -1 AS event_id, NULL::DOUBLE AS value, 1 AS is_grid
        |  FROM (SELECT user_id, min(ts) AS mn, max(ts) AS mx FROM events GROUP BY 1)),
        |u AS (SELECT * FROM obs UNION ALL SELECT * FROM g),
        |e AS (SELECT *, epoch_us(ts) AS us,
        |  last_value(value IGNORE NULLS) OVER wp AS vp,
        |  last_value(CASE WHEN value IS NOT NULL THEN epoch_us(ts) END IGNORE NULLS) OVER wp AS tp,
        |  first_value(value IGNORE NULLS) OVER wn AS vn,
        |  first_value(CASE WHEN value IS NOT NULL THEN epoch_us(ts) END IGNORE NULLS) OVER wn AS tn
        |  FROM u WINDOW
        |  wp AS (PARTITION BY user_id ORDER BY ts, is_grid, event_id
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |  wn AS (PARTITION BY user_id ORDER BY ts, is_grid, event_id
        |         ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT user_id, ts AS grid_ts,
        |  round(CASE WHEN tn = tp THEN vp
        |    ELSE vp + (vn - vp) * (CAST(us - tp AS DOUBLE) / CAST(tn - tp AS DOUBLE))
        |    END, 6) AS ivalue
        |FROM e WHERE is_grid = 1 AND vp IS NOT NULL AND vn IS NOT NULL""".stripMargin)),
    // the oracle is the UNSALTED join: salting must be output-invisible
    Entry("q54_skew_join_salted", Family.Relational, Relational.q54SkewJoinSalted(_, _), Sql(
      """WITH d AS (SELECT user_id, avg(value) AS user_mean FROM events GROUP BY 1)
        |SELECT event_type, count(*) AS n,
        |  round(avg(value - user_mean), 6) AS avg_dev,
        |  round(max(abs(value - user_mean)), 6) AS max_dev
        |FROM events e JOIN d USING (user_id)
        |GROUP BY 1""".stripMargin)),
    // the oracle is the PLAIN join: the runtime bloom is a superset
    // filter, output-invisible by construction
    Entry("q55_runtime_filter", Family.Relational, Relational.q55RuntimeFilter(_, _), Sql(
      """SELECT l_partkey, count(*) AS n_lines,
        |  round(sum(l_extendedprice), 2) AS rev
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT'
        |GROUP BY 1""".stripMargin)),
    // one range-frame window per user, epoch-micros long arithmetic so
    // the [-7d, -1us) frame is an integer comparison in both engines
    Entry("q56_attribution", Family.Relational, Relational.q56Attribution(_, _), Sql(
      """SELECT user_id, event_id AS purchase_id,
        |  make_timestamp(us) AS purchase_ts,
        |  make_timestamp(first_click_us) AS first_touch_ts,
        |  make_timestamp(last_click_us) AS last_touch_ts,
        |  n_clicks
        |FROM (
        |  SELECT user_id, event_id, event_type, us,
        |    min(CASE WHEN event_type = 'click' THEN us END) OVER w AS first_click_us,
        |    max(CASE WHEN event_type = 'click' THEN us END) OVER w AS last_click_us,
        |    count(CASE WHEN event_type = 'click' THEN 1 END) OVER w AS n_clicks
        |  FROM (SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events)
        |  WINDOW w AS (PARTITION BY user_id ORDER BY us
        |               RANGE BETWEEN 604800000000 PRECEDING AND 1 PRECEDING))
        |WHERE event_type = 'purchase'""".stripMargin)),
    // the bitmap artifacts are engine-internal; their EXACT set algebra
    // results are not — the oracle recomputes every overlap relationally
    Entry("q57_bitmap_cohorts", Family.Relational, Relational.q57BitmapCohorts(_, _), Sql(
      """WITH tu AS (SELECT DISTINCT event_type, user_id FROM events),
        |c AS (SELECT event_type, count(*) AS n FROM tu GROUP BY 1),
        |j AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
        |        count(*) AS n_common
        |      FROM tu a JOIN tu b
        |        ON a.user_id = b.user_id AND a.event_type < b.event_type
        |      GROUP BY 1, 2)
        |SELECT type_a, type_b, n_common, ca.n AS n_a, cb.n AS n_b,
        |  round(n_common / CAST(ca.n + cb.n - n_common AS DOUBLE), 6) AS jaccard
        |FROM j JOIN c ca ON j.type_a = ca.event_type
        |       JOIN c cb ON j.type_b = cb.event_type""".stripMargin)),
    // the one-pass graft_mode aggregate replays as (count DESC, value
    // ASC) ranking — identical deterministic tie-break
    Entry("q58_group_mode", Family.Relational, Relational.q58GroupMode(_, _), Sql(
      """SELECT c_mktsegment, c_nationkey, band AS modal_band, n_customers
        |FROM (
        |  SELECT c_mktsegment, c_nationkey, band, count(*) AS cnt,
        |    CAST(sum(count(*)) OVER (PARTITION BY c_mktsegment, c_nationkey) AS BIGINT) AS n_customers,
        |    row_number() OVER (PARTITION BY c_mktsegment, c_nationkey
        |                       ORDER BY count(*) DESC, band) AS rn
        |  FROM (SELECT c_mktsegment, c_nationkey,
        |          CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS band FROM customer)
        |  GROUP BY 1, 2, 3)
        |WHERE rn = 1""".stripMargin)),
    // revenue rounded BEFORE ranking so both engines rank identical
    // doubles; ties broken on the order key
    Entry("q59_shipping_priority", Family.Relational, Relational.q59ShippingPriority(_, _), Sql(
      """SELECT l_orderkey, o_orderdate,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND CAST(o_orderdate AS DATE) < DATE '1998-06-01'
        |  AND CAST(l_shipdate AS DATE) > DATE '1998-06-01'
        |GROUP BY 1, 2
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin)),
    Entry("q60_local_supplier", Family.Relational, Relational.q60LocalSupplier(_, _), Sql(
      """SELECT n_name,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
        |  count(*) AS n_lines
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |JOIN orders ON o_custkey = c_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
        |WHERE r_name = 'ASIA' AND year(o_orderdate) = 1997
        |GROUP BY 1""".stripMargin)),
    // both revenue sums round before the share division so the ratio
    // divides identical doubles on both engines
    Entry("q61_market_share", Family.Relational, Relational.q61MarketShare(_, _), Sql(
      """SELECT year(o_orderdate) AS o_year,
        |  round(sum(CASE WHEN n2.n_name = 'NATION_1'
        |    THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END), 2) AS nation_rev,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS total_rev,
        |  round(round(sum(CASE WHEN n2.n_name = 'NATION_1'
        |      THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END), 2)
        |    / round(sum(l_extendedprice * (1.0 - l_discount)), 2), 6) AS mkt_share
        |FROM lineitem
        |JOIN part ON p_partkey = l_partkey
        |JOIN supplier ON s_suppkey = l_suppkey
        |JOIN nation n2 ON n2.n_nationkey = s_nationkey
        |JOIN orders ON o_orderkey = l_orderkey
        |JOIN customer ON c_custkey = o_custkey
        |JOIN nation n1 ON n1.n_nationkey = c_nationkey
        |JOIN region ON r_regionkey = n1.n_regionkey
        |WHERE r_name = 'AMERICA' AND p_type = 'PROMO'
        |GROUP BY 1""".stripMargin)),
    Entry("q62_big_spenders", Family.Relational, Relational.q62BigSpenders(_, _), Sql(
      """SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice,
        |  total_qty
        |FROM (SELECT l_orderkey, sum(l_quantity) AS total_qty
        |      FROM lineitem GROUP BY 1 HAVING sum(l_quantity) > 250.0) big
        |JOIN orders ON o_orderkey = big.l_orderkey
        |JOIN customer ON c_custkey = o_custkey
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin)),
    Entry("q63_returned_items", Family.Relational, Relational.q63ReturnedItems(_, _), Sql(
      """SELECT c_custkey, c_name, c_acctbal, n_name, revenue
        |FROM (SELECT o_custkey,
        |        round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
        |      FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        |      WHERE CAST(o_orderdate AS DATE) >= DATE '1997-01-01'
        |        AND CAST(o_orderdate AS DATE) < DATE '1997-04-01'
        |        AND l_returnflag = 'R'
        |      GROUP BY 1) r
        |JOIN customer ON c_custkey = r.o_custkey
        |JOIN nation ON n_nationkey = c_nationkey
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin)),
    // the correlated avg-quantity subquery replays as the same per-part
    // window aggregate the Spark plan decorrelates into
    Entry("q64_small_qty_revenue", Family.Relational, Relational.q64SmallQtyRevenue(_, _), Sql(
      """SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
        |FROM (SELECT l_extendedprice, l_quantity,
        |        avg(l_quantity) OVER (PARTITION BY l_partkey) AS avg_qty
        |      FROM lineitem JOIN part ON p_partkey = l_partkey
        |      WHERE p_brand = 'Brand#9')
        |WHERE l_quantity < 0.5 * avg_qty""".stripMargin)),
    // revenue rounds BEFORE the max/equality so both engines compare
    // identical doubles
    Entry("q65_top_supplier", Family.Relational, Relational.q65TopSupplier(_, _), Sql(
      """WITH rev AS (
        |  SELECT l_suppkey,
        |    round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS total_rev
        |  FROM lineitem
        |  WHERE CAST(l_shipdate AS DATE) >= DATE '1997-01-01'
        |    AND CAST(l_shipdate AS DATE) < DATE '1997-04-01'
        |  GROUP BY 1)
        |SELECT s_suppkey, s_name, total_rev
        |FROM rev JOIN supplier ON s_suppkey = l_suppkey
        |WHERE total_rev = (SELECT max(total_rev) FROM rev)
        |ORDER BY s_suppkey""".stripMargin)),
    Entry("q66_order_priority", Family.Relational, Relational.q66OrderPriority(_, _), Sql(
      """SELECT o_orderpriority, count(*) AS n_late_orders
        |FROM orders
        |WHERE CAST(o_orderdate AS DATE) >= DATE '1997-01-01'
        |  AND CAST(o_orderdate AS DATE) < DATE '1997-04-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |    WHERE l_orderkey = o_orderkey
        |      AND CAST(l_shipdate AS DATE) > CAST(o_orderdate AS DATE) + INTERVAL 60 DAY)
        |GROUP BY 1""".stripMargin)),
    Entry("q67_trade_volume", Family.Relational, Relational.q67TradeVolume(_, _), Sql(
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |  year(l_shipdate) AS ship_year,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
        |  count(*) AS n_lines
        |FROM lineitem
        |JOIN supplier ON s_suppkey = l_suppkey
        |JOIN nation n1 ON n1.n_nationkey = s_nationkey
        |JOIN orders ON o_orderkey = l_orderkey
        |JOIN customer ON c_custkey = o_custkey
        |JOIN nation n2 ON n2.n_nationkey = c_nationkey
        |WHERE n1.n_name IN ('NATION_13', 'NATION_19')
        |  AND n2.n_name IN ('NATION_13', 'NATION_19')
        |  AND n1.n_name <> n2.n_name
        |GROUP BY 1, 2, 3""".stripMargin)),
    Entry("gov_l_diversity", Family.Relational, Governance.lDiversity(_, _), Sql(
      """SELECT c_nationkey, CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS acct_band,
        |  count(*) AS group_size, count(DISTINCT c_mktsegment) AS l_distinct,
        |  count(DISTINCT c_mktsegment) >= 3 AS diverse
        |FROM customer GROUP BY 1, 2""".stripMargin)),
    Entry("gov_rtbf_cascade", Family.Relational, Governance.rtbfCascade(_, _),
      Sql(rtbfCascadeSql())),
    Entry("dq_profile", Family.Relational, DataQuality.profile(_, _), Sql(dqProfileSql)),
    // every violation count casts to BIGINT (DuckDB sums integers to
    // HUGEINT); the engine reports violations, never drops them — the
    // fixture's duplicate (l_orderkey, l_linenumber) pairs show up here
    Entry("dq_constraints", Family.Relational, DataQuality.constraints(_, _), Sql(
      """SELECT check_name, violations, violations = 0 AS passed FROM (
        |SELECT 'lineitem.quantity_positive' AS check_name,
        |  CAST(coalesce(sum(CASE WHEN l_quantity <= 0.0 THEN 1 ELSE 0 END), 0) AS BIGINT) AS violations FROM lineitem
        |UNION ALL
        |SELECT 'lineitem.discount_in_[0,1]',
        |  CAST(coalesce(sum(CASE WHEN l_discount < 0.0 OR l_discount > 1.0 THEN 1 ELSE 0 END), 0) AS BIGINT) FROM lineitem
        |UNION ALL
        |SELECT 'lineitem.tax_in_[0,1]',
        |  CAST(coalesce(sum(CASE WHEN l_tax < 0.0 OR l_tax > 1.0 THEN 1 ELSE 0 END), 0) AS BIGINT) FROM lineitem
        |UNION ALL
        |SELECT 'lineitem.returnflag_domain',
        |  CAST(coalesce(sum(CASE WHEN l_returnflag NOT IN ('R','A','N') THEN 1 ELSE 0 END), 0) AS BIGINT) FROM lineitem
        |UNION ALL
        |SELECT 'lineitem.linestatus_domain',
        |  CAST(coalesce(sum(CASE WHEN l_linestatus NOT IN ('O','F') THEN 1 ELSE 0 END), 0) AS BIGINT) FROM lineitem
        |UNION ALL
        |SELECT 'lineitem.shipdate_not_null',
        |  CAST(coalesce(sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) FROM lineitem
        |UNION ALL
        |SELECT 'lineitem.pk_unique',
        |  CAST(count(*) - count(DISTINCT (l_orderkey, l_linenumber)) AS BIGINT) FROM lineitem
        |UNION ALL
        |SELECT 'orders.orderstatus_domain',
        |  CAST(coalesce(sum(CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN 1 ELSE 0 END), 0) AS BIGINT) FROM orders
        |UNION ALL
        |SELECT 'orders.totalprice_positive',
        |  CAST(coalesce(sum(CASE WHEN o_totalprice <= 0.0 THEN 1 ELSE 0 END), 0) AS BIGINT) FROM orders
        |UNION ALL
        |SELECT 'orders.pk_unique',
        |  CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) FROM orders)""".stripMargin)),
    Entry("dq_referential", Family.Relational, DataQuality.referential(_, _), Sql(
      """SELECT 'lineitem.l_orderkey->orders' AS fk_edge,
        |  CAST(coalesce(sum(n), 0) AS BIGINT) AS orphan_rows, count(*) AS orphan_keys
        |FROM (SELECT l_orderkey AS k, count(*) AS n FROM lineitem GROUP BY 1) f
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_orderkey = f.k)
        |UNION ALL
        |SELECT 'lineitem.l_partkey->part', CAST(coalesce(sum(n), 0) AS BIGINT), count(*)
        |FROM (SELECT l_partkey AS k, count(*) AS n FROM lineitem GROUP BY 1) f
        |WHERE NOT EXISTS (SELECT 1 FROM part WHERE p_partkey = f.k)
        |UNION ALL
        |SELECT 'lineitem.l_suppkey->supplier', CAST(coalesce(sum(n), 0) AS BIGINT), count(*)
        |FROM (SELECT l_suppkey AS k, count(*) AS n FROM lineitem GROUP BY 1) f
        |WHERE NOT EXISTS (SELECT 1 FROM supplier WHERE s_suppkey = f.k)
        |UNION ALL
        |SELECT 'orders.o_custkey->customer', CAST(coalesce(sum(n), 0) AS BIGINT), count(*)
        |FROM (SELECT o_custkey AS k, count(*) AS n FROM orders GROUP BY 1) f
        |WHERE NOT EXISTS (SELECT 1 FROM customer WHERE c_custkey = f.k)
        |UNION ALL
        |SELECT 'customer.c_nationkey->nation', CAST(coalesce(sum(n), 0) AS BIGINT), count(*)
        |FROM (SELECT c_nationkey AS k, count(*) AS n FROM customer GROUP BY 1) f
        |WHERE NOT EXISTS (SELECT 1 FROM nation WHERE n_nationkey = f.k)
        |UNION ALL
        |SELECT 'supplier.s_nationkey->nation', CAST(coalesce(sum(n), 0) AS BIGINT), count(*)
        |FROM (SELECT s_nationkey AS k, count(*) AS n FROM supplier GROUP BY 1) f
        |WHERE NOT EXISTS (SELECT 1 FROM nation WHERE n_nationkey = f.k)
        |UNION ALL
        |SELECT 'nation.n_regionkey->region', CAST(coalesce(sum(n), 0) AS BIGINT), count(*)
        |FROM (SELECT n_regionkey AS k, count(*) AS n FROM nation GROUP BY 1) f
        |WHERE NOT EXISTS (SELECT 1 FROM region WHERE r_regionkey = f.k)""".stripMargin)),
    Entry("sketch_hll_users", Family.Relational, Relational.sketchHllUsers _,
      RowsOnly("the HLL registers are engine-internal; Batch36Spec pins the estimate within " +
        "5% of the exact count per group, and q20_approx_agg covers HLL++")),
    Entry("sketch_theta_overlap", Family.Relational, Sketches.thetaOverlap(_, _),
      Sql(thetaOverlapSql)),
    // replayable Laplace release: uniform deviate from the md5-prefix
    // group-key hash, half-offset keeps it strictly inside (-1/2, 1/2)
    Entry("gov_dp_counts", Family.Relational, Governance.dpCounts(_, _), Sql(
      s"""WITH g AS (SELECT c_nationkey, c_mktsegment, count(*) AS n
         |  FROM customer GROUP BY 1, 2),
         |t AS (SELECT *,
         |  ${md5PrefixSql("concat_ws('|', c_nationkey, c_mktsegment)")} % 4503599627370496 AS m
         |  FROM g),
         |u AS (SELECT *, (CAST(m AS DOUBLE) + 0.5) / 4503599627370496.0 - 0.5 AS uu FROM t)
         |SELECT c_nationkey, c_mktsegment,
         |  round(n + (-1.0) * (CASE WHEN uu >= 0 THEN 1.0 ELSE -1.0 END) *
         |    ln(1.0 - 2.0 * abs(uu)), 6) AS noisy_count,
         |  1.0 AS epsilon
         |FROM u""".stripMargin)),

    // ---- dedup: exact, near-dup pairs and clusters, record linkage ----
    Entry("dedup_containment", Family.Dedup, Dedup.containment(_, _), Sql(
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents),
        |sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS sh
        |       FROM w, UNNEST(range(1, len(w)-1)) AS t(i) WHERE len(w) >= 3),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
        |          FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id <> b.doc_id GROUP BY 1, 2)
        |SELECT id_a, id_b, round(c / sa.n, 6) AS containment
        |FROM inter JOIN sizes sa ON id_a = sa.doc_id
        |WHERE round(c / sa.n, 6) >= 0.8""".stripMargin)),
    // new batch = odd doc_id, existing corpus = even; candidates are
    // new×old only, same jaccard formula/threshold as the batch pipeline
    Entry("dedup_incremental", Family.Dedup, Dedup.incremental(_, _), Sql(
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents),
        |sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS sh
        |       FROM w, UNNEST(range(1, len(w)-1)) AS t(i) WHERE len(w) >= 3),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |inter AS (SELECT a.doc_id AS id_new, b.doc_id AS id_old, count(*) AS c
        |          FROM sh a JOIN sh b ON a.sh = b.sh
        |          WHERE a.doc_id % 2 = 1 AND b.doc_id % 2 = 0 GROUP BY 1, 2)
        |SELECT id_new, id_old, round(c / (sa.n + sb.n - c), 6) AS jaccard
        |FROM inter JOIN sizes sa ON id_new = sa.doc_id JOIN sizes sb ON id_old = sb.doc_id
        |WHERE round(c / (sa.n + sb.n - c), 6) >= 0.5""".stripMargin)),
    Entry("dedup_exact_docs", Family.Dedup, Dedup.exact _, Sql(
      "SELECT min(doc_id) AS keep_id, count(*) AS n_copies FROM documents GROUP BY text")),
    // explicit build entry for the memoized near-dup pair pipeline:
    // sorts (and therefore benches) BEFORE its consumers
    // (dedup_clusters, dedup_ngram_jaccard), so their per-query times
    // measure their own work, not the shared pipeline's
    // the pair-pipeline build entry returns the same verified pair set
    // (it exists so bench cost attribution is explicit) → same oracle
    Entry("dedup_build_pairs", Family.Dedup, Dedup.ngramJaccard _, Sql(shingleCte)),
    Entry("dedup_ngram_jaccard", Family.Dedup, Dedup.ngramJaccard _, Sql(shingleCte)),
    // minhash-LSH at b=16/r=2 has ~1-3e-12 miss probability at the j>=0.5
    // threshold on this data (all matching pairs have j>=0.9), so the exact
    // oracle applies.
    Entry("dedup_minhash_lsh", Family.Dedup, Dedup.minhashLsh _, Sql(shingleCte)),
    Entry("dedup_simhash", Family.Dedup, Dedup.simhashPairsKernel(_, _),
      RowsOnly("xxhash64 token hash, which no SQL engine replays; dedup_simhash_portable " +
        "runs the same pipeline on the md5 hash under an oracle, and OperatorSpec " +
        "pins the signature kernel to the declarative pipeline for both hashes")),
    // dedup_simhash (xxhash64 production default) is rows-only by design;
    // the portable-hash twin replays the full pipeline in SQL
    Entry("dedup_simhash_portable", Family.Dedup, Dedup.simhashPairsPortable(_, _),
      Sql(simhashOracle)),
    // transitive closure by recursive CTE: label(v) = min doc_id reachable
    Entry("dedup_clusters", Family.Dedup, Dedup.clusters(_, _), Sql(
      s"""WITH RECURSIVE $shingleCtes,
         |e AS (SELECT id_a AS a, id_b AS b FROM jac UNION SELECT id_b, id_a FROM jac),
         |reach(v, l) AS (
         |  SELECT DISTINCT a, a FROM e
         |  UNION
         |  SELECT e.a, r.l FROM e JOIN reach r ON e.b = r.v),
         |lbl AS (SELECT v, min(l) AS cluster_id FROM reach GROUP BY 1)
         |SELECT cluster_id, count(*) AS n_members FROM lbl GROUP BY 1""".stripMargin)),
    // same closure, vertex-level: survivor + purge flag per clustered doc
    Entry("dedup_purge_list", Family.Dedup, Dedup.purge _, Sql(
      s"""WITH RECURSIVE $shingleCtes,
         |e AS (SELECT id_a AS a, id_b AS b FROM jac UNION SELECT id_b, id_a FROM jac),
         |reach(v, l) AS (
         |  SELECT DISTINCT a, a FROM e
         |  UNION
         |  SELECT e.a, r.l FROM e JOIN reach r ON e.b = r.v),
         |lbl AS (SELECT v, min(l) AS cluster_id FROM reach GROUP BY 1)
         |SELECT v AS doc_id, cluster_id AS keep_id, v <> cluster_id AS purge FROM lbl""".stripMargin)),
    Entry("pipeline_semdedup", Family.Dedup, Dedup.semDedupPipeline(_, _), Sql(semDedupOracle())),
    Entry("dedup_fuzzy_names", Family.Dedup, Dedup.fuzzyNames(_, _), Sql(
      """SELECT a.p_partkey AS id_a, count(*) AS n_similar,
        |CAST(min(levenshtein(a.p_name, b.p_name)) AS INTEGER) AS min_dist
        |FROM part a JOIN part b ON a.p_partkey <> b.p_partkey
        |AND split_part(a.p_name, ' ', 1) = split_part(b.p_name, ' ', 1)
        |AND abs(length(a.p_name) - length(b.p_name)) <= 2
        |AND levenshtein(a.p_name, b.p_name) <= 2
        |GROUP BY 1""".stripMargin)),
    Entry("dedup_semantic", Family.Dedup, Dedup.semanticDedup(_, _), Sql(semanticDedupOracle())),
    // nests the exact-Jaccard truth and portable-simhash arm oracles
    Entry("dedup_eval_metrics", Family.Dedup, Dedup.dedupEvalMetrics _, Sql(
      s"""WITH truth AS ($shingleCte),
         |arm AS ($simhashOracle),
         |j AS (SELECT CASE WHEN t.id_a IS NOT NULL THEN 1 ELSE 0 END AS in_t,
         |        CASE WHEN a.id_a IS NOT NULL THEN 1 ELSE 0 END AS in_a
         |      FROM truth t FULL JOIN arm a
         |        ON t.id_a = a.id_a AND t.id_b = a.id_b)
         |SELECT CAST(sum(in_t) AS BIGINT) AS n_truth,
         |  CAST(sum(in_a) AS BIGINT) AS n_arm,
         |  CAST(sum(in_t * in_a) AS BIGINT) AS n_hit,
         |  round(sum(in_t * in_a) / sum(in_a), 6) AS prec,
         |  round(sum(in_t * in_a) / sum(in_t), 6) AS rec,
         |  round(2.0 * sum(in_t * in_a) / (sum(in_a) + sum(in_t)), 6) AS f1
         |FROM j""".stripMargin)),
    // closure CTEs as dedup_purge_list; quality = text_quality's
    // distinct-token ratio (identical 6-decimal rounding both engines)
    Entry("dedup_survivor_policy", Family.Dedup, Dedup.survivorPolicy(_, _), Sql(
      s"""WITH RECURSIVE $shingleCtes,
         |e AS (SELECT id_a AS a, id_b AS b FROM jac UNION SELECT id_b, id_a FROM jac),
         |reach(v, l) AS (
         |  SELECT DISTINCT a, a FROM e
         |  UNION
         |  SELECT e.a, r.l FROM e JOIN reach r ON e.b = r.v),
         |lbl AS (SELECT v, min(l) AS cluster_id FROM reach GROUP BY 1),
         |q AS (SELECT doc_id,
         |  round(len(list_distinct(regexp_split_to_array(trim(text), '\\s+'))) /
         |        len(regexp_split_to_array(trim(text), '\\s+')), 6) AS quality
         |  FROM documents)
         |SELECT l.v AS doc_id, l.cluster_id, q.quality,
         |  row_number() OVER (PARTITION BY l.cluster_id
         |                     ORDER BY q.quality DESC, l.v) = 1 AS survivor
         |FROM lbl l JOIN q ON q.doc_id = l.v""".stripMargin)),
    // FS scoring: literal log-odds weights are exact binary fractions,
    // so the score sum is bit-identical; ties broken on the id pair
    Entry("link_customer_pairs", Family.Dedup, Linkage.customerPairs(_, _), Sql(
      """SELECT id_a, id_b, name_dist, bal_diff, score,
        |  CASE WHEN score >= 7.0 THEN 'match'
        |       WHEN score >= 4.0 THEN 'possible'
        |       ELSE 'non_match' END AS cls
        |FROM (
        |  SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
        |    CAST(levenshtein(a.c_name, b.c_name) AS INTEGER) AS name_dist,
        |    round(abs(a.c_acctbal - b.c_acctbal), 2) AS bal_diff,
        |    (CASE WHEN levenshtein(a.c_name, b.c_name) <= 2
        |       THEN 4.0 ELSE -1.0 END) + 1.5 +
        |    (CASE WHEN abs(a.c_acctbal - b.c_acctbal) <= 100.0
        |       THEN 2.0 ELSE -0.75 END) AS score
        |  FROM (SELECT c_name, c_nationkey, c_acctbal,
        |          min(c_custkey) AS c_custkey
        |        FROM customer GROUP BY 1, 2, 3) a
        |  JOIN (SELECT c_name, c_nationkey, c_acctbal,
        |          min(c_custkey) AS c_custkey
        |        FROM customer GROUP BY 1, 2, 3) b
        |    ON a.c_nationkey = b.c_nationkey
        |    AND CAST(floor(a.c_acctbal / 500.0) AS BIGINT) =
        |        CAST(floor(b.c_acctbal / 500.0) AS BIGINT)
        |    AND substr(a.c_name, 1, 14) = substr(b.c_name, 1, 14)
        |    AND a.c_custkey < b.c_custkey)
        |ORDER BY score DESC, id_a, id_b LIMIT 50""".stripMargin)),

    // ---- similarity: embeddings, ANN indexes, vector search ----
    Entry("emb_quantize_int8", Family.Similarity, Similarity.quantizeInt8 _, Sql(
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS ed FROM embeddings),
        |m AS (SELECT vec_id, ed, list_max(list_transform(ed, x -> abs(x))) AS maxabs FROM e),
        |s AS (SELECT vec_id, ed, 127.0 / (CASE WHEN maxabs = 0 THEN 1.0 ELSE maxabs END) AS scale FROM m)
        |SELECT vec_id, CAST(i - 1 AS INTEGER) AS dim_idx, round(scale, 6) AS scale,
        |  CAST(floor(ed[i] * scale + 0.5) AS INTEGER) AS q
        |FROM s, UNNEST(range(1, len(ed) + 1)) t(i)""".stripMargin)),
    // split assignment = md5-prefix hash (the engine-portable 60-bit
    // hex-horner parse, as in the simhash oracle) mod 100 vs train pct
    Entry("emb_split_stratified", Family.Similarity, Similarity.stratifiedSplit(_, _), Sql(
      """WITH h AS (SELECT vec_id, label,
        |  list_reduce(list_transform(range(1, 16), i ->
        |    CAST(ord(substr(md5(CAST(vec_id AS VARCHAR)), i, 1)) -
        |         CASE WHEN substr(md5(CAST(vec_id AS VARCHAR)), i, 1) BETWEEN '0' AND '9'
        |              THEN 48 ELSE 87 END AS BIGINT)),
        |    (a, x) -> a * 16 + x) AS h
        |  FROM embeddings)
        |SELECT vec_id, label, CAST(h % 100 AS INTEGER) AS bucket,
        |  CASE WHEN h % 100 < 80 THEN 'train' ELSE 'test' END AS split
        |FROM h""".stripMargin)),
    Entry("emb_normalize", Family.Similarity, Similarity.normalize _, Sql(
      s"""$cosineCte
         |SELECT vec_id, round(nrm, 6) AS norm, CAST(i - 1 AS INTEGER) AS dim_idx,
         |  round(CASE WHEN nrm = 0 THEN 0 ELSE e[i] / nrm END, 6) AS xn
         |FROM v, UNNEST(range(1, len(e) + 1)) t(i)""".stripMargin)),
    Entry("emb_dim_reduce", Family.Similarity, Similarity.dimReduce(_, _), Sql(dimReduceOracle)),
    Entry("emb_label_encode", Family.Similarity, Similarity.labelEncode _, Sql(
      """WITH d AS (SELECT label,
        |  CAST(row_number() OVER (ORDER BY label) - 1 AS INTEGER) AS label_id
        |  FROM (SELECT DISTINCT label FROM embeddings) t)
        |SELECT vec_id, e.label, label_id FROM embeddings e JOIN d USING (label)""".stripMargin)),
    Entry("dedup_embedding_cosine", Family.Similarity, Dedup.embeddingCosine(_, _), Sql(
      s"""$cosineCte
         |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |round(list_sum(list_transform(range(1, len(a.e) + 1), i -> a.e[i] * b.e[i])) / (a.nrm * b.nrm), 6) AS cosine
         |FROM v a JOIN v b ON a.vec_id < b.vec_id
         |WHERE round(list_sum(list_transform(range(1, len(a.e) + 1), i -> a.e[i] * b.e[i])) / (a.nrm * b.nrm), 6) >= 0.45""".stripMargin)),
    Entry("ann_brute_topk", Family.Similarity, Similarity.bruteForceTopK(_, _), Sql(bruteTopKSql)),
    Entry("ann_lsh", Family.Similarity, Similarity.annLsh(_, _), Sql(annLshOracle)),
    Entry("ann_lsh_multiprobe", Family.Similarity, Similarity.annLshMultiProbe(_, _),
      Sql(annLshMultiProbeOracle)),
    Entry("emb_knn_graph", Family.Similarity, Similarity.knnGraph(_, _), Sql(knnGraphOracle)),
    Entry("emb_knn_incremental", Family.Similarity, Similarity.knnIncremental(_, _),
      Sql(knnIncrementalOracle)),
    Entry("ann_ivf", Family.Similarity, Similarity.annIvf(_, _), Sql(annIvfOracle())),
    Entry("ann_ivf_pq", Family.Similarity, Similarity.annIvfPq(_, _), Sql(annIvfPqOracle())),
    Entry("emb_sample_diverse", Family.Similarity, Similarity.sampleDiverse(_, _),
      Sql(sampleDiverseOracle)),
    Entry("search_hybrid_rrf", Family.Similarity, Similarity.hybridRrf(_, _),
      Sql(hybridRrfOracle())),
    Entry("emb_label_centroids", Family.Similarity, Similarity.labelCentroids _, Sql(
      """WITH ex AS (SELECT label, i AS dim_idx, embedding[i]::DOUBLE AS x
        |            FROM embeddings, UNNEST(range(1, len(embedding) + 1)) t(i)),
        |m AS (SELECT label, dim_idx, avg(x) AS mean_x, count(*) AS n FROM ex GROUP BY 1, 2)
        |SELECT label, max(n) AS n_vectors, round(sqrt(sum(mean_x * mean_x)), 6) AS centroid_norm
        |FROM m GROUP BY 1""".stripMargin)),
    // MaxSim: per-query-vector maxes are order-independent; the score is
    // a fixed left-to-right 4-term sum of round(·,6) values — both
    // engines replay the identical doubles
    Entry("search_maxsim", Family.Similarity, Similarity.maxSim(_, _), Sql(
      s"""$cosineCte,
         |qd AS (SELECT vec_id // 4 AS query_id, CAST(vec_id % 4 AS INTEGER) AS qpos, e, nrm
         |       FROM v WHERE vec_id < 8),
         |cd AS (SELECT vec_id // 4 AS doc_id, e, nrm FROM v WHERE vec_id >= 8),
         |sc AS (SELECT q.query_id, q.qpos, c.doc_id,
         |         round(list_sum(list_transform(range(1, len(q.e) + 1), i -> q.e[i] * c.e[i])) / (q.nrm * c.nrm), 6) AS cos
         |       FROM qd q CROSS JOIN cd c),
         |px AS (SELECT query_id, doc_id,
         |         max(CASE WHEN qpos = 0 THEN cos END) AS c0,
         |         max(CASE WHEN qpos = 1 THEN cos END) AS c1,
         |         max(CASE WHEN qpos = 2 THEN cos END) AS c2,
         |         max(CASE WHEN qpos = 3 THEN cos END) AS c3
         |       FROM sc GROUP BY 1, 2)
         |SELECT query_id, doc_id AS neighbor_id,
         |  round(((c0 + c1) + c2) + c3, 6) AS maxsim,
         |  CAST(row_number() OVER (PARTITION BY query_id
         |    ORDER BY round(((c0 + c1) + c2) + c3, 6) DESC, doc_id) AS INTEGER) AS rank
         |FROM px QUALIFY rank <= 5""".stripMargin)),
    // seed-point cell assignment (annIvfOracle's technique) joined to the
    // documents' term explosion; count ranking is pure-integer so the
    // per-cell top-k replays exactly
    Entry("emb_cluster_topics", Family.Similarity, Similarity.clusterTopics(_, _), Sql(
      s"""$cosineCte,
         |c AS (SELECT vec_id AS cell, e AS ce FROM v WHERE vec_id < 16),
         |d AS (SELECT v.vec_id, c.cell,
         |  list_sum(list_transform(range(1, ${graft.functions.VectorFunctions.Dim + 1}), i -> (v.e[i] - c.ce[i]) * (v.e[i] - c.ce[i]))) AS dist
         |  FROM v, c),
         |a AS (SELECT vec_id, cell FROM d
         |      QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) = 1),
         |tok AS (SELECT a.cell, unnest(regexp_split_to_array(trim(lower(doc.text)), '\\s+')) AS term
         |        FROM documents doc JOIN a ON a.vec_id = doc.doc_id),
         |cnts AS (SELECT cell, term, count(*) AS cnt FROM tok
         |         WHERE length(term) > 0 GROUP BY 1, 2)
         |SELECT cell, term, cnt,
         |  CAST(row_number() OVER (PARTITION BY cell ORDER BY cnt DESC, term) AS INTEGER) AS rank
         |FROM cnts
         |QUALIFY rank <= 5""".stripMargin)),
    // label means over the exploded components, per-vector squared-L2
    // distance, ranking on the ROUNDED distance with vec_id tie-break
    Entry("emb_outliers", Family.Similarity, Similarity.labelOutliers(_, _), Sql(
      """WITH ex AS (SELECT vec_id, label, i AS dim_idx, embedding[i]::DOUBLE AS x
        |            FROM embeddings, UNNEST(range(1, len(embedding) + 1)) t(i)),
        |m AS (SELECT label, dim_idx, avg(x) AS mean_x FROM ex GROUP BY 1, 2),
        |d AS (SELECT vec_id, ex.label,
        |        round(sum((x - mean_x) * (x - mean_x)), 6) AS dist
        |      FROM ex JOIN m USING (label, dim_idx) GROUP BY 1, 2)
        |SELECT vec_id, label, dist,
        |  CAST(row_number() OVER (PARTITION BY label ORDER BY dist DESC, vec_id) AS INTEGER) AS rank
        |FROM d
        |QUALIFY rank <= 3""".stripMargin)),
    Entry("search_mmr", Family.Similarity, Similarity.mmrRerank(_, _), Sql(mmrOracle())),
    Entry("emb_covariance", Family.Similarity, Similarity.covarianceMatrix(_, _), Sql(
      """WITH d AS (SELECT unnest(range(0, 8)) AS i),
        |pairs AS (SELECT CAST(a.i AS INTEGER) AS i, CAST(b.i AS INTEGER) AS j
        |          FROM d a, d b WHERE b.i >= a.i),
        |e AS (SELECT list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings)
        |SELECT i, j, round(covar_samp(v[i + 1], v[j + 1]), 6) AS cov
        |FROM pairs, e GROUP BY 1, 2""".stripMargin)),
    Entry("search_eval_metrics", Family.Similarity, Similarity.evalMetrics(_, _),
      Sql(evalMetricsOracle())),
    // the persisted index round-trips bit-exactly, so the in-memory
    // LSH oracle gates the serve-from-storage path too
    Entry("ann_index_persist", Family.Similarity, Similarity.annIndexPersist(_, _),
      Sql(annLshOracle)),
    Entry("emb_pca_project", Family.Similarity, Similarity.pcaProject(_, _),
      RowsOnly("no SQL oracle replays an eigensolver; FeaturesSpec pins the projected " +
        "covariance to the top eigenvalues")),
    Entry("emb_matryoshka_recall", Family.Similarity, Similarity.matryoshkaRecall(_, _),
      Sql(matryoshkaOracle())),
    Entry("ann_filtered", Family.Similarity, Similarity.annFiltered(_, _), Sql(
      """WITH v AS (SELECT vec_id, label,
        |  list_transform(embedding, x -> x::DOUBLE) AS e,
        |  sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))) AS nrm
        |  FROM embeddings),
        |scored AS (
        |  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
        |    round(list_sum(list_transform(range(1, len(q.e) + 1), i -> q.e[i] * n.e[i])) / (q.nrm * n.nrm), 6) AS cosine
        |  FROM v q JOIN v n ON q.vec_id < 10 AND n.vec_id <> q.vec_id AND n.label = 3)
        |SELECT query_id, neighbor_id, cosine,
        |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rank
        |FROM scored
        |QUALIFY rank <= 5""".stripMargin)),
    Entry("emb_drift_centroid", Family.Similarity, Similarity.embDriftCentroid _, Sql(
      """WITH ex AS (SELECT vec_id, label,
        |    CAST(vec_id % 2 = 0 AS INTEGER) AS is_ref,
        |    generate_subscripts(embedding, 1) - 1 AS dim_idx,
        |    unnest(list_transform(embedding, x -> x::DOUBLE)) AS x
        |  FROM embeddings),
        |m AS (SELECT label, dim_idx, is_ref, avg(x) AS m
        |      FROM ex GROUP BY 1, 2, 3),
        |w AS (SELECT label, dim_idx,
        |        max(CASE WHEN is_ref = 1 THEN m END) AS m_ref,
        |        max(CASE WHEN is_ref = 0 THEN m END) AS m_cur
        |      FROM m GROUP BY 1, 2),
        |s AS (SELECT label,
        |        round(sqrt(sum((m_ref - m_cur) * (m_ref - m_cur))), 6) AS centroid_shift
        |      FROM w GROUP BY 1),
        |c AS (SELECT label,
        |        count(*) FILTER (WHERE vec_id % 2 = 0) AS n_ref,
        |        count(*) FILTER (WHERE vec_id % 2 <> 0) AS n_cur
        |      FROM embeddings GROUP BY 1)
        |SELECT label, centroid_shift, n_ref, n_cur
        |FROM s JOIN c USING (label)""".stripMargin)),

    // ---- text: token statistics, quality, decontamination, sampling, curation ----
    Entry("text_top_terms", Family.Text, TextOps.topTerms(_, _), Sql(
      """WITH p AS (SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM p GROUP BY 1, 2),
        |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM p GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM documents),
        |s AS (SELECT doc_id, term, tf * ((n + 1.0) / (df + 1.0)) AS score
        |      FROM tf JOIN df USING (term), n)
        |SELECT doc_id, term, round(score, 6) AS score,
        |  CAST(row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS INTEGER) AS rank
        |FROM s
        |QUALIFY rank <= 3""".stripMargin)),
    Entry("text_chunk", Family.Text, TextOps.chunk(_, _), Sql(
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents
        |          WHERE length(trim(text)) > 0),
        |c AS (SELECT doc_id, t, CAST(i AS INTEGER) AS start,
        |        CAST(row_number() OVER (PARTITION BY doc_id ORDER BY i) - 1 AS INTEGER) AS chunk_idx
        |      FROM w, UNNEST(range(1, len(t) + 1, 40)) u(i))
        |SELECT doc_id, chunk_idx, start,
        |  CAST(len(t[start : start + 49]) AS INTEGER) AS n_chunk_tokens,
        |  md5(array_to_string(t[start : start + 49], ' ')) AS chunk_md5
        |FROM c""".stripMargin)),
    Entry("text_scrub", Family.Text, TextOps.scrub _, Sql(
      """SELECT event_id,
        |regexp_replace(coalesce(props, ''), '\d+', '<NUM>', 'g') AS props_scrubbed,
        |CAST(len(regexp_extract_all(coalesce(props, ''), '\d+')) AS INTEGER) AS n_masked
        |FROM events""".stripMargin)),
    // winnowing (k=3, w=4): window b-rows joined per start, min hash with
    // RIGHTMOST tie (ORDER BY h, pos DESC), full windows only
    // (pos ≤ n_tokens − (k+w−1)); df-capped prints replayed 2..32
    Entry("text_winnow_pairs", Family.Text, TextOps.winnowPairs(_, _), Sql(
      """WITH w0 AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents),
        |kg AS (SELECT doc_id, CAST(i AS BIGINT) - 1 AS pos, len(w) AS n,
        |         list_reduce(list_transform(range(1, 16), j ->
        |           CAST(ord(substr(md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2]), j, 1)) -
        |                CASE WHEN substr(md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2]), j, 1) BETWEEN '0' AND '9'
        |                     THEN 48 ELSE 87 END AS BIGINT)),
        |           (a, x) -> a * 16 + x) AS h
        |       FROM w0, UNNEST(range(1, len(w) - 1)) AS u(i) WHERE len(w) >= 3),
        |sel AS (SELECT a.doc_id, b.h
        |        FROM kg a JOIN kg b ON a.doc_id = b.doc_id AND b.pos BETWEEN a.pos AND a.pos + 3
        |        WHERE a.pos <= a.n - 6
        |        QUALIFY row_number() OVER (PARTITION BY a.doc_id, a.pos ORDER BY b.h, b.pos DESC) = 1),
        |prints AS (SELECT DISTINCT doc_id, h FROM sel),
        |capped AS (SELECT h FROM prints GROUP BY h HAVING count(*) BETWEEN 2 AND 32)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
        |FROM prints a JOIN prints b USING (h) JOIN capped USING (h)
        |WHERE a.doc_id < b.doc_id
        |GROUP BY 1, 2
        |HAVING count(*) >= 2""".stripMargin)),
    Entry("text_token_counts", Family.Text, TextOps.tokenCounts _, Sql(
      """SELECT doc_id, CAST(length(text) AS INTEGER) AS n_chars_m,
        |CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INTEGER) AS n_tokens,
        |CAST(len(list_distinct(regexp_split_to_array(trim(text), '\s+'))) AS INTEGER) AS n_distinct_tokens,
        |CAST(len(list_filter(string_split_regex(text, '[^a-zA-Z0-9]+'), x -> length(x) > 0)) AS INTEGER) AS n_words_alnum
        |FROM documents""".stripMargin)),
    // GPT-style concat-and-chunk packing: running token sum per source in
    // doc_id order, integer div/mod against the 2048-token budget
    Entry("text_pack_sequences", Family.Text, TextOps.packSequences(_, _), Sql(
      """WITH t AS (SELECT doc_id, source,
        |  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INTEGER) AS n_tokens
        |  FROM documents),
        |c AS (SELECT doc_id, source, n_tokens,
        |  sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |    ROWS UNBOUNDED PRECEDING) AS cum FROM t)
        |SELECT doc_id, source, n_tokens,
        |  CAST((cum - n_tokens) // 2048 AS BIGINT) AS seq_id,
        |  CAST((cum - n_tokens) % 2048 AS BIGINT) AS seq_offset
        |FROM c""".stripMargin)),
    // eval slice = doc_id % 10 = 0; shared-shingle counts over the same
    // distinct 3-gram shingle sets as the near-dup oracles
    Entry("text_decontaminate", Family.Text, TextOps.decontaminate(_, _), Sql(decontaminateSql)),
    // the Bloom prefilter has no false negatives and the survivor
    // semi-join is exact, so the result is definitionally identical to
    // the broadcast-dictionary plan — same oracle
    Entry("text_decontaminate_bloom", Family.Text, TextOps.decontaminateBloom(_, _),
      Sql(decontaminateSql)),
    Entry("text_repetition", Family.Text, TextOps.repetition _, Sql(
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
        |uc AS (SELECT doc_id, g, count(*) AS c
        |       FROM (SELECT doc_id, unnest(t) AS g FROM w) GROUP BY 1, 2),
        |umax AS (SELECT doc_id, max(c) AS uni_mc FROM uc GROUP BY 1),
        |bc AS (SELECT doc_id, g, count(*) AS c
        |       FROM (SELECT doc_id, t[i] || ' ' || t[i+1] AS g
        |             FROM w, UNNEST(range(1, len(t))) x(i) WHERE len(t) >= 2) GROUP BY 1, 2),
        |bmax AS (SELECT doc_id, max(c) AS bi_mc FROM bc GROUP BY 1),
        |d3 AS (SELECT doc_id, len(list_distinct(list_transform(range(1, len(t)-1),
        |         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS d3
        |       FROM w WHERE len(t) >= 3)
        |SELECT w.doc_id, CAST(len(w.t) AS INTEGER) AS n_tokens,
        |  round(umax.uni_mc / len(w.t), 6) AS top_unigram_frac,
        |  CASE WHEN len(w.t) > 1 THEN round(bmax.bi_mc / (len(w.t) - 1), 6) END AS top_bigram_frac,
        |  CASE WHEN len(w.t) > 2 THEN round(1.0 - d3.d3 / (len(w.t) - 2), 6) END AS dup_3gram_frac
        |FROM w LEFT JOIN umax USING (doc_id) LEFT JOIN bmax USING (doc_id)
        |LEFT JOIN d3 USING (doc_id)""".stripMargin)),
    // keep decision = md5-prefix hash (the engine-portable hex-horner
    // parse, as in emb_split_stratified) mod per-source count vs min count
    Entry("doc_sample_balanced", Family.Text, TextOps.sampleBalanced _, Sql(
      """WITH c AS (SELECT source, count(*) AS n_source FROM documents GROUP BY 1),
        |m AS (SELECT min(n_source) AS min_count FROM c),
        |h AS (SELECT doc_id, source,
        |  list_reduce(list_transform(range(1, 16), i ->
        |    CAST(ord(substr(md5(CAST(doc_id AS VARCHAR)), i, 1)) -
        |         CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), i, 1) BETWEEN '0' AND '9'
        |              THEN 48 ELSE 87 END AS BIGINT)),
        |    (a, x) -> a * 16 + x) AS h
        |  FROM documents)
        |SELECT h.doc_id, h.source, c.n_source, (h.h % c.n_source) < m.min_count AS keep
        |FROM h JOIN c USING (source), m""".stripMargin)),
    // hash-ranked prefix-sum admission per source: keep while tokens
    // admitted BEFORE the doc are under budget (boundary doc may overshoot)
    Entry("doc_sample_budget", Family.Text, TextOps.sampleBudget(_, _), Sql(
      """WITH h AS (SELECT doc_id, source,
        |  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens,
        |  list_reduce(list_transform(range(1, 16), i ->
        |    CAST(ord(substr(md5(CAST(doc_id AS VARCHAR)), i, 1)) -
        |         CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), i, 1) BETWEEN '0' AND '9'
        |              THEN 48 ELSE 87 END AS BIGINT)),
        |    (a, x) -> a * 16 + x) AS h
        |  FROM documents)
        |SELECT doc_id, source, n_tokens,
        |  coalesce(sum(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) < 1000 AS keep
        |FROM h""".stripMargin)),
    // temperature (α=0.5) source mixing: quota = floor(T·√n_s/Σ√n + 0.5);
    // sqrt is IEEE-correctly-rounded (engine-portable, unlike pow), and
    // the denominator sums in source order — the same ordered list_sum
    // replay as the ANN oracles; keep = md5-prefix-hash rank ≤ quota
    Entry("doc_sample_temperature", Family.Text, TextOps.sampleTemperature(_, _), Sql(
      """WITH c AS (SELECT source, count(*) AS n_source FROM documents GROUP BY 1),
        |den AS (SELECT list_sum(list(sqrt(CAST(n_source AS DOUBLE)) ORDER BY source)) AS den FROM c),
        |q AS (SELECT source, n_source,
        |  CAST(floor(2000 * sqrt(CAST(n_source AS DOUBLE)) / den + 0.5) AS BIGINT) AS quota
        |  FROM c, den),
        |h AS (SELECT doc_id, source,
        |  list_reduce(list_transform(range(1, 16), i ->
        |    CAST(ord(substr(md5(CAST(doc_id AS VARCHAR)), i, 1)) -
        |         CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), i, 1) BETWEEN '0' AND '9'
        |              THEN 48 ELSE 87 END AS BIGINT)),
        |    (a, x) -> a * 16 + x) AS h
        |  FROM documents)
        |SELECT h.doc_id, h.source, q.n_source, q.quota,
        |  row_number() OVER (PARTITION BY h.source ORDER BY h.h, h.doc_id) <= q.quota AS keep
        |FROM h JOIN q USING (source)""".stripMargin)),
    // epoch-weighted mixture repetition: per-source per-mille weight
    // 400 + md5(source) % 2401; copies = w_pm // 1000 plus an extra iff
    // doc-hash % 1000 < w_pm % 1000; shard = md5("id:copy") % 16. All
    // integer arithmetic — replays bit-for-bit on any engine.
    Entry("doc_repeat_mixture", Family.Text, TextOps.repeatMixture _, Sql(
      s"""WITH hs AS (SELECT doc_id, source,
         |  ${md5PrefixSql("CAST(doc_id AS VARCHAR)")} AS h,
         |  CAST(400 + ${md5PrefixSql("source")} % 2401 AS INTEGER) AS w_pm
         |  FROM documents),
         |c AS (SELECT doc_id, source, w_pm,
         |  CAST(w_pm // 1000 + CASE WHEN h % 1000 < w_pm % 1000 THEN 1 ELSE 0 END AS BIGINT) AS n_copies
         |  FROM hs),
         |x AS (SELECT doc_id, source, w_pm, n_copies,
         |  CAST(unnest(generate_series(1, n_copies)) AS BIGINT) AS copy_idx
         |  FROM c)
         |SELECT doc_id, source, w_pm, n_copies, copy_idx,
         |  CAST(${md5PrefixSql("CAST(doc_id AS VARCHAR) || ':' || CAST(copy_idx AS VARCHAR)")} % 16 AS INTEGER) AS shard
         |FROM x""".stripMargin)),
    // the whole curation chain composed: quality gate ∧ not-eval ∧
    // not-contaminated ∧ not-purged (same recursive closure as
    // dedup_purge_list) ⋈ embedding norms
    Entry("pipeline_manifest", Family.Text, TextOps.trainingManifest(_, _), Sql(
      s"""WITH RECURSIVE $shingleCtes,
         |e AS (SELECT id_a AS a, id_b AS b FROM jac UNION SELECT id_b, id_a FROM jac),
         |reach(v, l) AS (
         |  SELECT DISTINCT a, a FROM e
         |  UNION
         |  SELECT e.a, r.l FROM e JOIN reach r ON e.b = r.v),
         |lbl AS (SELECT v, min(l) AS cluster_id FROM reach GROUP BY 1),
         |q AS (SELECT doc_id, source, lang,
         |       CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS INTEGER) AS n_tokens,
         |       len(list_distinct(regexp_split_to_array(trim(text), '\\s+')))::DOUBLE
         |         / len(regexp_split_to_array(trim(text), '\\s+')) AS dr
         |      FROM documents),
         |ev AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 10 = 0),
         |hits AS (SELECT DISTINCT s.doc_id FROM sh s JOIN ev USING (sh) WHERE s.doc_id % 10 <> 0),
         |nv AS (SELECT vec_id, sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))) AS nrm
         |       FROM embeddings)
         |SELECT q.doc_id, q.source, q.lang, q.n_tokens, round(nv.nrm, 6) AS emb_norm
         |FROM q JOIN nv ON nv.vec_id = q.doc_id
         |WHERE q.n_tokens >= 20 AND q.dr >= 0.3 AND q.doc_id % 10 <> 0
         |AND q.doc_id NOT IN (SELECT doc_id FROM hits)
         |AND q.doc_id NOT IN (SELECT v FROM lbl WHERE v <> cluster_id)""".stripMargin)),
    Entry("text_heavy_hitters", Family.Text, TextOps.heavyHitters(_, _), Sql(
      """WITH t AS (SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term FROM documents),
        |c AS (SELECT term, count(*) AS cnt FROM t GROUP BY 1)
        |SELECT term, cnt, CAST(row_number() OVER (ORDER BY cnt DESC, term) AS INTEGER) AS rank
        |FROM c ORDER BY cnt DESC, term LIMIT 20""".stripMargin)),
    Entry("text_bm25_topk", Family.Text, TextOps.bm25TopK(_, _),
      Sql(bm25Oracle(graft.operators.TextOps.Bm25Query))),
    // mean smoothed bigram probability, summed IN POSITION ORDER (the
    // ordered list_sum replay); the model keeps only bigrams with count
    // >= 2 (TextOps.LmMinCount — hapax pruning, the 100 TB model-size
    // lever; pruned/unseen bigrams score (0+1)/(c1+V)); prefix counts
    // c(w1 ·) stay EXACT from the occurrence stream, vocabulary =
    // distinct tokens corpus-wide
    Entry("text_lm_score", Family.Text, TextOps.lmScore(_, _), Sql(
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
        |           FROM documents WHERE length(trim(text)) > 0),
        |bg AS (SELECT doc_id, i AS pos, w[i] AS w1, w[i+1] AS w2
        |       FROM w, UNNEST(range(1, len(w))) AS u(i) WHERE len(w) >= 2),
        |c2 AS (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY 1, 2 HAVING count(*) >= 2),
        |c1 AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY 1),
        |v AS (SELECT count(DISTINCT t) AS v FROM (SELECT unnest(w) AS t FROM w)),
        |p AS (SELECT bg.doc_id, bg.pos,
        |        (coalesce(c2.c2, 0) + 1.0) / CAST(c1.c1 + v.v AS DOUBLE) AS p
        |      FROM bg LEFT JOIN c2 USING (w1, w2) JOIN c1 USING (w1), v)
        |SELECT doc_id, CAST(count(*) AS INTEGER) AS n_bigrams,
        |  round(list_sum(list(p ORDER BY pos)) / count(*), 6) AS score
        |FROM p GROUP BY doc_id""".stripMargin)),
    // pairwise 3-gram Jaccard between sources (sparse: zero-overlap pairs
    // absent in both engines)
    Entry("text_source_overlap", Family.Text, TextOps.sourceOverlap(_, _), Sql(
      """WITH w AS (SELECT source, regexp_split_to_array(trim(text), '\s+') AS w FROM documents),
        |sh AS (SELECT DISTINCT source, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS sh
        |       FROM w, UNNEST(range(1, len(w)-1)) AS t(i) WHERE len(w) >= 3),
        |sizes AS (SELECT source, count(*) AS n FROM sh GROUP BY 1),
        |inter AS (SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_inter
        |          FROM sh a JOIN sh b ON a.sh = b.sh AND a.source < b.source GROUP BY 1, 2)
        |SELECT src_a, src_b, sa.n AS n_a, sb.n AS n_b, n_inter,
        |  round(n_inter / (sa.n + sb.n - n_inter), 6) AS jaccard
        |FROM inter JOIN sizes sa ON src_a = sa.source JOIN sizes sb ON src_b = sb.source""".stripMargin)),
    // exact repeated-substring spans: grams → corpus-count window →
    // gaps-and-islands merge, replayed verbatim
    Entry("text_dedup_spans", Family.Text, TextOps.dedupSpans(_, _), Sql(
      """WITH g AS (
        |  SELECT doc_id, CAST(i AS INTEGER) AS pos, substr(text, CAST(i AS INTEGER), 20) AS gram
        |  FROM documents, UNNEST(range(1, length(text) - 18)) t(i)
        |  WHERE length(text) >= 20),
        |r AS (SELECT doc_id, pos FROM (
        |  SELECT doc_id, pos, count(*) OVER (PARTITION BY gram) AS m FROM g)
        |  WHERE m > 1),
        |i AS (SELECT doc_id, pos, CASE WHEN pos > coalesce(
        |    max(pos + 20) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |  THEN 1 ELSE 0 END AS ni FROM r),
        |s AS (SELECT doc_id, pos,
        |  sum(ni) OVER (PARTITION BY doc_id ORDER BY pos) AS island FROM i)
        |SELECT doc_id, CAST(min(pos) AS INTEGER) AS span_start,
        |  CAST(max(pos) + 20 - min(pos) AS INTEGER) AS span_len,
        |  count(*) AS n_grams
        |FROM s GROUP BY doc_id, island""".stripMargin)),
    // span application: the same span pipeline, then per-doc segment
    // reconstruction (kept text between/around the cut spans)
    Entry("text_span_cut", Family.Text, TextOps.spanCut(_, _), Sql(
      """WITH g AS (
        |  SELECT doc_id, CAST(i AS INTEGER) AS pos, substr(text, CAST(i AS INTEGER), 20) AS gram
        |  FROM documents, UNNEST(range(1, length(text) - 18)) t(i)
        |  WHERE length(text) >= 20),
        |r AS (SELECT doc_id, pos FROM (
        |  SELECT doc_id, pos, count(*) OVER (PARTITION BY gram) AS m FROM g)
        |  WHERE m > 1),
        |i AS (SELECT doc_id, pos, CASE WHEN pos > coalesce(
        |    max(pos + 20) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |  THEN 1 ELSE 0 END AS ni FROM r),
        |s AS (SELECT doc_id, pos,
        |  sum(ni) OVER (PARTITION BY doc_id ORDER BY pos) AS island FROM i),
        |sp AS (SELECT doc_id, CAST(min(pos) AS INTEGER) AS span_start,
        |  CAST(max(pos) + 20 - min(pos) AS INTEGER) AS span_len
        |  FROM s GROUP BY doc_id, island),
        |segs AS (
        |  SELECT doc_id,
        |    coalesce(lag(span_start + span_len) OVER (PARTITION BY doc_id ORDER BY span_start), 1) AS seg_start,
        |    span_start AS seg_end, span_start AS ord
        |  FROM sp
        |  UNION ALL
        |  SELECT doc_id, max(span_start + span_len), 2147483647, 2147483647
        |  FROM sp GROUP BY doc_id),
        |cut AS (
        |  SELECT d.doc_id,
        |    string_agg(substr(d.text, seg_start,
        |      CASE WHEN seg_end = 2147483647 THEN length(d.text) ELSE seg_end - seg_start END),
        |      '' ORDER BY ord) AS text_clean
        |  FROM documents d JOIN segs USING (doc_id) GROUP BY d.doc_id),
        |agg AS (SELECT doc_id, CAST(count(*) AS INTEGER) AS n_spans_cut,
        |        CAST(sum(span_len) AS BIGINT) AS n_chars_cut FROM sp GROUP BY doc_id)
        |SELECT d.doc_id,
        |  coalesce(a.n_spans_cut, 0) AS n_spans_cut,
        |  coalesce(a.n_chars_cut, 0) AS n_chars_cut,
        |  coalesce(c.text_clean, d.text) AS text_clean
        |FROM documents d LEFT JOIN agg a USING (doc_id) LEFT JOIN cut c USING (doc_id)""".stripMargin)),
    Entry("text_quality", Family.Text, TextOps.qualityScore _, Sql(
      """WITH w AS (SELECT doc_id, text, regexp_split_to_array(trim(text), '\s+') AS t FROM documents)
        |SELECT doc_id,
        |round(len(list_filter(t, x -> list_contains(['the','a','of','and','to','in','is','it'], x))) / len(t), 6) AS stopword_ratio,
        |round(len(list_distinct(t)) / len(t), 6) AS distinct_ratio,
        |round(list_sum(list_transform(t, x -> length(x))) / len(t), 6) AS mean_token_len,
        |round(length(regexp_replace(text, '[a-zA-Z0-9\s]+', '', 'g')) / length(text), 6) AS punct_ratio
        |FROM w""".stripMargin)),
    // per-source z-score calibration of the (6-decimal-rounded, hence
    // engine-identical) stopword ratio; z is ALSO rounded to 6 decimals
    // on both sides — the raw division landed 1 ulp apart in r6 and the
    // driver's exact hash renders full precision; σ=0 guarded to z=0
    Entry("doc_quality_calibrate", Family.Text, TextOps.qualityCalibrate(_, _), Sql(
      """WITH w AS (SELECT doc_id, source,
        |  round(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |    x -> list_contains(['the','a','of','and','to','in','is','it'], x)))
        |    / len(regexp_split_to_array(trim(text), '\s+')), 6) AS q
        |  FROM documents),
        |s AS (SELECT source, avg(q) AS mu, stddev_samp(q) AS sigma FROM w GROUP BY 1)
        |SELECT w.doc_id, w.source, w.q,
        |  round(CASE WHEN s.sigma <> 0 THEN (w.q - s.mu) / s.sigma ELSE 0.0 END, 6) AS z,
        |  round(CASE WHEN s.sigma <> 0 THEN (w.q - s.mu) / s.sigma ELSE 0.0 END, 6) > -1.0 AS keep
        |FROM w JOIN s USING (source)""".stripMargin)),
    Entry("text_lang_id", Family.Text, TextOps.langId _, Sql(
      """WITH w AS (SELECT doc_id, lang, regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM documents),
        |s AS (SELECT doc_id, lang,
        |  CAST(len(list_filter(t, x -> list_contains(['der','die','das','und','ist','nicht'], x))) AS INTEGER) AS score_de,
        |  CAST(len(list_filter(t, x -> list_contains(['the','a','of','and','is','to'], x))) AS INTEGER) AS score_en,
        |  CAST(len(list_filter(t, x -> list_contains(['el','los','las','es','y','que'], x))) AS INTEGER) AS score_es,
        |  CAST(len(list_filter(t, x -> list_contains(['le','la','les','et','est','que'], x))) AS INTEGER) AS score_fr,
        |  CAST(len(list_filter(t, x -> list_contains(['的','是','在','了','和'], x))) AS INTEGER) AS score_zh
        |  FROM w)
        |SELECT doc_id, lang AS lang_true,
        |CASE WHEN greatest(score_de, score_en, score_es, score_fr, score_zh) = 0 THEN 'und'
        |     WHEN score_de = greatest(score_de, score_en, score_es, score_fr, score_zh) THEN 'de'
        |     WHEN score_en = greatest(score_de, score_en, score_es, score_fr, score_zh) THEN 'en'
        |     WHEN score_es = greatest(score_de, score_en, score_es, score_fr, score_zh) THEN 'es'
        |     WHEN score_fr = greatest(score_de, score_en, score_es, score_fr, score_zh) THEN 'fr'
        |     ELSE 'zh' END AS lang_pred,
        |score_de, score_en, score_es, score_fr, score_zh
        |FROM s""".stripMargin)),
    Entry("text_fingerprint", Family.Text, TextOps.fingerprints _, Sql(
      """WITH fp AS (SELECT doc_id, md5(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS fp FROM documents),
        |g AS (SELECT fp, count(*) AS n_same FROM fp GROUP BY 1)
        |SELECT f.doc_id, f.fp, g.n_same FROM fp f JOIN g USING (fp)""".stripMargin)),
    Entry("pipeline_curate", Family.Text, TextOps.curate _, Sql(
      """WITH f AS (SELECT doc_id, lang, text,
        |  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INTEGER) AS n_tokens,
        |  len(list_distinct(regexp_split_to_array(trim(text), '\s+')))::DOUBLE
        |    / len(regexp_split_to_array(trim(text), '\s+')) AS distinct_ratio
        |  FROM documents),
        |d AS (SELECT min(doc_id) AS keep_id, min(lang) AS lang, min(n_tokens) AS n_tokens
        |      FROM f WHERE n_tokens >= 20 AND distinct_ratio >= 0.3 GROUP BY text)
        |SELECT lang, count(*) AS n_docs, round(avg(n_tokens), 4) AS avg_tokens
        |FROM d GROUP BY lang""".stripMargin)),
    // snapshot diff: oracle compares text bytes via a full-outer join; the
    // engine compares xxhash64(text) — equality of content implies equality
    // of statuses (collision probability 2^-64 per common key)
    Entry("doc_snapshot_diff", Family.Text, TextOps.snapshotDiff(_, _), Sql(
      """WITH o AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 < 9),
        |n AS (SELECT doc_id, CASE WHEN doc_id % 7 = 0 THEN text || ' [rev2]' ELSE text END AS text
        |      FROM documents WHERE doc_id % 10 > 0)
        |SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
        |       CASE WHEN o.doc_id IS NULL THEN 'added'
        |            WHEN n.doc_id IS NULL THEN 'removed'
        |            ELSE 'changed' END AS status
        |FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
        |WHERE o.doc_id IS NULL OR n.doc_id IS NULL OR o.text <> n.text""".stripMargin)),
    // PII redaction: the oracle replays the deterministic taint and the
    // same Java∩RE2-portable regexes with the global flag
    Entry("text_redact_pii", Family.Text, TextOps.redactPii(_, _), Sql(
      """WITH t AS (SELECT doc_id, text ||
        |  CASE WHEN doc_id % 2 = 0 THEN ' contact user' || doc_id || '@example.com' ELSE '' END ||
        |  CASE WHEN doc_id % 3 = 0 THEN ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END ||
        |  CASE WHEN doc_id % 5 = 0 THEN ' from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.1' ELSE '' END
        |  AS text FROM documents)
        |SELECT doc_id,
        |  regexp_replace(regexp_replace(regexp_replace(text,
        |    '[a-z0-9]+@[a-z0-9]+\.[a-z]+', '<EMAIL>', 'g'),
        |    '555-[0-9]{4}', '<PHONE>', 'g'),
        |    '10\.[0-9]+\.0\.1', '<IP>', 'g') AS clean_text,
        |  CAST(len(regexp_extract_all(text,
        |    '[a-z0-9]+@[a-z0-9]+\.[a-z]+|555-[0-9]{4}|10\.[0-9]+\.0\.1')) AS INTEGER) AS n_pii
        |FROM t""".stripMargin)),
    // incremental curation: quality gate + eval contamination on 5-gram
    // shingles (any overlap — gram length is the scale-stable knob) +
    // 3-gram incremental near-dup rejection; each CTE identical to its
    // stand-alone oracle; admission is the conjunction
    Entry("pipeline_curate_incremental", Family.Text, TextOps.curateIncremental(_, _), Sql(
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents),
        |q AS (SELECT d.doc_id, d.source, d.lang, CAST(len(w.w) AS INTEGER) AS n_tokens
        |      FROM documents d JOIN w ON d.doc_id = w.doc_id
        |      WHERE d.doc_id % 2 = 1 AND len(w.w) >= 20
        |        AND len(list_distinct(w.w)) / CAST(len(w.w) AS DOUBLE) >= 0.3),
        |sh5 AS (SELECT DISTINCT doc_id,
        |          w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4] AS sh
        |        FROM w, UNNEST(range(1, len(w)-3)) AS t(i) WHERE len(w) >= 5),
        |ev AS (SELECT DISTINCT sh FROM sh5 WHERE doc_id % 10 = 0),
        |cont AS (SELECT DISTINCT s.doc_id FROM sh5 s JOIN ev USING (sh)),
        |sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS sh
        |       FROM w, UNNEST(range(1, len(w)-1)) AS t(i) WHERE len(w) >= 3),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |inter AS (SELECT a.doc_id AS id_new, b.doc_id AS id_old, count(*) AS c
        |          FROM sh a JOIN sh b ON a.sh = b.sh
        |          WHERE a.doc_id % 2 = 1 AND b.doc_id % 2 = 0 GROUP BY 1, 2),
        |dup AS (SELECT DISTINCT id_new FROM inter
        |        JOIN sizes sa ON id_new = sa.doc_id JOIN sizes sb ON id_old = sb.doc_id
        |        WHERE round(c / (sa.n + sb.n - c), 6) >= 0.5)
        |SELECT q.doc_id, q.source, q.lang, q.n_tokens FROM q
        |WHERE NOT EXISTS (SELECT 1 FROM cont WHERE cont.doc_id = q.doc_id)
        |  AND NOT EXISTS (SELECT 1 FROM dup WHERE dup.id_new = q.doc_id)""".stripMargin)),
    // distinct 3-gram shingles (the near-dup family's sh CTE) with a
    // shingle-keyed count window as the document frequency
    Entry("text_ngram_novelty", Family.Text, TextOps.ngramNovelty(_, _), Sql(
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents),
        |sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS sh
        |       FROM w, UNNEST(range(1, len(w)-1)) AS t(i) WHERE len(w) >= 3),
        |df AS (SELECT doc_id, count(*) OVER (PARTITION BY sh) AS df FROM sh)
        |SELECT doc_id, count(*) AS n_shingles,
        |  count(*) FILTER (WHERE df = 1) AS n_unique,
        |  round(count(*) FILTER (WHERE df = 1) / count(*), 6) AS novelty
        |FROM df GROUP BY 1""".stripMargin)),
    // accents planted deterministically (translate over the uppercased
    // text) so the canonicalization has real work to undo; the oracle
    // replays the plant + the normalization chain
    // replants the accents, then replays the canonicalization chain —
    // agreement holds byte-for-byte on precomposed Latin accents
    Entry("text_normalize", Family.Text, (s, d) => TextOps.normalizeDocs(Tables.documents(s, d)
      .withColumn("text", translate(upper(col("text")), "AEO", "ÁÉÖ"))), Sql(
      """WITH p AS (SELECT doc_id,
        |  translate(upper(text), 'AEO', 'ÁÉÖ') AS text FROM documents)
        |SELECT doc_id,
        |  trim(regexp_replace(lower(strip_accents(nfc_normalize(text))),
        |       '\s+', ' ', 'g')) AS text_norm,
        |  CAST(length(trim(regexp_replace(lower(strip_accents(nfc_normalize(text))),
        |       '\s+', ' ', 'g'))) AS INTEGER) AS n_chars_norm
        |FROM p""".stripMargin)),
    Entry("text_blocklist", Family.Text,
      (s, d) => TextOps.blocklistFilter(Tables.documents(s, d)), Sql(
      """WITH t AS (SELECT doc_id,
        |  regexp_split_to_array(trim(text), '\s+') AS w FROM documents)
        |SELECT doc_id, CAST(len(w) AS INTEGER) AS n_tokens,
        |  CAST(len(list_filter(w, x -> list_contains(['slow','big','junk'], x)))
        |    AS INTEGER) AS n_flagged,
        |  CAST(len(list_filter(w, x -> list_contains(['slow','big','junk'], x))) = 0
        |    AS INTEGER) AS keep
        |FROM t""".stripMargin)),
    Entry("doc_drift_psi", Family.Text, Drift.psi(_, _), Sql(
      """WITH d AS (SELECT doc_id, CAST(n_chars AS DOUBLE) AS x FROM documents),
        |b AS (SELECT min(x) AS lo, max(x) AS hi FROM d),
        |bk AS (SELECT CAST(doc_id % 2 = 0 AS INTEGER) AS is_ref,
        |  LEAST(CAST(floor((x - lo) * 10 / GREATEST(hi - lo, 1e-12)) AS INTEGER) + 1, 10) AS bucket
        |  FROM d, b),
        |cnt AS (SELECT bucket, CAST(sum(is_ref) AS BIGINT) AS n_ref,
        |  CAST(sum(1 - is_ref) AS BIGINT) AS n_cur FROM bk GROUP BY 1),
        |t AS (SELECT sum(n_ref) AS t_ref, sum(n_cur) AS t_cur FROM cnt),
        |p AS (SELECT bucket, n_ref, n_cur,
        |  greatest(n_ref / t_ref, 1e-6) AS p_ref,
        |  greatest(n_cur / t_cur, 1e-6) AS p_cur FROM cnt, t),
        |c AS (SELECT bucket, n_ref, n_cur,
        |  (p_cur - p_ref) * ln(p_cur / p_ref) AS contrib FROM p),
        |tt AS (SELECT round(sum(contrib), 6) AS psi FROM c)
        |SELECT bucket, n_ref, n_cur, round(contrib, 6) AS contrib, psi
        |FROM c, tt""".stripMargin)),
    // first-appearance aggregation replays directly; per-checkpoint
    // scalar subqueries are the oracle's cost, not the engine's
    Entry("text_vocab_growth", Family.Text, TextOps.vocabGrowth(_, _), Sql(
      """WITH ft AS (SELECT u.tok, min(d.doc_id) AS first_doc
        |  FROM documents d, UNNEST(string_split_regex(trim(lower(d.text)), '\s+')) AS u(tok)
        |  GROUP BY 1),
        |tc AS (SELECT doc_id,
        |    CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS BIGINT) AS nt
        |  FROM documents)
        |SELECT 100 AS n_docs,
        |  (SELECT CAST(coalesce(sum(nt), 0) AS BIGINT) FROM tc WHERE doc_id < 100) AS n_tokens_seen,
        |  (SELECT CAST(coalesce(sum(CASE WHEN first_doc < 100 THEN 1 ELSE 0 END), 0) AS BIGINT) FROM ft) AS vocab_size
        |UNION ALL SELECT 500,
        |  (SELECT CAST(coalesce(sum(nt), 0) AS BIGINT) FROM tc WHERE doc_id < 500),
        |  (SELECT CAST(coalesce(sum(CASE WHEN first_doc < 500 THEN 1 ELSE 0 END), 0) AS BIGINT) FROM ft)
        |UNION ALL SELECT 2000,
        |  (SELECT CAST(coalesce(sum(nt), 0) AS BIGINT) FROM tc WHERE doc_id < 2000),
        |  (SELECT CAST(coalesce(sum(CASE WHEN first_doc < 2000 THEN 1 ELSE 0 END), 0) AS BIGINT) FROM ft)
        |UNION ALL SELECT 10000,
        |  (SELECT CAST(coalesce(sum(nt), 0) AS BIGINT) FROM tc WHERE doc_id < 10000),
        |  (SELECT CAST(coalesce(sum(CASE WHEN first_doc < 10000 THEN 1 ELSE 0 END), 0) AS BIGINT) FROM ft)""".stripMargin)),
    // identical closed-form formula and parenthesization on both sides;
    // ln sums differ only by float association (~1e-12) under the
    // 6-decimal round
    Entry("text_zipf_slope", Family.Text, TextOps.zipfSlope(_, _), Sql(
      """WITH f AS (SELECT u.tok, count(*) AS cnt
        |  FROM documents d, UNNEST(string_split_regex(trim(lower(d.text)), '\s+')) AS u(tok)
        |  GROUP BY 1),
        |r AS (SELECT cnt, row_number() OVER (ORDER BY cnt DESC, tok) AS rank
        |      FROM f ORDER BY cnt DESC, tok LIMIT 200),
        |xy AS (SELECT ln(CAST(rank AS DOUBLE)) AS x, ln(CAST(cnt AS DOUBLE)) AS y FROM r),
        |sums AS (SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
        |           sum(x * y) AS sxy, sum(x * x) AS sxx FROM xy)
        |SELECT n, round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
        |  round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n, 6) AS intercept
        |FROM sums""".stripMargin)),

    // ---- multimodal: binary payloads and perceptual-hash near-dups ----
    Entry("mm_decode_batched", Family.Multimodal,
      (s, d) => Multimodal.decodeBatchedFlat(Multimodal.asBinaryPayload(s, d)), Sql(mmDecodeOracle)),
    Entry("mm_binary_features", Family.Multimodal, Multimodal.pipeline(_, _), Sql(
      """SELECT doc_id, 'text/plain' AS mime, CAST(length(text) AS INTEGER) AS n_bytes,
        |md5(text) AS content_md5, hex(substring(text, 1, 8)) AS head_hex
        |FROM documents""".stripMargin)),
    // gate entry = oracle-portable gram hash; the xxhash64 production
    // configuration benches as mm_dedup_phash_fast (rows-only by design,
    // MultimodalSpec pins pipeline equivalence)
    Entry("mm_dedup_phash", Family.Multimodal, Multimodal.phashPairsPortable(_, _),
      Sql(phashOracle)),
    Entry("mm_dedup_phash_fast", Family.Multimodal, Multimodal.phashPairs(_, _),
      RowsOnly("xxhash64 gram hash, which no SQL engine replays; mm_dedup_phash runs the " +
        "same pipeline on the portable hash under an oracle, and OperatorSpec pins " +
        "the two equal on a dup-structured corpus")),
    // transitive closure over the phash pair graph (dedup_clusters'
    // recursive-CTE pattern on the multimodal pair set)
    Entry("mm_phash_clusters", Family.Multimodal, Multimodal.phashClusters(_, _), Sql(
      s"""WITH $phashPairCtes,
         |e AS (SELECT id_a AS a, id_b AS b FROM prs UNION SELECT id_b, id_a FROM prs),
         |${ccLabelCtes()}
         |SELECT cluster_id, count(*) AS n_members FROM lbl GROUP BY 1""".stripMargin)),
    Entry("mm_frame_sample", Family.Multimodal,
      (s, d) => Multimodal.frameSample(Multimodal.asBinaryPayload(s, d)), Sql(
      """WITH n AS (SELECT doc_id, text, CAST(length(text) AS INTEGER) AS n_bytes FROM documents),
        |f AS (SELECT doc_id, n_bytes, CAST(i AS INTEGER) AS frame_idx,
        |        CAST(floor(n_bytes * i / 4) AS INTEGER) AS frame_off,
        |        md5(substr(text, CAST(floor(n_bytes * i / 4) AS INTEGER) + 1, 16)) AS frame_md5
        |      FROM n, UNNEST([0, 1, 2, 3]) t(i))
        |SELECT doc_id, n_bytes, frame_idx, frame_off, frame_md5 FROM f""".stripMargin)),
    // frame energies are integer byte sums over the 16-frame grid (the
    // fixture's payload bytes ARE its ASCII chars — the phash contract),
    // so the lag-window cut test replays exactly
    Entry("mm_scene_cuts", Family.Multimodal, Multimodal.sceneCuts(_, _), Sql(
      """WITH n AS (SELECT doc_id, text, CAST(length(text) AS INTEGER) AS nb FROM documents),
        |f AS (SELECT doc_id, nb, CAST(i AS INTEGER) AS frame_idx,
        |        CAST(floor(nb * i / 16) AS INTEGER) AS off
        |      FROM n, range(0, 16) t(i)),
        |e AS (SELECT f.doc_id, f.frame_idx,
        |        CAST(list_aggregate(list_transform(range(1, 17), j ->
        |          CASE WHEN f.off + j <= f.nb
        |            THEN ord(substr(n.text, f.off + CAST(j AS INTEGER), 1))
        |            ELSE 0 END), 'sum') AS INTEGER) AS energy
        |      FROM f JOIN n ON n.doc_id = f.doc_id),
        |l AS (SELECT doc_id, frame_idx, energy,
        |        lag(energy) OVER (PARTITION BY doc_id ORDER BY frame_idx) AS prev
        |      FROM e)
        |SELECT doc_id, frame_idx, energy, energy - prev AS delta
        |FROM l WHERE prev IS NOT NULL AND abs(energy - prev) > 150""".stripMargin)),

    // ---- graph: co-purchase pairs, ranking, communities ----
    Entry("graph_pagerank", Family.Graph, Graph.pagerank(_, _), Sql(pagerankOracle())),
    // degree-oriented wedge closing: same orientation rule (lower (deg,
    // id) endpoint first; src < dst breaks degree ties), pure-integer
    Entry("graph_triangles", Family.Graph, Graph.triangles(_, _), Sql(
      s"""WITH $coPairCtes,
         |d AS (SELECT node, count(*) AS deg FROM
         |  (SELECT src AS node FROM p UNION ALL SELECT dst FROM p) GROUP BY 1),
         |o AS (SELECT CASE WHEN da.deg <= db.deg THEN p.src ELSE p.dst END AS lo,
         |             CASE WHEN da.deg <= db.deg THEN p.dst ELSE p.src END AS hi
         |      FROM p JOIN d da ON p.src = da.node JOIN d db ON p.dst = db.node),
         |adj AS (SELECT lo, list(hi) AS nbrs FROM o GROUP BY lo),
         |t AS (SELECT o.lo AS a, o.hi AS b,
         |             unnest(list_intersect(a1.nbrs, a2.nbrs)) AS c
         |      FROM o JOIN adj a1 ON o.lo = a1.lo JOIN adj a2 ON o.hi = a2.lo),
         |corn AS (SELECT node, count(*) AS tri FROM
         |  (SELECT a AS node FROM t UNION ALL SELECT b FROM t
         |   UNION ALL SELECT c FROM t) GROUP BY 1)
         |SELECT d.node AS part, coalesce(corn.tri, 0) AS triangles, d.deg AS deg
         |FROM d LEFT JOIN corn ON d.node = corn.node""".stripMargin)),
    Entry("graph_kcore", Family.Graph, Graph.kcore(_, _), Sql(kcoreOracle())),
    // explicit build entry: sorts (and benches) before its consumers so
    // graph_* per-query times measure their own work (dedup_build_pairs
    // pattern)
    Entry("graph_build_pairs", Family.Graph, Graph.buildPairs(_, _), Sql(
      s"""WITH $coPairCtes
         |SELECT node, count(*) AS deg FROM
         |  (SELECT src AS node FROM p UNION ALL SELECT dst FROM p) GROUP BY 1""".stripMargin)),
    // center-enumerated wedges; cn>=2 support floor both sides; ranks
    // compare the identically-rounded jaccard/cn/id triple
    Entry("graph_common_neighbors", Family.Graph, Graph.commonNeighbors(_, _), Sql(
      s"""WITH $coPairCtes,
         |e AS (SELECT src, dst FROM p UNION ALL SELECT dst, src FROM p),
         |d AS (SELECT node, count(*) AS deg FROM
         |  (SELECT src AS node FROM p UNION ALL SELECT dst FROM p) GROUP BY 1),
         |bc AS (SELECT e.src AS b, e.dst AS n, d.deg AS db
         |       FROM e JOIN d ON e.src = d.node WHERE e.dst % 4 = 0),
         |w AS (SELECT x.n AS a, y.n AS c, count(*) AS cn,
         |        round(sum(1.0 / ln(x.db)), 6) AS aa
         |      FROM bc x JOIN bc y ON x.b = y.b AND x.n < y.n
         |      GROUP BY 1, 2 HAVING count(*) >= 2),
         |j AS (SELECT w.a AS part_a, w.c AS part_b, cn,
         |        round(cn / CAST(da.deg + dc.deg - cn AS DOUBLE), 6) AS jaccard, aa
         |      FROM w JOIN d da ON w.a = da.node JOIN d dc ON w.c = dc.node)
         |SELECT part_a, part_b, cn, jaccard, aa,
         |  CAST(row_number() OVER (PARTITION BY part_a
         |    ORDER BY jaccard DESC, cn DESC, part_b) AS INTEGER) AS rank
         |FROM j QUALIFY rank <= 5""".stripMargin)),
    Entry("graph_label_prop", Family.Graph, Graph.labelPropagation(_, _), Sql(labelPropOracle())),
    // value-gated by a bounded min-label + pointer-jump oracle (closure
    // SQL stays intractable; the jump trick keeps each layer node-sized);
    // GraphGovSpec additionally pins star == propagation == driver
    // union-find on the identical edges
    Entry("graph_components", Family.Graph, Graph.components(_, _), Sql(componentsOracle())),

    // ---- lake: table versions, change feeds, file layout ----
    // Morton interleave replayed as 16 integer shift/mask terms (disjoint
    // bits, so + is OR) — pure integer arithmetic on both engines
    Entry("layout_zorder", Family.Lake, Layout.zorderLineitem(_, _), Sql(
      s"SELECT l_orderkey, l_linenumber, CAST(${zvalSql("l_partkey", "l_suppkey")} AS BIGINT) AS zval FROM lineitem")),
    // replays the two commits' set logic; the operator itself goes
    // end-to-end through manifests + parquet on disk
    Entry("lake_time_travel", Family.Lake, Lake.timeTravel(_, _), Sql(
      """WITH v1 AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0),
        |v2 AS (SELECT doc_id, text FROM v1 WHERE doc_id % 3 <> 0
        |       UNION ALL
        |       SELECT doc_id, upper(text) FROM documents WHERE doc_id % 3 = 0),
        |m AS (SELECT 1 AS version, count(*) AS n_docs,
        |        count(*) FILTER (WHERE text = upper(text) AND text <> lower(text)) AS n_rewritten
        |      FROM v1
        |      UNION ALL
        |      SELECT 2, count(*),
        |        count(*) FILTER (WHERE text = upper(text) AND text <> lower(text))
        |      FROM v2)
        |SELECT CAST(version AS INTEGER) AS version, n_docs, n_rewritten FROM m""".stripMargin)),
    Entry("lake_schema_evolution", Family.Lake, Lake.schemaEvolution(_, _), Sql(
      """WITH m AS (
        |  SELECT doc_id, n_chars, NULL AS lang FROM documents WHERE doc_id % 2 = 0
        |  UNION ALL
        |  SELECT doc_id, n_chars, lang FROM documents WHERE doc_id % 2 <> 0)
        |SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM m GROUP BY 1""".stripMargin)),
    // replays the two CDC commits' set logic; the operator diffs REAL
    // manifested parquet versions through readVersion
    Entry("lake_change_feed", Family.Lake, Lake.changeFeed(_, _), Sql(
      """WITH v1 AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0),
        |rep AS (SELECT doc_id, upper(text) AS text FROM documents WHERE doc_id % 3 = 0),
        |v2 AS (SELECT doc_id, text FROM v1
        |       WHERE NOT (doc_id % 10 = 4 AND doc_id % 3 <> 0)
        |         AND doc_id NOT IN (SELECT doc_id FROM rep)
        |       UNION ALL SELECT doc_id, text FROM rep),
        |j AS (SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
        |        a.text AS t1, b.text AS t2
        |      FROM v1 a FULL JOIN v2 b ON a.doc_id = b.doc_id)
        |SELECT doc_id, 'insert' AS change_type, t2 AS text FROM j WHERE t1 IS NULL
        |UNION ALL SELECT doc_id, 'delete', t1 FROM j WHERE t2 IS NULL
        |UNION ALL SELECT doc_id, 'update_preimage', t1 FROM j
        |  WHERE t1 IS NOT NULL AND t2 IS NOT NULL AND t1 <> t2
        |UNION ALL SELECT doc_id, 'update_postimage', t2 FROM j
        |  WHERE t1 IS NOT NULL AND t2 IS NOT NULL AND t1 <> t2""".stripMargin)),
    // the custom V2 connector must agree with the plain relational
    // range aggregate — same integer-division bounds both engines
    Entry("lake_segment_scan", Family.Lake, Lake.segmentScan(_, _), Sql(
      """WITH b AS (SELECT CAST(count(*) // 4 AS BIGINT) AS lo,
        |                  CAST(count(*) // 2 AS BIGINT) AS hi FROM documents)
        |SELECT count(*) AS n_docs,
        |  CAST(sum(length(text)) AS BIGINT) AS sum_chars,
        |  min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM documents, b WHERE doc_id >= b.lo AND doc_id <= b.hi""".stripMargin)),
    // the vacuum's post-deletion re-read must still see the FULL corpus
    // (proof it only removed unreferenced files), and the orphan audit
    // replays the aborted id%5 slice with its " [retry]" suffix (+8)
    Entry("lake_vacuum_orphans", Family.Lake, Lake.vacuumOrphans(_, _), Sql(
      """SELECT CAST((SELECT count(*) FROM documents) AS BIGINT) AS n_live_rows,
        |  CAST((SELECT count(*) FROM documents WHERE doc_id % 5 = 0) AS BIGINT)
        |    AS n_orphan_rows,
        |  CAST((SELECT sum(length(text) + 8) FROM documents WHERE doc_id % 5 = 0)
        |    AS BIGINT) AS orphan_chars""".stripMargin)),
    Entry("lake_compaction_plan", Family.Lake, Lake.compactionPlan(_, _), Sql(
      """WITH f AS (SELECT CAST(ts AS DATE) AS day, CAST(hour(ts) AS INTEGER) AS hr,
        |  count(*) AS n_rows, count(*) * 64 AS bytes FROM events GROUP BY 1, 2),
        |c AS (SELECT *, coalesce(sum(bytes) OVER (PARTITION BY day ORDER BY hr
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before FROM f)
        |SELECT day, hr, n_rows, CAST(bytes AS BIGINT) AS bytes,
        |  CAST(cum_before // 4096 AS INTEGER) AS target_file FROM c""".stripMargin)),
    Entry("layout_file_skipping", Family.Lake, Layout.fileSkipping(_, _), Sql(
      s"""WITH z AS (SELECT CAST(l_partkey % 256 AS INTEGER) AS x,
         |  CAST(l_suppkey % 256 AS INTEGER) AS y,
         |  CAST(${zvalSql("l_partkey", "l_suppkey")} AS BIGINT) AS zval FROM lineitem),
         |s AS (SELECT zval // 1024 AS file, count(*) AS n_rows,
         |  min(x) AS x_min, max(x) AS x_max, min(y) AS y_min, max(y) AS y_max
         |  FROM z GROUP BY 1)
         |SELECT file, n_rows, x_min, x_max, y_min, y_max,
         |  (x_min > 31 OR x_max < 16 OR y_min > 31 OR y_max < 16) AS can_skip
         |FROM s""".stripMargin)),
    // file counts are pinned by the operator's explicit repartition
    // literals and the sharing design (append carries v1's files, the
    // COW rewrite shares nothing); the live row count is the logical
    // table content — the one column only the engine's post-delete
    // re-read can produce
    Entry("lake_snapshot_expire", Family.Lake, Lake.snapshotExpire(_, _), Sql(
      """SELECT 1 AS version, false AS retained, CAST(4 AS BIGINT) AS n_files,
        |  CAST(4 AS BIGINT) AS n_safe_deleted, CAST(NULL AS BIGINT) AS n_rows_after
        |UNION ALL SELECT 2, false, 8, 8, NULL
        |UNION ALL SELECT 3, true, 4, 0, (SELECT count(*) FROM documents)""".stripMargin)),

    // ---- streaming: Structured Streaming drained to a finite result ----
    // the stream-static join drains a finite source through a stateless
    // broadcast join + complete-mode agg → exactly the batch overlap counts
    Entry("stream_static_join", Family.Streaming, StreamOps.streamStaticJoin(_, _), Sql(
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents),
        |sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS sh
        |       FROM w, UNNEST(range(1, len(w)-1)) AS t(i) WHERE len(w) >= 3),
        |ev AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 10 = 0)
        |SELECT s.doc_id, count(*) AS n_shared FROM sh s JOIN ev USING (sh)
        |WHERE s.doc_id % 10 <> 0 GROUP BY 1""".stripMargin)),
    Entry("stream_tumbling_agg", Family.Streaming, StreamOps.tumblingWindowAgg(_, _), Sql(
      """SELECT date_trunc('hour', ts) AS win_start, event_type,
        |count(*) AS cnt, round(sum(value), 2) AS sum_v
        |FROM events GROUP BY 1, 2""".stripMargin)),
    // the streaming check suite replays as the batch conditional sums
    // over the same windows; all_clear derives from the named counts
    Entry("stream_dq_monitor", Family.Streaming, StreamOps.streamingDqMonitor(_, _), Sql(
      """SELECT win_start, n_rows, null_value, value_range, type_domain,
        |  bad_user,
        |  (null_value + value_range + type_domain + bad_user) = 0 AS all_clear
        |FROM (
        |  SELECT date_trunc('hour', ts) AS win_start, count(*) AS n_rows,
        |    CAST(coalesce(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS null_value,
        |    CAST(coalesce(sum(CASE WHEN value <= 0.0 OR value > 1000.0 THEN 1 ELSE 0 END), 0) AS BIGINT) AS value_range,
        |    CAST(coalesce(sum(CASE WHEN event_type NOT IN ('click','view','signup','purchase','error') THEN 1 ELSE 0 END), 0) AS BIGINT) AS type_domain,
        |    CAST(coalesce(sum(CASE WHEN user_id IS NULL OR user_id < 0 THEN 1 ELSE 0 END), 0) AS BIGINT) AS bad_user
        |  FROM events GROUP BY 1)""".stripMargin)),
    // streaming dedup emits the distinct fingerprint set (arrival order is
    // nondeterministic, the SET is not)
    Entry("stream_dedup", Family.Streaming, StreamOps.streamingDedup _, Sql(
      "SELECT DISTINCT md5(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS fp FROM documents")),
    // a finite source drained in one micro-batch dedups all duplicates
    // against live state → emitted set = batch DISTINCT exactly
    Entry("stream_dedup_bounded", Family.Streaming, StreamOps.streamingDedupBounded _, Sql(
      """SELECT DISTINCT user_id, event_type, date_trunc('hour', ts) AS hour_start
        |FROM events""".stripMargin)),
    // the streaming LSH pipeline emits the same band-bucket candidates as
    // the batch path (bit-equal signatures) and verifies with the same
    // exact-jaccard stage → the exact oracle applies unchanged
    Entry("stream_dedup_minhash", Family.Streaming, StreamOps.streamingMinhashNearDup(_, _),
      Sql(shingleCte)),
    // inner stream-stream join emits on match → drained finite source
    // produces exactly the batch join set
    Entry("stream_stream_join", Family.Streaming, StreamOps.streamStreamJoin _, Sql(
      """SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id, p.value
        |FROM events c JOIN events p
        |ON c.event_type = 'click' AND p.event_type = 'purchase'
        |AND p.user_id = c.user_id
        |AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR""".stripMargin)),
    Entry("stream_heavy_hitters", Family.Streaming, StreamOps.streamingHeavyHitters(_, _), Sql(
      """SELECT date_trunc('hour', ts) AS win_start, user_id, count(*) AS cnt
        |FROM events GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin)),
    // the streaming ingest drains to exactly the batch incremental result
    Entry("stream_knn_ingest", Family.Streaming, StreamOps.streamKnnIngest(_, _),
      Sql(knnIncrementalOracle)),
    // the flatMapGroupsWithState variant drains through the same
    // heartbeat staging, so the same batch islands oracle gates it
    Entry("stream_sessionize", Family.Streaming, Sessionize.streaming _, Sql(sessionizeSql)),
    Entry("stream_merge_upsert", Family.Streaming, StreamOps.streamMergeUpsert _,
      Sql(latestPerKeySql)),
    // quality filter then distinct surviving (fp, lang, n_tokens) — the
    // arrival-order-free projection of the streaming curation state
    Entry("stream_curate", Family.Streaming, StreamOps.streamCurate _, Sql(
      """WITH f AS (SELECT lang,
        |  md5(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS fp,
        |  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INTEGER) AS n_tokens,
        |  len(list_distinct(regexp_split_to_array(trim(text), '\s+')))::DOUBLE
        |    / len(regexp_split_to_array(trim(text), '\s+')) AS distinct_ratio
        |  FROM documents)
        |SELECT DISTINCT fp, lang, n_tokens
        |FROM f WHERE n_tokens >= 20 AND distinct_ratio >= 0.3""".stripMargin)),
    // stateless stream: emitted rows are per-event functions of the
    // static fitted model, so the batch replay is exact
    Entry("stream_anomaly", Family.Streaming, StreamOps.streamAnomaly(_, _), Sql(
      """WITH s AS (SELECT event_type, avg(value) AS mu,
        |  stddev_samp(value) AS sigma FROM events GROUP BY 1)
        |SELECT event_id, e.event_type, round((value - mu) / sigma, 4) AS z
        |FROM events e JOIN s USING (event_type)
        |WHERE sigma > 0 AND abs((value - mu) / sigma) > 3.0""".stripMargin)),
    // storage-materialized upsert converges to the same batch compaction
    // as the in-memory streaming view
    Entry("stream_lake_upsert", Family.Streaming, StreamOps.streamLakeUpsert _,
      Sql(latestPerKeySql)),
    // last-writer-wins + delete-tombstone replay: a key survives iff its
    // final (ts, event_id)-ordered op is not an 'error' tombstone
    Entry("stream_cdc_apply", Family.Streaming, StreamOps.streamCdcApply _, Sql(
      """SELECT user_id, last_ts, last_event_id, last_value, n_ops FROM (
        |  SELECT user_id, ts AS last_ts, event_id AS last_event_id,
        |         round(coalesce(value, 0), 6) AS last_value, event_type,
        |         count(*) OVER (PARTITION BY user_id) AS n_ops,
        |         row_number() OVER (PARTITION BY user_id
        |                            ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events) WHERE rn = 1 AND event_type <> 'error'""".stripMargin)),
    // replay of the pinned three-batch arrival: even slice on time,
    // odd slice late-filtered at W1 = max(even ts) - 15d (drop iff the
    // 6h window closed before W1), heartbeat pushes the final watermark
    // past every real window so append mode emits them all
    Entry("stream_late_audit", Family.Streaming, StreamOps.streamLateAudit(_, _), Sql(
      """WITH w1 AS (SELECT max(ts) - INTERVAL 15 DAY AS wm
        |            FROM events WHERE event_id % 2 = 0),
        |acc AS (
        |  SELECT ts, event_type, value FROM events WHERE event_id % 2 = 0
        |  UNION ALL
        |  SELECT e.ts, e.event_type, e.value FROM events e, w1
        |  WHERE event_id % 2 = 1
        |    AND CAST(to_timestamp((floor(epoch(ts) / 21600) + 1) * 21600) AS TIMESTAMP) > wm)
        |SELECT CAST(to_timestamp(floor(epoch(ts) / 21600) * 21600) AS TIMESTAMP) AS win_start,
        |  event_type, count(*) AS cnt, round(sum(value), 2) AS sum_v
        |FROM acc GROUP BY 1, 2""".stripMargin)),
    // the staged heartbeat advances the watermark past every real
    // session, so append mode emits the complete batch session set →
    // the batch islands oracle gates the native streaming twin too
    Entry("stream_session_native", Family.Streaming, StreamOps.streamSessionWindow(_, _),
      Sql(sessionizeSql)),
    // dedup→aggregate chained stateful pipeline drains to the exact
    // batch distinct count (heartbeats flush the final windows)
    Entry("stream_distinct_users", Family.Streaming, StreamOps.streamDistinctUsers(_, _), Sql(
      """SELECT date_trunc('hour', ts) AS win_start,
        |  count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY 1""".stripMargin)),
    Entry("stream_hll_users", Family.Streaming, StreamOps.streamHllUsers(_, _),
      RowsOnly("the HLL registers are engine-internal; Batch37Spec pins the stream equal to " +
        "the batch sketch per hour window")),
    // the bottom-k hash sample is a pure function of each window's
    // distinct-user set: rank the identical portable hash, take k
    Entry("stream_sample_bottomk", Family.Streaming, StreamOps.streamSampleBottomK(_, _), Sql({
      val h = md5PrefixSql("CAST(user_id AS VARCHAR)")
      s"""SELECT win_start, CAST(rn AS INTEGER) AS rank, user_id FROM (
         |  SELECT date_trunc('hour', ts) AS win_start, user_id,
         |    row_number() OVER (PARTITION BY date_trunc('hour', ts)
         |                       ORDER BY h, user_id) AS rn
         |  FROM (SELECT DISTINCT date_trunc('hour', ts) AS ts, user_id,
         |          $h AS h
         |        FROM events))
         |WHERE rn <= 5""".stripMargin
    })),
    // streaming CDC materialized view drains to exactly the batch
    // compaction → same oracle as q33_merge_upsert
    // two committed generations drain to the full corpus exactly once —
    // the batch aggregate is the oracle
    Entry("stream_segment_source", Family.Streaming, StreamOps.streamSegmentSource(_, _), Sql(
      """SELECT doc_id % 10 AS bucket, count(*) AS n_docs,
        |  CAST(sum(length(text)) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY 1""".stripMargin)),

    // ---- features: ML feature prep and BPE tokenization ----
    Entry("feat_scale", Family.Features, Features.scaleFeatures _, Sql(
      """WITH st AS (SELECT avg(l_extendedprice) AS m_p,
        |  stddev_samp(l_extendedprice) AS s_p,
        |  min(l_extendedprice) AS lo_p, max(l_extendedprice) AS hi_p,
        |  avg(l_quantity) AS m_q, stddev_samp(l_quantity) AS s_q FROM lineitem)
        |SELECT l_orderkey, l_linenumber,
        |  round((l_extendedprice - m_p) / s_p, 6) AS z_price,
        |  round((l_quantity - m_q) / s_q, 6) AS z_qty,
        |  round((l_extendedprice - lo_p) / (hi_p - lo_p), 6) AS mm_price
        |FROM lineitem, st""".stripMargin)),
    // group-hash split: the oracle replays the md5-prefix bucket per
    // user, so the leakage-safe routing is value-checked end to end
    Entry("ml_split_group", Family.Features, Features.groupHoldoutSplit(_, _), Sql({
      val h = md5PrefixSql("CAST(user_id AS VARCHAR)")
      s"""SELECT split, count(DISTINCT user_id) AS n_groups,
         |  count(*) AS n_events, round(sum(value), 2) AS sum_value
         |FROM (SELECT user_id, value,
         |        CASE WHEN $h % 100 < 20 THEN 'test' ELSE 'train' END AS split
         |      FROM events)
         |GROUP BY 1""".stripMargin
    })),
    Entry("feat_target_encode", Family.Features, Features.targetEncodeLoo _, Sql(
      """WITH st AS (SELECT o_orderpriority, sum(o_totalprice) AS t_sum,
        |  count(*) AS t_n FROM orders GROUP BY 1)
        |SELECT o_orderkey, o.o_orderpriority,
        |  CASE WHEN t_n = 1 THEN NULL
        |       ELSE round((t_sum - o_totalprice) / CAST(t_n - 1 AS DOUBLE), 4)
        |  END AS loo_price
        |FROM orders o JOIN st USING (o_orderpriority)""".stripMargin)),
    Entry("tok_bpe_pairs", Family.Features, Features.bpePairCounts(_, _), Sql(
      """WITH words AS (
        |  SELECT w, count(*) AS freq FROM (
        |    SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS w
        |    FROM documents)
        |  GROUP BY 1 HAVING length(w) >= 2),
        |p AS (SELECT pair, CAST(sum(freq) AS BIGINT) AS cnt FROM (
        |    SELECT freq, unnest(list_transform(range(1, length(w)),
        |      i -> substring(w, i, 2))) AS pair
        |    FROM words) GROUP BY 1)
        |SELECT pair, cnt,
        |  CAST(row_number() OVER (ORDER BY cnt DESC, pair) AS INTEGER) AS rank
        |FROM p ORDER BY cnt DESC, pair LIMIT 20""".stripMargin)),
    Entry("tok_bpe_train", Family.Features, Features.bpeTrain(_, _), Sql(bpeTrainSql())),
    Entry("tok_bpe_encode", Family.Features, Features.bpeEncode(_, _), Sql(bpeEncodeSql())),
    Entry("feat_hash_vectors", Family.Features, Features.hashFeatures(_, _), Sql({
      val slots = (0 until 16).map(i =>
        s"count(*) FILTER (WHERE slot = $i) AS f$i").mkString(",\n  ")
      s"""WITH t AS (SELECT doc_id,
         |    unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
         |  FROM documents WHERE length(trim(text)) > 0),
         |h AS (SELECT doc_id, ${md5PrefixSql("tok")} % 16 AS slot FROM t)
         |SELECT doc_id, count(*) AS n_tokens,
         |  $slots
         |FROM h GROUP BY 1""".stripMargin
    })),
    Entry("feat_lag_windows", Family.Features, Features.lagFeatures _, Sql(
      """SELECT user_id, event_id,
        |  lag(value, 1) OVER w AS lag1, lag(value, 2) OVER w AS lag2,
        |  round(avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6) AS ma3
        |FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""".stripMargin)),
    // WOE: 0.5-smoothed shares, woe rounds to 6, the IV term multiplies
    // the ROUNDED woe — identical double composition on both engines
    Entry("feat_woe_encode", Family.Features, Features.woeEncode(_, _), Sql(
      """WITH g AS (SELECT o_orderpriority AS category,
        |    CAST(coalesce(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_pos,
        |    CAST(coalesce(sum(CASE WHEN o_orderstatus <> 'F' THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_neg
        |  FROM orders GROUP BY 1),
        |t AS (SELECT CAST(sum(n_pos) AS BIGINT) AS pos_tot,
        |        CAST(sum(n_neg) AS BIGINT) AS neg_tot FROM g),
        |w AS (SELECT category, n_pos, n_neg,
        |        round(ln(((n_pos + 0.5) / pos_tot) / ((n_neg + 0.5) / neg_tot)), 6) AS woe,
        |        CAST(n_pos AS DOUBLE) / pos_tot - CAST(n_neg AS DOUBLE) / neg_tot AS share_gap
        |      FROM g, t)
        |SELECT category, n_pos, n_neg, woe,
        |  round(share_gap * woe, 6) AS iv_term FROM w""".stripMargin))
  )

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    entries.map(e => e.name -> e.run).toMap

  def oracleSql: Map[String, String] =
    entries.flatMap(e => e.oracle match {
      case Sql(text) => Some(e.name -> text)
      case RowsOnly(_) => None
    }).toMap

  /** Bench's default selection: every entry but the ones declared out of
    * the sweep.
    */
  def defaultSweep: Seq[Entry] = entries.filter(_.inDefaultSweep)

  /** The entries a main runs. `SPARK_GRAFT_QUERIES` names them — a comma
    * list of entry names, or `all` — and with no value the main runs its
    * `default`. An unknown name is listed on stderr and the JVM exits
    * non-zero, so a typo cannot shrink a run to a valid-looking record.
    */
  def selected(tag: String, default: Seq[Entry]): Seq[Entry] =
    select(sys.env.get("SPARK_GRAFT_QUERIES"), default) match {
      case Right(es) => es
      case Left(unknown) =>
        System.err.println(s"[$tag] unknown queries: ${unknown.mkString(",")}")
        sys.exit(1)
    }

  /** `selected` without the environment: Left holds the unknown names. */
  private[graft] def select(spec: Option[String], default: Seq[Entry])
  : Either[Seq[String], Seq[Entry]] =
    spec.map(_.trim).filter(_.nonEmpty) match {
      case None => Right(default)
      case Some("all") => Right(entries)
      case Some(list) =>
        val byName = entries.map(e => e.name -> e).toMap
        val names = list.split(",").map(_.trim).filter(_.nonEmpty).toSeq.distinct
        val unknown = names.filterNot(byName.contains)
        if (unknown.nonEmpty) Left(unknown) else Right(names.map(byName))
    }

  /** DuckDB shingle CTE bodies shared by the near-dup and cluster oracles
    * (list form so WITH / WITH RECURSIVE can prefix them).
    */
  private val shingleCtes: String =
    """w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents),
      |sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS sh
      |       FROM w, UNNEST(range(1, len(w)-1)) AS t(i) WHERE len(w) >= 3),
      |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
      |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
      |          FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2),
      |jac AS (SELECT id_a, id_b, round(c / (sa.n + sb.n - c), 6) AS jaccard
      |        FROM inter JOIN sizes sa ON id_a = sa.doc_id JOIN sizes sb ON id_b = sb.doc_id
      |        WHERE round(c / (sa.n + sb.n - c), 6) >= 0.5)""".stripMargin

  private val shingleCte: String =
    s"WITH $shingleCtes\nSELECT id_a, id_b, jaccard FROM jac"

  private val cosineCte: String =
    """WITH v AS (SELECT vec_id,
      |  list_transform(embedding, x -> x::DOUBLE) AS e,
      |  sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))) AS nrm
      |  FROM embeddings)""".stripMargin

  /** The annLsh oracle replays the hyperplane bucketing in SQL: the
    * deterministic splitmix-seeded plane matrix (4 planes × 64 dims) is
    * embedded as double literals, so DuckDB computes the identical sign
    * pattern (same doubles, same left-to-right summation) and the full
    * bucketed top-k is exactly checkable — no "seeded hash" escape hatch.
    */
  private def annLshOracle: String = annLshOracleWith("q.bucket = n.bucket")

  private def bruteTopKSql: String =
    s"""$cosineCte,
       |scored AS (
       |  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
       |    round(list_sum(list_transform(range(1, len(q.e) + 1), i -> q.e[i] * n.e[i])) / (q.nrm * n.nrm), 6) AS cosine
       |  FROM v q JOIN v n ON q.vec_id < 10 AND n.vec_id <> q.vec_id)
       |SELECT query_id, neighbor_id, cosine,
       |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rank
       |FROM scored
       |QUALIFY rank <= 5""".stripMargin

  /** Metrics oracle nests the exact-truth and LSH-arm oracles as CTEs;
    * DCG discount / IDCG prefix-sum literals are the SAME Scala doubles
    * the operator interpolates, so neither engine computes its own log2.
    */
  private def evalMetricsOracle(k: Int = 5): String = {
    val disc = (1 to k).map(r => 1.0 / (math.log(r + 1) / math.log(2)))
    val discCase = (1 to k).map(r => s"WHEN $r THEN ${disc(r - 1)}")
      .mkString("CASE rank ", " ", " END")
    val idcgCase = (1 to k).map(n => s"WHEN $n THEN ${disc.take(n).sum}")
      .mkString("CASE n_truth ", " ", " END")
    s"""WITH truth AS ($bruteTopKSql),
       |arm AS ($annLshOracle),
       |tj AS (SELECT a.query_id, a.rank,
       |         CASE WHEN t.neighbor_id IS NULL THEN 0 ELSE 1 END AS hit
       |       FROM arm a LEFT JOIN truth t
       |         ON t.query_id = a.query_id AND t.neighbor_id = a.neighbor_id),
       |tc AS (SELECT query_id, count(*) AS n_truth FROM truth GROUP BY 1),
       |m AS (SELECT query_id, count(*) AS n_arm, sum(hit) AS hits,
       |        max(CASE WHEN hit = 1 THEN 1.0 / rank ELSE 0.0 END) AS mrr_raw,
       |        sum(CASE WHEN hit = 1 THEN $discCase ELSE 0.0 END) AS dcg
       |      FROM tj GROUP BY 1)
       |SELECT t.query_id, n_truth, coalesce(n_arm, 0) AS n_arm,
       |  round(coalesce(hits, 0) / n_truth, 6) AS recall,
       |  round(coalesce(mrr_raw, 0.0), 6) AS mrr,
       |  round(coalesce(dcg, 0.0) / ($idcgCase), 6) AS ndcg
       |FROM tc t LEFT JOIN m USING (query_id)""".stripMargin
  }

  /** Multi-probe radius-1 is exactly "bucket Hamming distance ≤ 1" — the
    * query-side probe explode replayed as a join condition.
    */
  private def annLshMultiProbeOracle: String =
    annLshOracleWith("bit_count(xor(q.bucket, n.bucket)) <= 1")

  private def annLshOracleWith(bucketCond: String, numPlanes: Int = 4,
                               queryCond: String = "q.vec_id < 10",
                               neighborCond: String = "TRUE"): String = {
    import graft.functions.VectorFunctions
    val dim = VectorFunctions.Dim
    val flat = VectorFunctions.hyperplanesFlat(numPlanes, dim)
    val planes = (0 until numPlanes).map { p =>
      (0 until dim).map(c => flat(p * dim + c).toString).mkString("[", ",", "]")
    }
    val bucket = (0 until numPlanes).map { p =>
      s"CASE WHEN list_sum(list_transform(range(1, ${dim + 1}), i -> e[i]*w$p[i])) > 0 THEN ${1 << p} ELSE 0 END"
    }.mkString(" + ")
    s"""$cosineCte,
       |p AS (SELECT ${planes.zipWithIndex.map { case (l, i) => s"$l AS w$i" }.mkString(", ")}),
       |b AS (SELECT vec_id, e, nrm, $bucket AS bucket FROM v, p),
       |scored AS (
       |  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
       |    round(list_sum(list_transform(range(1, ${dim + 1}), i -> q.e[i] * n.e[i])) / (q.nrm * n.nrm), 6) AS cosine
       |  FROM b q JOIN b n ON $queryCond AND $neighborCond AND n.vec_id <> q.vec_id AND $bucketCond)
       |SELECT query_id, neighbor_id, cosine,
       |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rank
       |FROM scored
       |QUALIFY rank <= 5""".stripMargin
  }

  /** kNN graph = the LSH oracle with the whole corpus as the query side
    * and the 8-plane (256-bucket) index.
    */
  private def knnGraphOracle: String =
    annLshOracleWith("q.bucket = n.bucket", numPlanes = 8, queryCond = "TRUE")

  /** The backward as-of oracle (DuckDB ASOF JOIN) of q24_asof_join and
    * its native-operator twin.
    */
  private def asofBackwardSql: String =
    """WITH c0 AS (SELECT user_id, ts, max(event_id) AS click_id FROM events
      |            WHERE event_type = 'click' GROUP BY 1, 2),
      |c AS (SELECT c0.user_id, c0.ts, c0.click_id, e.value AS click_value
      |      FROM c0 JOIN events e ON e.event_id = c0.click_id),
      |err AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'error')
      |SELECT err.event_id, err.user_id, c.click_id, c.ts AS click_ts, c.click_value
      |FROM err ASOF LEFT JOIN c ON err.user_id = c.user_id AND err.ts >= c.ts""".stripMargin

  /** The eval-contamination oracle of text_decontaminate and its Bloom-
    * prefiltered twin.
    */
  private def decontaminateSql: String =
    """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents),
      |sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS sh
      |       FROM w, UNNEST(range(1, len(w)-1)) AS t(i) WHERE len(w) >= 3),
      |ev AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 10 = 0),
      |hits AS (SELECT s.doc_id, count(*) AS n_shared FROM sh s JOIN ev USING (sh)
      |         WHERE s.doc_id % 10 <> 0 GROUP BY 1)
      |SELECT d.doc_id, coalesce(h.n_shared, 0) AS n_shared,
      |  coalesce(h.n_shared, 0) > 0 AS contaminated
      |FROM documents d LEFT JOIN hits h USING (doc_id)
      |WHERE d.doc_id % 10 <> 0""".stripMargin

  /** The range-join oracle of q25_range_join and its binned twin. */
  private def rangeJoinSql: String =
    """WITH r AS (SELECT s_suppkey, abs(s_acctbal) % 500 - 10 AS lo,
      |                  abs(s_acctbal) % 500 + 10 AS hi FROM supplier)
      |SELECT s_suppkey, count(*) AS n_events, round(sum(value), 2) AS sum_v
      |FROM r JOIN events e ON e.value >= r.lo AND e.value < r.hi
      |GROUP BY 1""".stripMargin

  /** Latest version per key, the oracle of q33_merge_upsert and the two
    * streaming upserts that converge to it.
    */
  private def latestPerKeySql: String =
    """SELECT user_id, event_type, last_ts, last_event_id, last_value, n_versions FROM (
      |  SELECT user_id, event_type, ts AS last_ts, event_id AS last_event_id,
      |         value AS last_value,
      |         count(*) OVER (PARTITION BY user_id, event_type) AS n_versions,
      |         row_number() OVER (PARTITION BY user_id, event_type
      |                            ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events) WHERE rn = 1""".stripMargin

  /** One oracle for BOTH window-top-k plans (composed q68_window_topk and
    * the TopKRewrite-driven q68_window_topk_native) — same contract as
    * the q24 as-of pair.
    */
  private val windowTopKSql: String =
    """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    CAST(row_number() OVER (PARTITION BY o_custkey
      |      ORDER BY o_totalprice DESC, o_orderkey ASC) AS INTEGER) AS rn
      |  FROM orders) WHERE rn <= 3""".stripMargin

  /** SemDeDup pipeline oracle: nests the kNN-graph oracle's CTEs
    * (8-plane LSH candidates, exact-cosine top-5), keeps edges with
    * cosine >= tau, closes them with the same recursive min-label
    * reachability the dedup_clusters oracle uses, and left-joins the
    * labels back onto the full vector corpus for the per-vector
    * keep/purge manifest (singletons keep themselves).
    */
  private def semDedupOracle(tau: Double = 0.45, k: Int = 5): String = {
    import graft.functions.VectorFunctions
    val dim = VectorFunctions.Dim
    val numPlanes = 8
    val flat = VectorFunctions.hyperplanesFlat(numPlanes, dim)
    val planes = (0 until numPlanes).map { p =>
      (0 until dim).map(c => flat(p * dim + c).toString).mkString("[", ",", "]")
    }
    val bucket = (0 until numPlanes).map { p =>
      s"CASE WHEN list_sum(list_transform(range(1, ${dim + 1}), i -> e[i]*w$p[i])) > 0 THEN ${1 << p} ELSE 0 END"
    }.mkString(" + ")
    s"""WITH RECURSIVE ${cosineCte.stripPrefix("WITH ")},
       |p AS (SELECT ${planes.zipWithIndex.map { case (l, i) => s"$l AS w$i" }.mkString(", ")}),
       |b AS (SELECT vec_id, e, nrm, $bucket AS bucket FROM v, p),
       |scored AS (
       |  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
       |    round(list_sum(list_transform(range(1, ${dim + 1}), i -> q.e[i] * n.e[i])) / (q.nrm * n.nrm), 6) AS cosine
       |  FROM b q JOIN b n ON n.vec_id <> q.vec_id AND q.bucket = n.bucket),
       |knn AS (SELECT query_id, neighbor_id, cosine,
       |  row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
       |  FROM scored),
       |edges AS (SELECT query_id AS a, neighbor_id AS b FROM knn
       |          WHERE rank <= $k AND cosine >= $tau),
       |e AS (SELECT a, b FROM edges UNION SELECT b, a FROM edges),
       |reach(x, l) AS (
       |  SELECT DISTINCT a, a FROM e
       |  UNION
       |  SELECT e.a, r.l FROM e JOIN reach r ON e.b = r.x),
       |lbl AS (SELECT x AS vec_id, min(l) AS cluster_id FROM reach GROUP BY 1),
       |sizes AS (SELECT cluster_id, count(*) AS n FROM lbl GROUP BY 1)
       |SELECT vv.vec_id,
       |  coalesce(lbl.cluster_id, vv.vec_id) AS cluster_id,
       |  coalesce(sizes.n, CAST(1 AS BIGINT)) AS n_members,
       |  coalesce(lbl.cluster_id, vv.vec_id) = vv.vec_id AS keep
       |FROM v vv
       |LEFT JOIN lbl ON vv.vec_id = lbl.vec_id
       |LEFT JOIN sizes ON coalesce(lbl.cluster_id, vv.vec_id) = sizes.cluster_id""".stripMargin
  }

  /** Incremental kNN = the same 8-plane index with the new batch (odd
    * vec_id) as the query side and the existing corpus (even) as the
    * neighbor side.
    */
  private def knnIncrementalOracle: String =
    annLshOracleWith("q.bucket = n.bucket", numPlanes = 8,
      queryCond = "q.vec_id % 2 = 1", neighborCond = "n.vec_id % 2 = 0")

  /** The simhash oracle replays the whole pipeline in SQL: md5-prefix
    * token hashes (hex parse via horner fold), 60 per-bit popularity
    * counts assembled into the signature, chunk-bucket candidate join,
    * exact hamming verify.
    */
  private val simhashOracle: String = {
    val sigTerms = (0 until 60).map { b =>
      s"CASE WHEN 2 * count(*) FILTER (WHERE (h >> $b) & 1 = 1) > count(*) THEN ${1L << b} ELSE 0 END"
    }.mkString("\n + ")
    s"""WITH tok AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS t
       |            FROM documents WHERE length(trim(text)) > 0),
       |h AS (SELECT doc_id, list_reduce(list_transform(range(1, 16), i ->
       |        CAST(ord(substr(md5(t), i, 1)) -
       |             CASE WHEN substr(md5(t), i, 1) BETWEEN '0' AND '9' THEN 48 ELSE 87 END AS BIGINT)),
       |        (a, x) -> a * 16 + x) AS h FROM tok),
       |sig AS (SELECT doc_id, $sigTerms AS sig FROM h GROUP BY doc_id),
       |chunks AS (SELECT doc_id, sig, CAST(i AS INTEGER) AS chunk_idx,
       |           (sig >> (i * 16)) & 65535 AS chunk
       |           FROM sig, UNNEST([0, 1, 2, 3]) t(i))
       |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       |  CAST(bit_count(xor(a.sig, b.sig)) AS INTEGER) AS hamming
       |FROM chunks a JOIN chunks b
       |ON a.chunk_idx = b.chunk_idx AND a.chunk = b.chunk AND a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.sig, b.sig)) <= 3""".stripMargin
  }

  /** Multimodal phash oracle — the simhash replay over sliding character
    * 4-grams (the fixture's payload bytes ARE its ASCII characters):
    * same md5-prefix hash, same 60-bit vote terms, same chunk-bucket
    * candidates and hamming ≤ 3 verify.
    */
  private val phashPairCtes: String = {
    val sigTerms = (0 until 60).map { b =>
      s"CASE WHEN 2 * count(*) FILTER (WHERE (h >> $b) & 1 = 1) > count(*) THEN ${1L << b} ELSE 0 END"
    }.mkString("\n + ")
    s"""g AS (SELECT doc_id, substr(text, CAST(i AS INTEGER), 4) AS t
       |           FROM documents, UNNEST(range(1, length(text) - 2)) u(i)
       |           WHERE length(text) >= 4),
       |h AS (SELECT doc_id, ${md5PrefixSql("t")} AS h FROM g),
       |sig AS (SELECT doc_id, $sigTerms AS sig FROM h GROUP BY doc_id),
       |chunks AS (SELECT doc_id, sig, CAST(i AS INTEGER) AS chunk_idx,
       |           (sig >> (i * 16)) & 65535 AS chunk
       |           FROM sig, UNNEST([0, 1, 2, 3]) t(i)),
       |prs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       |  CAST(bit_count(xor(a.sig, b.sig)) AS INTEGER) AS hamming
       |FROM chunks a JOIN chunks b
       |ON a.chunk_idx = b.chunk_idx AND a.chunk = b.chunk AND a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.sig, b.sig)) <= 3)""".stripMargin
  }

  private val phashOracle: String =
    s"""WITH $phashPairCtes
       |SELECT id_a, id_b, hamming FROM prs""".stripMargin

  /** Connected-components labels as MATERIALIZED min-label rounds with
    * pointer doubling — the scalable replacement for the recursive
    * `reach(v, l)` transitive-closure CTE, whose state is quadratic in
    * component size (it enumerates every (member, reachable-member)
    * pair; at sf1 that recursion is the one long-documented oracle
    * demotion). Each round takes the min over {self, neighbors' labels
    * (hop), label-of-label (double)}; hop+double halves the remaining
    * label distance per round, so `rounds` = 16 converges for any
    * component diameter ≤ 2^16 — far past fixture scale — with
    * node-sized state per round. Expects an edge CTE `e(a, b)` already
    * symmetrized; emits `lbl(v, cluster_id)`.
    */
  private def ccLabelCtes(rounds: Int = 16): String = {
    val r0 = "c0 AS MATERIALIZED (SELECT a AS v, least(a, min(b)) AS lab FROM e GROUP BY a)"
    val steps = (1 to rounds).map { k =>
      val p = s"c${k - 1}"
      s"""c$k AS MATERIALIZED (
         |  SELECT m.v, min(m.l) AS lab FROM (
         |    SELECT v, lab AS l FROM $p
         |    UNION ALL
         |    SELECT e.a AS v, p2.lab AS l FROM e JOIN $p p2 ON e.b = p2.v
         |    UNION ALL
         |    SELECT c.v, g2.lab AS l FROM $p c JOIN $p g2 ON c.lab = g2.v
         |  ) m GROUP BY m.v)""".stripMargin
    }
    (r0 +: steps).mkString(",\n") +
      s",\nlbl AS (SELECT v, lab AS cluster_id FROM c$rounds)"
  }

  /** The mm_decode oracle replays the stub decoder's 64-bit polynomial
    * hash (h = 31·h + byte, wrapping) in SQL via HUGEINT mod-2⁶⁴
    * arithmetic — documents are ASCII, so ord(char) = byte value.
    */
  private val mmDecodeOracle: String = {
    val f = (0 until 8).map { d =>
      val pow = 1L << (8 * d)
      s"(((hu // $pow) % 256)::DOUBLE - 128)/128 AS f$d"
    }.mkString(",\n")
    s"""WITH h AS (
       |  SELECT doc_id, CAST(length(text) AS INTEGER) AS n_bytes,
       |    list_reduce(list_prepend(1125899906842597::HUGEINT,
       |      list_transform(range(1, length(text)+1), i -> ord(substr(text, i, 1))::HUGEINT)),
       |      (acc, x) -> (acc*31 + x) % 18446744073709551616::HUGEINT) AS hu
       |  FROM documents),
       |s AS (SELECT doc_id, n_bytes, hu,
       |  CAST(CASE WHEN hu >= 9223372036854775808::HUGEINT
       |       THEN hu - 18446744073709551616::HUGEINT ELSE hu END AS BIGINT) AS content_hash
       |  FROM h)
       |SELECT doc_id, n_bytes, content_hash,
       |CAST(16 + (abs(content_hash) % 1024) AS INTEGER) AS width,
       |CAST(16 + ((hu // 1024) % 1024) AS INTEGER) AS height,
       |$f
       |FROM s""".stripMargin
  }

  /** The ann_ivf oracle replays the whole index in SQL: the deterministic
    * seed-point quantizer (centroids = embeddings of vec_id < numCells,
    * straight from the parquet), nearest-cell assignment by squared L2
    * with lowest-cell tie-break (the kernel's strict `<` keeps the first
    * minimal index), per-query nprobe nearest cells, then exact cosine
    * scoring + top-k inside the probed cells — bit-for-bit the Spark
    * pipeline (same doubles, same left-to-right sums).
    */
  private def annIvfOracle(numQueries: Int = 10, k: Int = 5,
                           numCells: Int = 16, nprobe: Int = 3): String = {
    val dim = graft.functions.VectorFunctions.Dim
    s"""$cosineCte,
       |c AS (SELECT vec_id AS cell, e AS ce FROM v WHERE vec_id < $numCells),
       |d AS (SELECT v.vec_id, v.e, v.nrm, c.cell,
       |  list_sum(list_transform(range(1, ${dim + 1}), i -> (v.e[i] - c.ce[i]) * (v.e[i] - c.ce[i]))) AS dist
       |  FROM v, c),
       |a AS (SELECT vec_id, e, nrm, cell FROM d
       |      QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) = 1),
       |probes AS (SELECT vec_id AS query_id, cell FROM d WHERE vec_id < $numQueries
       |           QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) <= $nprobe),
       |q AS (SELECT vec_id AS query_id, e AS qe, nrm AS qn FROM v WHERE vec_id < $numQueries),
       |scored AS (
       |  SELECT p.query_id, a.vec_id AS neighbor_id,
       |    round(list_sum(list_transform(range(1, ${dim + 1}), i -> q.qe[i] * a.e[i])) / (q.qn * a.nrm), 6) AS cosine
       |  FROM probes p JOIN a ON a.cell = p.cell JOIN q ON q.query_id = p.query_id
       |  WHERE a.vec_id <> p.query_id)
       |SELECT query_id, neighbor_id, cosine,
       |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rank
       |FROM scored
       |QUALIFY rank <= $k""".stripMargin
  }

  /** The IVF-PQ oracle replays the whole index: annIvfOracle's coarse
    * seed-point cells, plus per-subspace PQ codes (argmin against the
    * first-ksub seed codebook, lowest-code tie-break — the kernel's
    * strict `<`), ADC candidate ranking with subspace terms summed IN m
    * ORDER (list_sum over list(term ORDER BY m), matching the Spark
    * kernel's outer left-to-right loop), and the exact-cosine refinement
    * on the rerank survivors. Every distance is the same double chain the
    * compiled kernels run, so ADC — and therefore the candidate set — is
    * bit-identical across engines.
    */
  private def annIvfPqOracle(numQueries: Int = 10, k: Int = 5,
                             numCells: Int = 16, nprobe: Int = 3,
                             numSub: Int = 8, ksub: Int = 16,
                             rerank: Int = 32): String = {
    val dim = graft.functions.VectorFunctions.Dim
    val dsub = dim / numSub
    s"""$cosineCte,
       |c AS (SELECT vec_id AS cell, e AS ce FROM v WHERE vec_id < $numCells),
       |d AS (SELECT v.vec_id, v.e, v.nrm, c.cell,
       |  list_sum(list_transform(range(1, ${dim + 1}), i -> (v.e[i] - c.ce[i]) * (v.e[i] - c.ce[i]))) AS dist
       |  FROM v, c),
       |a AS (SELECT vec_id, e, nrm, cell FROM d
       |      QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) = 1),
       |cb AS (SELECT vec_id AS code, e AS se FROM v WHERE vec_id < $ksub),
       |encd AS (SELECT v.vec_id, sub.m, cb.code,
       |  list_sum(list_transform(range(1, ${dsub + 1}),
       |    i -> (v.e[sub.m * $dsub + i] - cb.se[sub.m * $dsub + i]) * (v.e[sub.m * $dsub + i] - cb.se[sub.m * $dsub + i]))) AS dist
       |  FROM v, range(0, $numSub) sub(m), cb),
       |enc AS (SELECT vec_id, m, code FROM encd
       |        QUALIFY row_number() OVER (PARTITION BY vec_id, m ORDER BY dist, code) = 1),
       |probes AS (SELECT vec_id AS query_id, cell FROM d WHERE vec_id < $numQueries
       |           QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) <= $nprobe),
       |q AS (SELECT vec_id AS query_id, e AS qe, nrm AS qn FROM v WHERE vec_id < $numQueries),
       |adct AS (SELECT p.query_id, a.vec_id AS neighbor_id, en.m,
       |  list_sum(list_transform(range(1, ${dsub + 1}),
       |    i -> (q.qe[en.m * $dsub + i] - cb.se[en.m * $dsub + i]) * (q.qe[en.m * $dsub + i] - cb.se[en.m * $dsub + i]))) AS term
       |  FROM probes p JOIN a ON a.cell = p.cell JOIN q ON q.query_id = p.query_id
       |  JOIN enc en ON en.vec_id = a.vec_id JOIN cb ON cb.code = en.code
       |  WHERE a.vec_id <> p.query_id),
       |adc AS (SELECT query_id, neighbor_id, list_sum(list(term ORDER BY m)) AS adc
       |        FROM adct GROUP BY query_id, neighbor_id),
       |cand AS (SELECT query_id, neighbor_id FROM adc
       |         QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY adc, neighbor_id) <= $rerank),
       |scored AS (
       |  SELECT cand.query_id, cand.neighbor_id,
       |    round(list_sum(list_transform(range(1, ${dim + 1}), i -> q.qe[i] * a.e[i])) / (q.qn * a.nrm), 6) AS cosine
       |  FROM cand JOIN a ON a.vec_id = cand.neighbor_id JOIN q ON q.query_id = cand.query_id)
       |SELECT query_id, neighbor_id, cosine,
       |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rank
       |FROM scored
       |QUALIFY rank <= $k""".stripMargin
  }

  /** The BM25 oracle replays the static scoring tree term-by-term IN
    * QUERY ORDER: rational Robertson idf, the (0.75·dl)/(Σdl/N) length
    * normalization written with the exact operator grouping the Spark
    * expression compiles to, and k1+1 spelled as (1.2 + 1.0) — the SUM,
    * not the decimal literal 2.2, which is a DIFFERENT double.
    */
  private def bm25Oracle(query: Seq[String], k: Int = 10,
                         k1: Double = 1.2, b: Double = 0.75): String = {
    val tfs = query.zipWithIndex.map { case (t, i) =>
      s"len(list_filter(w, x -> x = '$t')) AS tf_$i"
    }.mkString(",\n  ")
    val dfs = query.indices.map(i =>
      s"CAST(count(*) FILTER (WHERE tf_$i > 0) AS DOUBLE) AS df_$i").mkString(",\n  ")
    val terms = query.indices.map { i =>
      s"((n_docs - df_$i + 0.5) / (df_$i + 0.5)) * (tf_$i * ($k1 + 1.0)) / " +
        s"(tf_$i + $k1 * ((1.0 - $b) + ($b * dl) / (sum_dl / n_docs)))"
    }.mkString("\n    + ")
    s"""WITH w AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS w FROM documents),
       |f AS (SELECT doc_id, len(w) AS dl,
       |  $tfs
       |  FROM w),
       |st AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, CAST(sum(dl) AS DOUBLE) AS sum_dl,
       |  $dfs
       |  FROM f),
       |sc AS (SELECT doc_id, CAST(dl AS INTEGER) AS dl,
       |  round(0.0
       |    + $terms, 6) AS score
       |  FROM f, st)
       |SELECT doc_id, dl, score,
       |  CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INTEGER) AS rank
       |FROM sc
       |QUALIFY rank <= $k""".stripMargin
  }

  /** The hybrid-RRF oracle fuses the BM25 oracle (embedded as a
    * derived-table subquery with its own CTEs) and the single-query
    * cosine arm; 1/(60+rank) terms are integer-derived divisions added
    * text-then-vector, so the fusion replays exactly. Ranking windows
    * order on the UNROUNDED rrf, as the Spark plan does.
    */
  private def hybridRrfOracle(k: Int = 10, kArm: Int = 20): String = {
    val bm = bm25Oracle(graft.operators.TextOps.Bm25Query, kArm)
    s"""$cosineCte,
       |scored AS (
       |  SELECT n.vec_id AS doc_id,
       |    round(list_sum(list_transform(range(1, len(q.e) + 1), i -> q.e[i] * n.e[i])) / (q.nrm * n.nrm), 6) AS cosine
       |  FROM v q JOIN v n ON q.vec_id = 0 AND n.vec_id <> 0),
       |va AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY cosine DESC, doc_id) AS INTEGER) AS vec_rank
       |       FROM scored QUALIFY vec_rank <= $kArm),
       |t AS (SELECT doc_id, rank AS text_rank FROM (
       |$bm
       |) bmq),
       |f AS (SELECT coalesce(t.doc_id, va.doc_id) AS doc_id, t.text_rank, va.vec_rank,
       |  coalesce(1.0 / (60.0 + t.text_rank), 0.0) + coalesce(1.0 / (60.0 + va.vec_rank), 0.0) AS rrf
       |  FROM t FULL JOIN va ON t.doc_id = va.doc_id)
       |SELECT doc_id, text_rank, vec_rank, round(rrf, 6) AS rrf,
       |  CAST(row_number() OVER (ORDER BY rrf DESC, doc_id) AS INTEGER) AS rank
       |FROM f
       |QUALIFY rank <= $k""".stripMargin
  }

  /** The diversity-sample oracle replays the √n-cell quantizer and the
    * per-cell representative rule (min dist, lowest vec_id tie) — the
    * assignment distance IS the ordering key, so the same double chain
    * decides both engines' medoids.
    */
  private def sampleDiverseOracle: String = {
    val dim = graft.functions.VectorFunctions.Dim
    s"""$cosineCte,
       |nc AS (SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) AS n FROM embeddings),
       |c AS (SELECT vec_id AS cell, e AS ce FROM v WHERE vec_id < (SELECT n FROM nc)),
       |d AS (SELECT v.vec_id, c.cell,
       |  list_sum(list_transform(range(1, ${dim + 1}), i -> (v.e[i] - c.ce[i]) * (v.e[i] - c.ce[i]))) AS dist
       |  FROM v, c),
       |a AS (SELECT vec_id, cell, dist FROM d
       |      QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) = 1),
       |sz AS (SELECT cell, count(*) AS cell_size FROM a GROUP BY 1)
       |SELECT a.cell, a.vec_id AS rep_id, sz.cell_size, round(a.dist, 6) AS dist
       |FROM a JOIN sz USING (cell)
       |QUALIFY row_number() OVER (PARTITION BY a.cell ORDER BY a.dist, a.vec_id) = 1""".stripMargin
  }

  /** The semantic-dedup oracle replays the √n-cell seed-point quantizer
    * (annIvfOracle's technique, cell count derived from the corpus), the
    * within-cell cosine pairing, and the greedy lowest-id survivor rule —
    * same doubles, same left-to-right sums as the compiled kernels.
    */
  private def semanticDedupOracle(threshold: Double = 0.45): String = {
    val dim = graft.functions.VectorFunctions.Dim
    s"""$cosineCte,
       |nc AS (SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) AS n FROM embeddings),
       |c AS (SELECT vec_id AS cell, e AS ce FROM v WHERE vec_id < (SELECT n FROM nc)),
       |d AS (SELECT v.vec_id, v.e, v.nrm, c.cell,
       |  list_sum(list_transform(range(1, ${dim + 1}), i -> (v.e[i] - c.ce[i]) * (v.e[i] - c.ce[i]))) AS dist
       |  FROM v, c),
       |a AS (SELECT vec_id, e, nrm, cell FROM d
       |      QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) = 1),
       |pairs AS (
       |  SELECT y.vec_id AS vec_id, y.cell AS cell, x.vec_id AS keep_id,
       |    round(list_sum(list_transform(range(1, ${dim + 1}), i -> x.e[i] * y.e[i])) / (x.nrm * y.nrm), 6) AS cosine
       |  FROM a x JOIN a y ON x.cell = y.cell AND x.vec_id < y.vec_id)
       |SELECT vec_id, cell, keep_id, cosine FROM pairs
       |WHERE cosine >= $threshold
       |QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY keep_id) = 1""".stripMargin
  }

  /** The dim-reduce oracle embeds the same deterministic projection matrix
    * as SQL literals (annLshOracle's technique) and replays
    * y_j = Σ_i x_i·R_ji / √outDim with identical left-to-right summation.
    */
  private def dimReduceOracle: String = {
    import graft.functions.VectorFunctions
    val dim = VectorFunctions.Dim
    val outDim = 8
    val flat = VectorFunctions.hyperplanesFlat(outDim, dim)
    val planes = (0 until outDim).map { j =>
      (0 until dim).map(c => flat(j * dim + c).toString).mkString("[", ",", "]")
    }
    val ys = (0 until outDim).map { j =>
      s"round(list_sum(list_transform(range(1, ${dim + 1}), i -> embedding[i]::DOUBLE * w$j[i])) / sqrt(${outDim}.0), 6) AS y$j"
    }.mkString(",\n")
    s"""WITH p AS (SELECT ${planes.zipWithIndex.map { case (l, j) => s"$l AS w$j" }.mkString(", ")})
       |SELECT vec_id,
       |$ys
       |FROM embeddings, p""".stripMargin
  }

  /** DuckDB replay of [[graft.functions.TextFunctions.portableTokenHash]]:
    * horner-parse the first 15 hex chars of md5 into the same 60-bit long.
    */
  /** DuckDB replay of [[graft.operators.Layout.zvalue]] over the low 8 bits
    * of two integer columns: bit i of x at position 2i, bit i of y at 2i+1.
    */
  /** Gap-based sessionization as SQL islands — gates both the batch
    * `session_window` (q17) and its append-mode streaming twin
    * (stream_session_native): same gap, same (ts, event_id) tie order.
    */
  private val sessionizeSql: String =
    """WITH o AS (SELECT user_id, ts, value,
      |  CASE WHEN lag(ts) OVER win IS NULL
      |       OR ts - lag(ts) OVER win >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_s
      |  FROM events WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |s AS (SELECT user_id, ts, value, sum(new_s) OVER
      |  (PARTITION BY user_id ORDER BY ts, value ROWS UNBOUNDED PRECEDING) AS sid FROM o)
      |SELECT user_id, min(ts) AS session_start, max(ts) AS last_ts,
      |  count(*) AS n_events, round(coalesce(sum(value), 0), 2) AS sum_v
      |FROM s GROUP BY user_id, sid""".stripMargin

  /** Order→part co-purchase edge CTEs shared by the graph oracles:
    * distinct canonical pairs (src < dst) exactly as Graph.coPairs
    * derives them.
    */
  /** graph_kcore oracle: one CTE layer per synchronous peel round —
    * n_r = degree test over e_{r-1}, e_r = the n_r-induced subgraph.
    * The Spark side may exit early at a fixpoint; the peel is a
    * monotone ⊆ cascade, so the full `rounds` stack here computes the
    * identical survivor set.
    */
  private def kcoreOracle(k: Int = 65, rounds: Int = 6): String = {
    // AS MATERIALIZED on every round CTE: each e_{r-1} is referenced
    // twice (by n_r and e_r), so an inlining planner re-expands the
    // whole prefix 3^r times — measured as a disk-filling spill at
    // sf0.1+. Materialization makes the replay linear in rounds.
    val sb = new StringBuilder(s"WITH $coPairCtes,\n")
    sb.append("e0 AS MATERIALIZED (SELECT src AS a, dst AS b FROM p " +
      "UNION ALL SELECT dst, src FROM p)")
    for (r <- 1 to rounds) {
      sb.append(s",\nn$r AS MATERIALIZED (SELECT a, count(*) AS deg " +
        s"FROM e${r - 1} GROUP BY a HAVING count(*) >= $k)")
      if (r < rounds)
        sb.append(s",\ne$r AS MATERIALIZED (SELECT e.a, e.b FROM e${r - 1} e " +
          s"JOIN n$r x ON e.a = x.a JOIN n$r y ON e.b = y.a)")
    }
    sb.append(s"\nSELECT a AS node, deg AS core_deg FROM n$rounds")
    sb.toString
  }

  /** Connected components as bounded min-label rounds WITH POINTER
    * JUMPING — each round takes the min over {self, neighbors' labels,
    * label-of-label}, so reach doubles per round and `rounds` layers
    * cover components of diameter ≈ 2^rounds (the co-purchase giant
    * component converges by round 3 at sf0.01 and round 4 at sf1;
    * rounds=6 leaves margin). This sidesteps the transitive-closure
    * blowup a recursive-CTE oracle would hit on a dense giant component:
    * every layer is node-sized. AS MATERIALIZED on each layer (each is
    * referenced three times — the kcore CTE lesson). Labels converge to
    * the component-minimum id, exactly `Dedup.componentsOf`'s labeling.
    *
    * The bound is data-dependent, so the oracle SELF-DIAGNOSES: one extra
    * layer runs and a poison row (cluster_id −1) is emitted iff the last
    * two layers differ. An under-converged oracle on some future fixture
    * then fails the gate LOUDLY as an oracle-parameter artifact (the −1
    * row names the cause) instead of masquerading as an engine bug.
    */
  private def componentsOracle(rounds: Int = 6): String = {
    val sb = new StringBuilder(s"WITH $coPairCtes,\n")
    sb.append("e AS MATERIALIZED (SELECT src, dst FROM p " +
      "UNION ALL SELECT dst, src FROM p),\n")
    sb.append("l0 AS MATERIALIZED (SELECT src AS node, src AS lbl FROM e GROUP BY 1)")
    for (r <- 1 to rounds + 1)
      sb.append(s""",
        |l$r AS MATERIALIZED (SELECT node, min(lbl) AS lbl FROM (
        |  SELECT node, lbl FROM l${r - 1}
        |  UNION ALL SELECT e.dst AS node, l.lbl
        |    FROM e JOIN l${r - 1} l ON e.src = l.node
        |  UNION ALL SELECT a.node, b.lbl
        |    FROM l${r - 1} a JOIN l${r - 1} b ON a.lbl = b.node
        |) GROUP BY node)""".stripMargin)
    sb.append(s"\nSELECT lbl AS cluster_id, count(*) AS n_members " +
      s"FROM l${rounds + 1} GROUP BY 1\n" +
      s"UNION ALL SELECT CAST(-1 AS BIGINT), CAST(-1 AS BIGINT) " +
      s"WHERE EXISTS (SELECT 1 FROM l${rounds + 1} a " +
      s"JOIN l$rounds b ON a.node = b.node WHERE a.lbl <> b.lbl)")
    sb.toString
  }

  private val coPairCtes: String =
    """li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |p AS (SELECT a.l_partkey AS src, b.l_partkey AS dst
      |      FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
      |       AND a.l_partkey < b.l_partkey
      |      GROUP BY 1, 2)""".stripMargin

  /** Fixed-iteration PageRank as chained CTEs — one CTE layer per
    * iteration, the identical teleport/damping literals and double
    * divisions the Spark plan embeds (Graph.pagerank's Scaladoc spells
    * out the one-ulp literal discipline).
    */
  /** Synchronous label propagation as chained CTEs — one layer per
    * round; the per-node plurality argmax replays Spark's
    * max(struct(cnt, -label)) via (count DESC, label ASC) ranking.
    */
  private def labelPropOracle(iters: Int = 2): String = {
    val layers = (1 to iters).map { i =>
      s"""l$i AS (SELECT dst AS node, lbl FROM (
         |  SELECT e.dst, l.lbl, count(*) AS cnt,
         |    row_number() OVER (PARTITION BY e.dst
         |      ORDER BY count(*) DESC, l.lbl) AS rn
         |  FROM e JOIN l${i - 1} l ON e.src = l.node GROUP BY e.dst, l.lbl)
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH $coPairCtes,
       |e AS (SELECT src, dst FROM p UNION ALL SELECT dst, src FROM p),
       |d AS (SELECT src AS node, count(*) AS deg FROM e GROUP BY 1),
       |l0 AS (SELECT node, node AS lbl FROM d),
       |$layers
       |SELECT d.node AS part, l$iters.lbl AS community, d.deg AS deg
       |FROM l$iters JOIN d ON l$iters.node = d.node""".stripMargin
  }

  private def pagerankOracle(iters: Int = 3): String = {
    val layers = (1 to iters).map { i =>
      s"""r$i AS (SELECT e.dst AS node,
         |  0.15 / (SELECT n FROM nn) + 0.85 * sum(r.rank / d2.deg) AS rank
         |  FROM e JOIN r${i - 1} r ON e.src = r.node
         |  JOIN d d2 ON e.src = d2.node GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH $coPairCtes,
       |e AS (SELECT src, dst FROM p UNION ALL SELECT dst, src FROM p),
       |d AS (SELECT src AS node, count(*) AS deg FROM e GROUP BY 1),
       |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM d),
       |r0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS rank FROM d),
       |$layers
       |SELECT d.node AS part, round(r$iters.rank * (SELECT n FROM nn), 6) AS pagerank,
       |  d.deg AS deg
       |FROM r$iters JOIN d ON r$iters.node = d.node""".stripMargin
  }

  private def zvalSql(x: String, y: String): String =
    (0 until 8).map(i =>
      s"((($x % 256) >> $i) & 1) * ${1L << (2 * i)} + " +
        s"((($y % 256) >> $i) & 1) * ${1L << (2 * i + 1)}").mkString(" + ")

  private def md5PrefixSql(e: String): String =
    s"list_reduce(list_transform(range(1, 16), i -> " +
      s"CAST(ord(substr(md5($e), i, 1)) - CASE WHEN substr(md5($e), i, 1) " +
      s"BETWEEN '0' AND '9' THEN 48 ELSE 87 END AS BIGINT)), (a, x) -> a * 16 + x)"

  /** dq_profile oracle: one SELECT per lineitem column, UNION ALL — the
    * oracle may scan N times; the engine pays ONE scan (+ the exact-
    * distinct Expand). Sums/counts cast to BIGINT so both engines hash
    * identical integer types; non-numeric columns carry NULL range.
    */
  private def dqProfileSql: String = {
    val numeric = Set("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
      "l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val cols = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
      "l_quantity", "l_extendedprice", "l_discount", "l_tax",
      "l_returnflag", "l_linestatus", "l_shipdate")
    cols.map { c =>
      val minMax =
        if (numeric(c)) s"CAST(min($c) AS DOUBLE) AS min_num, CAST(max($c) AS DOUBLE) AS max_num"
        else "CAST(NULL AS DOUBLE) AS min_num, CAST(NULL AS DOUBLE) AS max_num"
      s"""SELECT '$c' AS col_name, count(*) AS n_rows,
         |  CAST(count(*) - count($c) AS BIGINT) AS n_nulls,
         |  round((count(*) - count($c)) / CAST(count(*) AS DOUBLE), 6) AS null_ratio,
         |  count(DISTINCT $c) AS n_distinct, $minMax FROM lineitem""".stripMargin
    }.mkString("\nUNION ALL\n")
  }

  /** emb_matryoshka_recall oracle: each truncation arm replays the
    * prefix-sliced cosine ranking (double arithmetic, 6-decimal round,
    * id tie-break — the ann_brute discipline) and counts survivors of
    * the full-dimension truth set; the full-dim arm must report recall
    * 1.0 by construction.
    */
  private def matryoshkaOracle(dims: Seq[Int] = Seq(8, 16, 64),
                               nq: Int = 10, k: Int = 5): String =
    dims.map { d =>
      s"""SELECT $d AS trunc_dim, CAST(count(*) AS BIGINT) AS n_hits,
         |  round(count(*) / ${(nq * k).toDouble}, 6) AS recall
         |FROM (
         |  WITH vt AS (SELECT vec_id,
         |         list_transform(embedding[1:$d], x -> x::DOUBLE) AS e,
         |         sqrt(list_sum(list_transform(embedding[1:$d],
         |           x -> x::DOUBLE * x::DOUBLE))) AS nrm
         |       FROM embeddings),
         |  scored AS (SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
         |      round(list_sum(list_transform(range(1, $d + 1),
         |        i -> q.e[i] * n.e[i])) / (q.nrm * n.nrm), 6) AS cosine
         |    FROM vt q JOIN vt n ON q.vec_id < $nq AND n.vec_id <> q.vec_id),
         |  arm AS (SELECT query_id, neighbor_id FROM (
         |      SELECT query_id, neighbor_id, row_number() OVER (
         |        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
         |      FROM scored) WHERE rank <= $k),
         |  truth AS ($bruteTopKSql)
         |  SELECT 1 FROM arm JOIN truth t
         |    ON t.query_id = arm.query_id AND t.neighbor_id = arm.neighbor_id)"""
        .stripMargin
    }.mkString("\nUNION ALL\n")

  /** sketch_theta_overlap oracle: the KMV/theta sketch is a pure
    * function of each type's distinct-user set under the portable hash,
    * so DuckDB replays sketch construction (rank the hashes, keep k),
    * θ resolution, the below-θ union/intersection counts, and the
    * (n * H) / θ estimate arithmetic in the same double order.
    */
  private def thetaOverlapSql: String = {
    val h = md5PrefixSql("CAST(user_id AS VARCHAR)")
    val big = "1152921504606846976" // 2^60, the portable hash space
    s"""WITH hd AS (SELECT DISTINCT event_type, $h AS hv FROM events),
       |rk AS (SELECT event_type, hv, row_number() OVER (
       |         PARTITION BY event_type ORDER BY hv) AS rn FROM hd),
       |sk AS (SELECT event_type, hv FROM rk WHERE rn <= 256),
       |th AS (SELECT event_type, count(*) AS sz,
       |         CASE WHEN count(*) = 256 THEN max(hv) ELSE $big END AS theta
       |       FROM sk GROUP BY 1),
       |p AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
       |        least(a.theta, b.theta) AS theta
       |      FROM th a JOIN th b ON a.event_type < b.event_type),
       |u AS (SELECT p.type_a, p.type_b, count(DISTINCT s.hv) AS n_union_minima
       |      FROM p JOIN sk s ON (s.event_type = p.type_a OR s.event_type = p.type_b)
       |        AND s.hv < p.theta
       |      GROUP BY 1, 2),
       |i AS (SELECT p.type_a, p.type_b, count(*) AS n_inter_minima
       |      FROM p JOIN sk sa ON sa.event_type = p.type_a AND sa.hv < p.theta
       |        JOIN sk sb ON sb.event_type = p.type_b AND sb.hv = sa.hv
       |      GROUP BY 1, 2)
       |SELECT p.type_a, p.type_b, p.theta, u.n_union_minima,
       |  CAST(coalesce(i.n_inter_minima, 0) AS BIGINT) AS n_inter_minima,
       |  round(CASE WHEN p.theta < $big
       |    THEN CAST(u.n_union_minima AS DOUBLE) * $big.0 / CAST(p.theta AS DOUBLE)
       |    ELSE CAST(u.n_union_minima AS DOUBLE) END, 4) AS est_union,
       |  round(CASE WHEN p.theta < $big
       |    THEN CAST(coalesce(i.n_inter_minima, 0) AS DOUBLE) * $big.0 / CAST(p.theta AS DOUBLE)
       |    ELSE CAST(coalesce(i.n_inter_minima, 0) AS DOUBLE) END, 4) AS est_intersect,
       |  round(CAST(coalesce(i.n_inter_minima, 0) AS DOUBLE)
       |    / CAST(u.n_union_minima AS DOUBLE), 6) AS est_jaccard
       |FROM p JOIN u ON u.type_a = p.type_a AND u.type_b = p.type_b
       |LEFT JOIN i ON i.type_a = p.type_a AND i.type_b = p.type_b""".stripMargin
  }

  /** tok_bpe_train oracle: one CTE group per merge round — pair ranking
    * (count desc, pair asc LIMIT 1), then the greedy non-overlapping
    * application as the SAME gaps-and-islands window algebra the engine
    * runs (runs of consecutive matches, apply at even offsets). Every
    * round CTE is MATERIALIZED: t_{r-1} is referenced by both the
    * ranking and the application, and an inlining planner would
    * re-expand the prefix exponentially (the graph_kcore lesson).
    */
  private def bpeRoundCtes(rounds: Int): String = {
    val sb = new StringBuilder("WITH t0 AS MATERIALIZED (" +
      "SELECT doc_id, CAST(unnest(range(0, len(l))) AS BIGINT) AS pos, " +
      "unnest(l) AS tok FROM (SELECT doc_id, " +
      "string_split_regex(trim(lower(text)), '\\s+') AS l FROM documents))")
    for (r <- 1 to rounds) {
      sb.append(s""",
        |p$r AS MATERIALIZED (SELECT doc_id, pos, tok,
        |  lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt FROM t${r - 1}),
        |top$r AS MATERIALIZED (SELECT tok AS a, nxt AS b, CAST(count(*) AS BIGINT) AS c
        |  FROM p$r WHERE nxt IS NOT NULL GROUP BY 1, 2
        |  ORDER BY c DESC, a, b LIMIT 1),
        |f$r AS MATERIALIZED (
        |  SELECT doc_id, pos, tok, a, b,
        |    m AND (pos - min(pos) OVER (PARTITION BY doc_id, m, runKey)) % 2 = 0 AS apply
        |  FROM (
        |    SELECT p.doc_id, p.pos, p.tok, t.a, t.b,
        |      coalesce(p.tok = t.a AND p.nxt = t.b, false) AS m,
        |      CASE WHEN coalesce(p.tok = t.a AND p.nxt = t.b, false)
        |        THEN p.pos - row_number() OVER (
        |          PARTITION BY p.doc_id, coalesce(p.tok = t.a AND p.nxt = t.b, false)
        |          ORDER BY p.pos) END AS runKey
        |    FROM p$r p CROSS JOIN top$r t)),
        |t$r AS MATERIALIZED (
        |  SELECT doc_id,
        |    CAST(row_number() OVER (PARTITION BY doc_id ORDER BY pos) - 1 AS BIGINT) AS pos,
        |    CASE WHEN apply THEN a || '_' || b ELSE tok END AS tok
        |  FROM (SELECT f.*, coalesce(lag(apply) OVER (
        |          PARTITION BY doc_id ORDER BY pos), false) AS absorbed
        |        FROM f$r f)
        |  WHERE NOT absorbed)""".stripMargin)
    }
    sb.toString
  }

  private def bpeTrainSql(rounds: Int = 3): String =
    bpeRoundCtes(rounds) + (1 to rounds).map(r =>
      s"""\nSELECT $r AS round, t.a AS merge_left, t.b AS merge_right,
         |  t.c AS pair_count,
         |  (SELECT CAST(count(*) AS BIGINT) FROM t$r) AS corpus_tokens_after
         |FROM top$r t""".stripMargin).mkString("", "\nUNION ALL", "")

  /** tok_bpe_encode oracle: the same round CTEs, read out as per-doc
    * token counts before/after — the transform's compression record.
    */
  private def bpeEncodeSql(rounds: Int = 3): String =
    bpeRoundCtes(rounds) +
      s"""\nSELECT b.doc_id, b.n0 AS n_tokens_before, a.n1 AS n_tokens_after,
         |  round(a.n1 / CAST(b.n0 AS DOUBLE), 6) AS ratio
         |FROM (SELECT doc_id, CAST(count(*) AS BIGINT) AS n0 FROM t0 GROUP BY 1) b
         |JOIN (SELECT doc_id, CAST(count(*) AS BIGINT) AS n1 FROM t$rounds GROUP BY 1) a
         |  ON a.doc_id = b.doc_id""".stripMargin

  /** gov_rtbf_cascade oracle: each artifact audit replays relationally
    * — direct rows, tainted aggregate cells, the q17 session-boundary
    * rule over the requested slice, and the deterministic bottom-k
    * sample membership (the stream_sample_bottomk ranking).
    */
  private def rtbfCascadeSql(mod: Long = 97L, k: Int = 5): String = {
    val h = md5PrefixSql("CAST(user_id AS VARCHAR)")
    s"""SELECT 'events_rows' AS artifact, CAST(count(*) AS BIGINT) AS affected
       |FROM events WHERE user_id % $mod = 0
       |UNION ALL
       |SELECT 'hourly_agg_groups', CAST(count(*) AS BIGINT) FROM (
       |  SELECT DISTINCT date_trunc('hour', ts) AS h, event_type
       |  FROM events WHERE user_id % $mod = 0)
       |UNION ALL
       |SELECT 'user_sessions', CAST(coalesce(sum(new_s), 0) AS BIGINT) FROM (
       |  SELECT CASE WHEN lag(ts) OVER win IS NULL
       |    OR ts - lag(ts) OVER win >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_s
       |  FROM events WHERE user_id % $mod = 0
       |  WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id))
       |UNION ALL
       |SELECT 'sample_entries', CAST(count(*) AS BIGINT) FROM (
       |  SELECT user_id, row_number() OVER (PARTITION BY date_trunc('hour', ts)
       |      ORDER BY h, user_id) AS rn
       |  FROM (SELECT DISTINCT date_trunc('hour', ts) AS ts, user_id, $h AS h
       |        FROM events))
       |WHERE rn <= $k AND user_id % $mod = 0""".stripMargin
  }

  /** The MMR oracle replays the greedy diversity selection as a recursive
    * CTE: the candidate arm and kArm² pairwise similarities use the exact
    * rounded cosine chains of the other vector oracles, and each
    * recursion step picks argmax round(λ·rel − λc·maxsim, 6) with a
    * doc_id tie-break via a LATERAL top-1 — the same rounded doubles the
    * driver-side greedy loop compares, so the selected sequence is
    * bit-identical.
    */
  private def mmrOracle(kArm: Int = 20, k: Int = 10): String = {
    val dim = graft.functions.VectorFunctions.Dim
    val lam = graft.operators.Similarity.MmrLambda
    val lamC = graft.operators.Similarity.MmrLambdaC
    def dot(a: String, b: String) =
      s"list_sum(list_transform(range(1, ${dim + 1}), i -> $a.e[i] * $b.e[i]))"
    s"""WITH RECURSIVE ${cosineCte.stripPrefix("WITH ")},
       |scored AS (SELECT n.vec_id AS doc_id,
       |    round(${dot("q", "n")} / (q.nrm * n.nrm), 6) AS rel
       |  FROM v q JOIN v n ON q.vec_id = 0 AND n.vec_id <> 0),
       |cand AS (SELECT doc_id, rel FROM scored
       |         QUALIFY row_number() OVER (ORDER BY rel DESC, doc_id) <= $kArm),
       |pairs AS (SELECT a.vec_id AS ida, b.vec_id AS idb,
       |    round(${dot("a", "b")} / (a.nrm * b.nrm), 6) AS sim
       |  FROM v a JOIN v b ON a.vec_id <> b.vec_id
       |  WHERE a.vec_id IN (SELECT doc_id FROM cand) AND b.vec_id IN (SELECT doc_id FROM cand)),
       |r AS (
       |  (SELECT 1 AS step, [d.doc_id] AS picked, d.doc_id, round($lam * d.rel, 6) AS mmr
       |   FROM cand d ORDER BY mmr DESC, d.doc_id LIMIT 1)
       |  UNION ALL
       |  SELECT r.step + 1, list_append(r.picked, nxt.doc_id), nxt.doc_id, nxt.mmr
       |  FROM r, LATERAL (
       |    SELECT c.doc_id,
       |      round($lam * c.rel - $lamC * coalesce((SELECT max(p.sim) FROM pairs p
       |          WHERE p.ida = c.doc_id AND list_contains(r.picked, p.idb)), 0.0), 6) AS mmr
       |    FROM cand c WHERE NOT list_contains(r.picked, c.doc_id)
       |    ORDER BY mmr DESC, c.doc_id LIMIT 1) nxt
       |  WHERE r.step < $k)
       |SELECT step AS rank, doc_id, mmr FROM r""".stripMargin
  }
}
