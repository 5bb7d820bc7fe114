package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Data-quality validation — the Deequ-shaped (Schelter et al., "Automating
  * large-scale data quality verification", VLDB 2018) gate every training-
  * data pipeline runs before a corpus snapshot is blessed. Three surfaces:
  *
  *  - [[profile]]: per-column statistics (completeness, cardinality,
  *    range) computed in ONE scan of the table — the metrics a schema
  *    registry records per snapshot.
  *  - [[constraints]]: named predicate checks (domain membership, value
  *    ranges, key uniqueness) folded into one conditional-sum aggregate
  *    per table — a check suite costs one scan, not one scan per check.
  *  - [[referential]]: FK orphan detection across the star schema —
  *    each edge aggregates the fact side to its key set FIRST (the probe
  *    shrinks from row count to key cardinality), then anti-joins the
  *    broadcast dimension key set.
  *
  * Everything is a conditional aggregate over a declarative scan: no
  * driver-side row loops, map-side partials everywhere, and the output is
  * check-count-sized (KB) regardless of input scale. At 100 TB the only
  * adjustment is swapping the exact `count_distinct` cardinality metrics
  * for `approx_count_distinct` (HLL) — a documented one-line lever kept
  * exact here so the DuckDB oracle can replay values bit-for-bit.
  */
object DataQuality {

  /** One profile row per column: completeness, exact cardinality, and
    * numeric range — as a union of per-column two-phase aggregates over
    * COLUMN-PRUNED scans. The tempting "one wide aggregate" form (all N
    * exact count-distincts in a single pass) plans as an N+1-way Expand
    * that multiplies every fact row before the shuffle — measured 80×
    * DuckDB at sf0.1. Columnar storage makes the union form strictly
    * better: each branch's scan reads ONLY its column's pages (total
    * bytes across all branches ≈ one full-row scan), each single-
    * distinct aggregate plans as a plain two-phase group-by with NO
    * Expand, and the branches schedule concurrently. The
    * `approxCardinality` flag swaps exact distinct for one HLL pass per
    * column (no distinct shuffle at all) — the 100 TB default; exact is
    * kept here so the DuckDB oracle replays values bit-for-bit.
    */
  def profile(s: SparkSession, dir: String, table: String = "lineitem",
              approxCardinality: Boolean = false): DataFrame = {
    val df = Tables.load(s, dir, table)
    val numeric = df.schema.fields.filter(f => f.dataType.typeName match {
      case "long" | "integer" | "double" | "float" | "short" => true
      case _ => false
    }).map(_.name).toSet
    val perCol = df.schema.fieldNames.toSeq.map { c =>
      val card =
        if (approxCardinality) approx_count_distinct(col(c))
        else count_distinct(col(c))
      df.select(col(c)).agg(
        count(lit(1)).as("n_rows"),
        sum(when(col(c).isNull, 1L).otherwise(0L)).as("n_nulls"),
        card.as("n_distinct"),
        (if (numeric(c)) min(col(c)).cast("double") else lit(null).cast("double"))
          .as("min_num"),
        (if (numeric(c)) max(col(c)).cast("double") else lit(null).cast("double"))
          .as("max_num"))
        .select(lit(c).as("col_name"), col("n_rows"), col("n_nulls"),
          round(col("n_nulls") / col("n_rows").cast("double"), 6)
            .as("null_ratio"),
          col("n_distinct"), col("min_num"), col("max_num"))
    }
    perCol.reduce(_ unionAll _)
  }

  /** Named constraint checks over `lineitem` + `orders`, ONE conditional-
    * sum aggregate per table (every predicate is a `sum(when(violated))`
    * column of the same pass; key-uniqueness rides along as
    * `count - count_distinct`). Violations are REPORTED, never dropped —
    * the fixture's lineitem really does carry duplicate
    * (l_orderkey, l_linenumber) pairs, and the suite's job is to say so.
    */
  def constraints(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    // key-uniqueness lives in its OWN aggregate: mixing count_distinct
    // with the plain conditional sums makes Catalyst plan an Expand that
    // doubles every fact row through the shuffle; split, the sums pass is
    // a pure map-side-combined scan and the distinct pass shuffles only
    // the two key columns — the two single-row results cross-join for free
    val liSums = li.agg(
      sum(when(col("l_quantity") <= 0.0, 1L).otherwise(0L)).as("c1"),
      sum(when(col("l_discount") < 0.0 || col("l_discount") > 1.0, 1L)
        .otherwise(0L)).as("c2"),
      sum(when(col("l_tax") < 0.0 || col("l_tax") > 1.0, 1L)
        .otherwise(0L)).as("c3"),
      sum(when(!col("l_returnflag").isin("R", "A", "N"), 1L).otherwise(0L))
        .as("c4"),
      sum(when(!col("l_linestatus").isin("O", "F"), 1L).otherwise(0L))
        .as("c5"),
      sum(when(col("l_shipdate").isNull, 1L).otherwise(0L)).as("c6"))
    val liDup = li.agg(
      (count(lit(1)) -
        count_distinct(col("l_orderkey"), col("l_linenumber"))).as("c7"))
    val liWide = liSums.crossJoin(liDup)
    val ord = Tables.orders(s, dir)
    val ordWide = ord.agg(
      sum(when(!col("o_orderstatus").isin("O", "F", "P"), 1L).otherwise(0L))
        .as("c8"),
      sum(when(col("o_totalprice") <= 0.0, 1L).otherwise(0L)).as("c9"))
      .crossJoin(ord.agg(
        (count(lit(1)) - count_distinct(col("o_orderkey"))).as("c10")))
    val liLong = liWide.selectExpr(
      """stack(7,
        |'lineitem.quantity_positive', c1,
        |'lineitem.discount_in_[0,1]', c2,
        |'lineitem.tax_in_[0,1]', c3,
        |'lineitem.returnflag_domain', c4,
        |'lineitem.linestatus_domain', c5,
        |'lineitem.shipdate_not_null', c6,
        |'lineitem.pk_unique', c7) AS (check_name, violations)""".stripMargin)
    val ordLong = ordWide.selectExpr(
      """stack(3,
        |'orders.orderstatus_domain', c8,
        |'orders.totalprice_positive', c9,
        |'orders.pk_unique', c10) AS (check_name, violations)""".stripMargin)
    liLong.unionAll(ordLong)
      .withColumn("passed", col("violations") === 0L)
  }

  /** FK orphan audit over every edge of the star schema. Per edge: the
    * fact side aggregates to (key, row_count) FIRST — the anti-join then
    * probes key-cardinality rows, not fact rows.
    *
    * Dimension-side regime (the r9→r10 scale fix): a FORCED broadcast of
    * the parent key set is only sound when the parent is schema-bounded
    * (nation/region — dozens of rows at ANY corpus size). The big
    * parents (orders/part/supplier/customer) grow WITH the data — at
    * sf10 the old `broadcast(orders.keys.distinct)` collected ~15M keys
    * through the driver every run (a maxResultSize ceiling and a
    * per-executor rebuild cost that both scale with the corpus; measured
    * e2 = 1.14). Those edges now anti-join WITHOUT a hint: AQE still
    * picks a broadcast join while the key set is runtime-small, and
    * degrades to a shuffled sort-merge anti-join — linear, spillable,
    * partition-parallel — once it isn't. The pre-`distinct` goes with
    * the hint (a left_anti ignores right-side duplicates, so the
    * distinct was a full extra shuffle purely to shrink the broadcast).
    *
    * A Bloom pre-filter was evaluated for these passes and rejected —
    * SCALE.md r10 records the argument: a Bloom over parent keys splits
    * probe keys into definite-orphans and maybes, but false positives
    * land ORPHANS in the maybe set, so exact counts still need the full
    * maybe-side join, and in a referential audit the probe side mostly
    * HITS (nearly every child key has a parent), so the filter cannot
    * pay for itself.
    */
  def referential(s: SparkSession, dir: String): DataFrame = {
    def edge(name: String, fact: DataFrame, fk: String,
             dim: DataFrame, pk: String, dimBounded: Boolean): DataFrame = {
      val keyCounts = fact.groupBy(col(fk).as("k"))
        .agg(count(lit(1)).as("n"))
      val dimKeys = dim.select(col(pk).as("k"))
      val orphans =
        if (dimBounded)
          keyCounts.join(broadcast(dimKeys.distinct()), Seq("k"), "left_anti")
        else keyCounts.join(dimKeys, Seq("k"), "left_anti")
      orphans
        .agg(coalesce(sum(col("n")), lit(0L)).as("orphan_rows"),
          count(lit(1)).as("orphan_keys"))
        .select(lit(name).as("fk_edge"), col("orphan_rows"),
          col("orphan_keys"))
    }
    val li = Tables.lineitem(s, dir)
    val ord = Tables.orders(s, dir)
    Seq(
      edge("lineitem.l_orderkey->orders", li, "l_orderkey",
        ord, "o_orderkey", dimBounded = false),
      edge("lineitem.l_partkey->part", li, "l_partkey",
        Tables.part(s, dir), "p_partkey", dimBounded = false),
      edge("lineitem.l_suppkey->supplier", li, "l_suppkey",
        Tables.supplier(s, dir), "s_suppkey", dimBounded = false),
      edge("orders.o_custkey->customer", ord, "o_custkey",
        Tables.customer(s, dir), "c_custkey", dimBounded = false),
      edge("customer.c_nationkey->nation", Tables.customer(s, dir),
        "c_nationkey", Tables.nation(s, dir), "n_nationkey",
        dimBounded = true),
      edge("supplier.s_nationkey->nation", Tables.supplier(s, dir),
        "s_nationkey", Tables.nation(s, dir), "n_nationkey",
        dimBounded = true),
      edge("nation.n_regionkey->region", Tables.nation(s, dir),
        "n_regionkey", Tables.region(s, dir), "r_regionkey",
        dimBounded = true)
    ).reduce(_ unionAll _)
  }
}
