package graft.tools

import org.apache.spark.sql.SparkSession

/** Degenerate-input robustness sweep: runs EVERY SparkEntry query against
  * a fixture whose tables are empty (0 rows) or tiny (3 rows), and reports
  * per-query outcome. At cluster scale both shapes are routine — a filter
  * that drops everything, a fresh corpus, a partition with one straggler
  * row — and an operator that NPEs on them (the q25RangeJoinPrefix bug
  * ADVICE r6 caught: a driver-side stats collect whose min/max come back
  * null) takes the whole pipeline down, not just one partition.
  *
  * The sweep fixture preserves the exact fixture contract (ONE flat
  * parquet file per table named <t>.parquet — the streaming stagers
  * byte-copy that file) by writing each truncated table with
  * `Tables.writeFile`. `events.ts`
  * round-trips through the nanos-as-long legacy read as a plain INT64
  * column, which Tables.normalizeTs already converts on every consumer
  * path.
  *
  * A third mode, `uniform`, keeps 256 rows per table but collapses every
  * measure to a CONSTANT (one timestamp, one value, one text, one
  * embedding): zero variance, zero-width histogram ranges, all-tied
  * ranks, 100%-duplicate corpora — the degenerate statistics a skewed
  * 100 TB slice actually produces, and the shape that flushes out
  * division-by-zero under Spark 4 ANSI mode (which throws instead of
  * returning null/inf).
  *
  * A fourth mode, `nulls`, keeps 256 rows but nulls every fourth row's
  * measure columns (value, text, embedding, prices) — the shape a real
  * ingest produces (failed parses, missing fields) that the pristine
  * synthetic fixtures never exercise.
  *
  * A fifth mode, `hotkey`, keeps 256 rows but collapses every GROUPING
  * key to one value (one user, one customer, one part, one source, one
  * label): the maximum-skew shape — single-group windows, a
  * single-node co-purchase graph, one stratum to split, one class to
  * balance — that a hot key produces at scale.
  *
  * A sixth mode, `allnull`, keeps 256 rows but nulls every measure
  * column in EVERY row — the whole-partition-failed-parse shape `nulls`
  * only samples: aggregates see zero non-null values on a non-empty
  * frame (quantile boundaries vanish, sums go null), text/embedding
  * ingest boundaries drop the entire corpus. Distinct from `empty`
  * because keys and timestamps still exist, so group-bys and windows
  * emit rows whose measures are all null (the r8 q41 divergence shape).
  *
  * Usage: EdgeSweep <srcSfDir> <empty|tiny|uniform|nulls|hotkey|allnull>
  * [nameSubstringFilter]. Exit code = number of failing queries
  * (0 = fully robust).
  */
object EdgeSweep {

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.001")
    val mode = if (args.length > 1) args(1) else "empty"
    val filter = if (args.length > 2) Some(args(2)) else None
    val n = mode match {
      case "empty"   => 0
      case "tiny"    => 3
      case "uniform" => 256
      case "nulls"   => 256
      case "hotkey"  => 256
      case "allnull" => 256
      case other     =>
        sys.error(s"mode must be empty|tiny|uniform|nulls|hotkey|allnull, got $other")
    }
    val spark = graft.GraftSession.builder(s"graft-edgesweep-$mode", graft.GraftSession.cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // exit AFTER the session stops — System.exit does not unwind the
    // stack, so a sys.exit inside the try would skip the finally
    val failures =
      try {
        val dir = buildFixture(spark, src, n, mode = mode)
        sweep(spark, dir.toString, filter)
      } finally spark.stop()
    println(s"[edgesweep] mode=$mode failures=${failures.size}")
    failures.foreach { case (q, e) => println(s"[edgesweep] FAIL $q : $e") }
    if (failures.nonEmpty) sys.exit(failures.size.min(100))
  }

  /** Per-table constant-collapse for `uniform` mode: one timestamp, one
    * measure value, one document text, one embedding vector — keys and
    * categorical columns keep their real distribution so joins and
    * group-bys still exercise real paths.
    */
  private val uniformOverrides: Map[String, Seq[(String, org.apache.spark.sql.Column)]] = {
    import org.apache.spark.sql.functions._
    Map(
      "events" -> Seq(
        "ts" -> to_timestamp(lit("2026-01-01 00:00:00")),
        "value" -> lit(1.0)),
      "lineitem" -> Seq(
        "l_extendedprice" -> lit(100.0),
        "l_quantity" -> lit(1.0),
        "l_discount" -> lit(0.05),
        "l_tax" -> lit(0.02)),
      "orders" -> Seq("o_totalprice" -> lit(100.0)),
      "supplier" -> Seq("s_acctbal" -> lit(50.0)),
      "customer" -> Seq("c_acctbal" -> lit(50.0)),
      "part" -> Seq("p_retailprice" -> lit(10.0)),
      "documents" -> Seq(
        "text" -> lit("the same document text repeated verbatim in every row"),
        // applied AFTER the text override (fold order), so it stays true
        "n_chars" -> expr("cast(length(text) as bigint)")),
      "embeddings" -> Seq(
        "embedding" -> expr("transform(embedding, x -> cast(0.5 as float))")))
  }

  /** Measure columns per table for `nulls` mode — keys, categorical and
    * timestamp columns stay intact so joins/windows still run; the
    * payload a flaky ingest would lose goes null on every fourth row.
    */
  private val nullableMeasures: Map[String, Seq[String]] = Map(
    "events" -> Seq("value", "props"),
    "lineitem" -> Seq("l_extendedprice", "l_quantity", "l_discount", "l_tax"),
    "orders" -> Seq("o_totalprice"),
    "supplier" -> Seq("s_acctbal"),
    "customer" -> Seq("c_acctbal"),
    "part" -> Seq("p_retailprice"),
    "documents" -> Seq("text"),
    "embeddings" -> Seq("embedding"))

  /** Grouping keys per table for `hotkey` mode — every row lands on one
    * key; ids/timestamps/measures keep their real distribution.
    */
  private val hotkeyOverrides: Map[String, Seq[(String, org.apache.spark.sql.Column)]] = {
    import org.apache.spark.sql.functions._
    Map(
      "events" -> Seq("user_id" -> lit(1L), "event_type" -> lit("click")),
      "lineitem" -> Seq("l_partkey" -> lit(1L), "l_suppkey" -> lit(1L),
        "l_returnflag" -> lit("N")),
      "orders" -> Seq("o_custkey" -> lit(1L), "o_orderpriority" -> lit("1-URGENT")),
      "customer" -> Seq("c_nationkey" -> lit(0L)),
      "supplier" -> Seq("s_nationkey" -> lit(0L)),
      "documents" -> Seq("source" -> lit("web"), "lang" -> lit("en")),
      "embeddings" -> Seq("label" -> lit(0)))
  }

  /** Truncate every fixture table to `n` rows (plus the mode's column
    * overrides) under a temp dir, keeping the one-flat-file-per-table
    * contract.
    */
  def buildFixture(s: SparkSession, src: String, n: Int,
                   mode: String = "truncate"): java.nio.file.Path = {
    import org.apache.spark.sql.functions.{col, when, lit}
    val dst = java.nio.file.Files.createTempDirectory(s"graft_edge_${n}_")
    // events ts is TIMESTAMP(NANOS) in the driver fixtures — readable
    // only under the legacy conf (as long); all consumers normalize.
    // The conf is RESTORED after staging: this runs on the caller's
    // session, and leaking it would change parquet reads for whatever
    // shares the session next (EdgeSweepSpec's shared test session).
    val nanosKey = "spark.sql.legacy.parquet.nanosAsLong"
    val priorNanos = s.conf.getOption(nanosKey)
    s.conf.set(nanosKey, "true")
    try for (t <- graft.Tables.names) {
      val base = s.read.parquet(s"$src/$t.parquet").limit(n)
      def applyOverrides(
          m: Map[String, Seq[(String, org.apache.spark.sql.Column)]]) =
        m.getOrElse(t, Nil).foldLeft(base) { case (d, (c, v)) =>
          if (d.columns.contains(c)) d.withColumn(c, v) else d
        }
      val df = mode match {
        case "uniform" => applyOverrides(uniformOverrides)
        case "hotkey"  => applyOverrides(hotkeyOverrides)
        case "nulls" =>
          val key = base.columns.head // every fixture leads with its id
          nullableMeasures.getOrElse(t, Nil).foldLeft(base) { (d, c) =>
            if (d.columns.contains(c))
              d.withColumn(c, when(col(key) % 4 === 0, lit(null))
                .otherwise(col(c)))
            else d
          }
        case "allnull" =>
          nullableMeasures.getOrElse(t, Nil).foldLeft(base) { (d, c) =>
            if (d.columns.contains(c))
              d.withColumn(c, lit(null).cast(d.schema(c).dataType))
            else d
          }
        case _ => base
      }
      graft.Tables.writeFile(df, dst.resolve(s"$t.parquet"))
    } finally priorNanos match {
      case Some(v) => s.conf.set(nanosKey, v)
      case None => s.conf.unset(nanosKey)
    }
    dst
  }

  /** Run every query against `dir`, forcing with count(); returns the
    * failing (name, error) pairs.
    */
  def sweep(s: SparkSession, dir: String,
            filter: Option[String] = None): Seq[(String, String)] = {
    val selected = graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (k, _) => filter.forall(k.contains) }
    val bad = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    for ((name, fn) <- selected) {
      val t0 = System.nanoTime()
      try {
        val rows = fn(s, dir).count()
        val ms = (System.nanoTime() - t0) / 1000000
        println(f"[edgesweep] OK   $name%-28s rows=$rows%-6d ${ms}ms")
      } catch {
        case e: Throwable =>
          val root = rootCause(e)
          val msg = s"${root.getClass.getSimpleName}: " +
            Option(root.getMessage).getOrElse("").linesIterator
              .take(1).mkString.take(160)
          println(s"[edgesweep] FAIL $name : $msg")
          bad += name -> msg
      }
    }
    bad.toSeq
  }

  private def rootCause(e: Throwable): Throwable = {
    var c = e
    while (c.getCause != null && c.getCause != c) c = c.getCause
    c
  }
}
