package graft

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Loaders for the driver-generated TPC-H-ish parquet fixtures
  * (TESTDATA.md / FIXTURES.md §B). One parquet file per table under a
  * scale-factor directory. At cluster scale these would be partitioned
  * directories; the API is identical.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Resolved-relation cache: `spark.read.parquet` eagerly lists files and
    * reads parquet footers to infer the schema, which costs ~100 ms per
    * table reference — pure metadata work repeated identically by every
    * query that touches the table. On a real cluster the table lives in a
    * catalog/metastore and is resolved ONCE at registration, not per query;
    * this cache gives the same semantics (resolve each (session, dir,
    * table) once, reuse the immutable logical plan). Data is still scanned
    * by every execution — only metadata resolution is skipped. Bounded LRU
    * so stopped test sessions can't accumulate unboundedly.
    */
  private val planCache =
    new java.util.LinkedHashMap[(SparkSession, String, String), DataFrame](
      64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(SparkSession, String, String), DataFrame])
          : Boolean = size > 128
    }

  /** INVALIDATION CONTRACT: the cached relation snapshots the file list
    * and schema at first load. Any path that rewrites a fixture dir IN
    * PLACE (test regenerating parquet, external rewrite, `tools.ScaleUp`)
    * must call [[invalidate]] afterwards, or subsequent loads serve a
    * stale file index (reads fail or silently miss files). Appending NEW
    * dirs needs nothing — the key includes `dir`.
    */
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    planCache.synchronized {
      // drop entries owned by stopped sessions eagerly rather than
      // waiting for LRU eviction — a stopped session's DataFrames are
      // unusable and only pin memory (ADVICE r6)
      val it = planCache.keySet.iterator()
      while (it.hasNext) if (it.next()._1.sparkContext.isStopped) it.remove()
      val k = (spark, dir, name)
      val hit = planCache.get(k)
      if (hit != null) hit
      else {
        val df = spark.read.parquet(s"$dir/$name.parquet")
        planCache.put(k, df)
        df
      }
    }

  /** Drop all cached relations (tests that rewrite fixture dirs in place). */
  def invalidate(): Unit = {
    planCache.synchronized(planCache.clear())
    schemaCache.clear()
    graft.streaming.StreamOps.maxEventTs.clear()
    graft.streaming.StreamOps.clearStagedHeartbeats()
    // file-sink scratch outputs are derived from the (now stale) fixtures
    // — any still-held DataFrame over them is invalid anyway, so reclaim
    // the disk here rather than only at JVM exit
    graft.streaming.StreamOps.clearScratchDirs()
  }

  /** Schema-only resolution, memoized per (path, nanos-conf) — used by the
    * streaming operators, which need an explicit schema for `readStream`
    * (file streams don't infer) and otherwise pay a footer read per query
    * even when a dozen queries stream the same fixture table. The key
    * carries `spark.sql.legacy.parquet.nanosAsLong` because the RESOLVED
    * schema depends on it for a TIMESTAMP(NANOS) fixture (ts: LongType vs
    * a read error) — a path-only key could hand a differently-configured
    * session the wrong schema.
    */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), org.apache.spark.sql.types.StructType]()

  def schemaOf(spark: SparkSession, path: String): org.apache.spark.sql.types.StructType = {
    val conf = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false")
    schemaCache.computeIfAbsent((path, conf), _ => spark.read.parquet(path).schema)
  }

  /** File-stream source over the fixture table `name` under `dir`: the
    * sf dir is the watched directory (file streams want one) and
    * `pathGlobFilter` selects the table's one file. File streams do not
    * infer a schema, so it comes from the memoized [[schemaOf]].
    */
  def stream(ss: SparkSession, dir: String, name: String): DataFrame =
    ss.readStream.schema(schemaOf(ss, s"$dir/$name.parquet"))
      .option("pathGlobFilter", s"$name.parquet").parquet(dir)

  /** Write `df` as ONE parquet file at `path` — the fixture contract (one
    * flat `<t>.parquet` per table, which [[stream]] globs and the
    * streaming stagers byte-copy). Spark writes a directory of part
    * files, so the frame goes through a hidden sibling staging dir whose
    * single part file moves into place; the staging dir is deleted. A
    * 0-row frame still leaves one schema-carrying file.
    */
  def writeFile(df: DataFrame, path: Path): Unit = {
    val stage = path.resolveSibling(s".stage_${path.getFileName}")
    try {
      df.coalesce(1).write.mode(SaveMode.Overwrite).parquet(stage.toString)
      val listing = Files.list(stage) // must close: fd leak otherwise
      val part =
        try listing.iterator().asScala.find(_.getFileName.toString.endsWith(".parquet"))
        finally listing.close()
      Files.move(part.getOrElse(sys.error(s"no part file under $stage")), path,
        StandardCopyOption.REPLACE_EXISTING)
    } finally FileUtils.deleteDirectory(stage.toFile)
  }

  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  /** events.parquet stores `ts` as parquet TIMESTAMP(NANOS), which Spark's
    * reader rejects (no nanos TimestampType). Read nanos as long and convert
    * with exact integer division to a microsecond timestamp (fixture data is
    * generated at microsecond resolution, so this is lossless).
    */
  def events(s: SparkSession, d: String): DataFrame = {
    // one-way session initialization, never restored — no flip/restore
    // race: the conf only widens what the parquet reader accepts, and
    // setting the same value twice is harmless
    if (s.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") != "true")
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeTs(load(s, d, "events"))
  }

  /** Normalize an events frame's `ts` to instant-semantics TIMESTAMP
    * regardless of how the fixture generation wrote it:
    *  - TIMESTAMP(NANOS) arrives as a nanos long under the legacy conf
    *    (exact integer division to micros is lossless — fixture data is
    *    generated at microsecond resolution);
    *  - micros-without-timezone arrives as TIMESTAMP_NTZ, which the
    *    streaming watermark machinery rejects — reinterpret the wall
    *    clock in the session timezone (UTC here), value-identical to
    *    what DuckDB reads from the same file;
    *  - native micros TIMESTAMP (tools.ScaleUp output) passes through.
    * Works on batch and streaming frames alike.
    */
  def normalizeTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts",
          org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", org.apache.spark.sql.functions.col("ts")
          .cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }
  /** documents/embeddings feed compute-heavy per-row operators (shingling,
    * token scoring, vector kernels), and the fixture files are single
    * row-group parquet — unsplittable, so a plain scan runs on ONE core.
    * A round-robin repartition after read costs one tiny shuffle and
    * parallelizes everything downstream. (On a real cluster the input
    * arrives as many splits and this is a no-op by configuration.)
    */
  def documents(s: SparkSession, d: String): DataFrame =
    load(s, d, "documents").repartition(s.sparkContext.defaultParallelism)
  def embeddings(s: SparkSession, d: String): DataFrame =
    load(s, d, "embeddings").repartition(s.sparkContext.defaultParallelism)
}
