package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Fixture scale-up generator: replicates an sf directory `factor`× with
  * per-table key shifts chosen so every operator keeps its statistical
  * structure instead of degenerating into an artifact of replication:
  *
  *  - fact/entity keys shift by replica × (max key + 1) → referential
  *    integrity holds within each replica (orders↔customer↔lineitem);
  *  - document text gets a per-replica token suffix on EVERY token, so
  *    shingle sets are disjoint across replicas — near-dup structure
  *    replicates ×factor instead of exploding quadratically (each doc
  *    would otherwise gain factor−1 exact copies: a duplication-stress
  *    corpus, which SCALE.md measures separately);
  *  - part names get a per-replica prefix fused onto the FIRST token
  *    (r3Original …), preserving the fuzzy join's first-token block
  *    structure within a replica while separating replicas;
  *  - replica embeddings are fresh deterministic pseudo-random vectors
  *    (seeded by vec_id × dim), so vector-space operators see a genuinely
  *    larger corpus, not factor−1 coincident points (which would make
  *    every cosine-threshold pair set explode);
  *  - dimension tables (region, nation) stay fixed, as at any real scale
  *    factor.
  *
  * Usage: ScaleUp <srcDir> <dstDir> <factor>
  */
object ScaleUp {

  def main(args: Array[String]): Unit = {
    val Array(src, dst, factorS) = args.take(3)
    val spark = SparkSession.builder().master("local[32]")
      .appName("graft-scaleup")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, src, dst, factorS.toInt)
    finally spark.stop()
  }

  def run(spark: SparkSession, src: String, dst: String, factor: Int): Unit = {
    new java.io.File(dst).mkdirs()
    try runInner(spark, src, dst, factor)
    // this tool rewrites fixture dirs in place — drop every relation/schema
    // memoized in this JVM, including entries cached for dst BEFORE the
    // rewrite (a spec that queries dst, regenerates it, and queries again
    // would otherwise read stale file listings)
    finally graft.Tables.invalidate()
  }

  private def runInner(spark: SparkSession, src: String, dst: String,
                       factor: Int): Unit = {

    def load(t: String): DataFrame = spark.read.parquet(s"$src/$t.parquet")
    def save(t: String, df: DataFrame): Unit = {
      val target = java.nio.file.Paths.get(s"$dst/$t.parquet")
      graft.Tables.writeFile(df, target)
      println(s"[scaleup] $t -> ${spark.read.parquet(target.toString).count()} rows")
    }
    /** Union of `factor` replicas of df, each transformed with its index. */
    def replicate(df: DataFrame)(f: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until factor).map(r => f(df, r)).reduce(_ unionByName _)
    def maxOf(df: DataFrame, c: String): Long =
      df.agg(max(col(c))).collect()(0).getLong(0) + 1

    // dimensions: fixed at any scale factor
    save("region", load("region"))
    save("nation", load("nation"))

    val customer = load("customer"); val custN = maxOf(customer, "c_custkey")
    save("customer", replicate(customer)((d, r) =>
      d.withColumn("c_custkey", col("c_custkey") + lit(r * custN))))

    val supplier = load("supplier"); val suppN = maxOf(supplier, "s_suppkey")
    save("supplier", replicate(supplier)((d, r) =>
      d.withColumn("s_suppkey", col("s_suppkey") + lit(r * suppN))))

    val part = load("part"); val partN = maxOf(part, "p_partkey")
    save("part", replicate(part)((d, r) =>
      d.withColumn("p_partkey", col("p_partkey") + lit(r * partN))
        .withColumn("p_name",
          if (r == 0) col("p_name")
          else regexp_replace(col("p_name"), "^", s"r$r"))))

    val orders = load("orders"); val ordN = maxOf(orders, "o_orderkey")
    save("orders", replicate(orders)((d, r) =>
      d.withColumn("o_orderkey", col("o_orderkey") + lit(r * ordN))
        .withColumn("o_custkey", col("o_custkey") + lit(r * custN))))

    val lineitem = load("lineitem")
    save("lineitem", replicate(lineitem)((d, r) =>
      d.withColumn("l_orderkey", col("l_orderkey") + lit(r * ordN))
        .withColumn("l_partkey", col("l_partkey") + lit(r * partN))
        .withColumn("l_suppkey", col("l_suppkey") + lit(r * suppN))))

    // ts arrives as nanos-long (legacy conf) from the driver fixture;
    // write a NATIVE micros TIMESTAMP so SQL oracles (year/day/interval
    // arithmetic) read the scaled fixture directly — Tables.normalizeTs
    // makes the Spark side layout-agnostic
    val events = graft.Tables.normalizeTs(load("events"))
    val evtN = maxOf(events, "event_id")
    val userN = maxOf(events, "user_id")
    save("events", replicate(events)((d, r) =>
      d.withColumn("event_id", col("event_id") + lit(r * evtN))
        .withColumn("user_id", col("user_id") + lit(r * userN))))

    val docs = load("documents"); val docN = maxOf(docs, "doc_id")
    save("documents", replicate(docs)((d, r) =>
      d.withColumn("doc_id", col("doc_id") + lit(r * docN))
        .withColumn("text",
          if (r == 0) col("text")
          else regexp_replace(col("text"), "(\\S+)", s"$$1_r$r"))))

    val emb = load("embeddings"); val vecN = maxOf(emb, "vec_id")
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    save("embeddings", replicate(emb)((d, r) =>
      if (r == 0) d
      else d.withColumn("vec_id", col("vec_id") + lit(r * vecN))
        .withColumn("embedding",
          // fresh deterministic vector: uniform [-1, 1) per dim, seeded by
          // the replicated vec_id — float-cast so the schema matches
          transform(sequence(lit(0), lit(dim - 1)), i =>
            ((pmod(xxhash64(col("vec_id"), i), lit(2000000L)) - lit(1000000L)) /
              lit(1000000.0)).cast("float")))))
  }
}
