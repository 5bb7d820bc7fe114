package graft.benchmarks

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.harness._

/** ny_taxi benchmark (reference
  * /root/reference/timedf_benchmarks/ny_taxi/ny_taxi.py): 4 groupby queries
  * over one trips table, stages `t_readcsv` + `Query1..4`, with the
  * `-validation` flag implemented for real (the reference declares it but
  * never compares, docs/source/02-existing_benchmarks.rst "TBD").
  *
  * Data: the real 51-column headerless CSV schema is supported when
  * `trips_*.csv` files exist under the data dir (S1/S5); offline, the
  * driver fixtures stand in via a column mapping (FIXTURES.md §B):
  * lineitem → trips with l_returnflag→cab_type, l_linenumber→passenger_count,
  * l_extendedprice→total_amount, l_shipdate→pickup_datetime,
  * l_quantity→trip_distance.
  */
final class NyTaxiBenchmark extends BaseBenchmark {
  override def name: String = "ny_taxi"

  /** Staged inputs: real trips CSVs when present, else the lineitem
    * fixture the offline mapping reads (analog of the reference's
    * ny_taxi S3 folder).
    */
  override def dataFiles: Seq[String] = Seq("trips_x*.csv*", "lineitem.parquet")

  /** Reference ny_taxi.py:336-351: `-dfiles_num` caps how many trips data
    * files are loaded — the benchmark's scale-control surface.
    */
  override def benchmarkArgs: Seq[ArgSpec] = Seq(
    ArgSpec("dfiles_num", default = Some("1"),
      help = "Number of datafiles to load into database for processing."))

  override protected def runBenchmark(params: RunParams): BenchmarkResults = {
    val tm = new TimerManager
    val s = SparkBackend.session(params.numThreads, name)
    val dfilesNum = params.extra.getOrElse("dfiles_num", "1").toInt
    var validation = Map.empty[String, String]
    tm.timeit("total") {
      val trips = tm.timeit("t_readcsv") {
        SparkBackend.triggerLoading(loadTrips(s, params.dataDir, dfilesNum))
      }
      // the fence's order-insensitive digest is the -validation value
      for ((q, df) <- queries(trips)) {
        val (_, digest) = tm.timeit(q)(SparkBackend.triggerExecution(df))
        if (params.validation) validation += s"validation_$q" -> digest.toString
      }
      trips.unpersist()
    }
    BenchmarkResults(tm.results, validation ++
      Map("backend" -> params.backend, "dfiles_num" -> dfilesNum.toString))
  }

  /** The four timed queries over the loaded trips, in run order. */
  private[graft] def queries(trips: DataFrame): Seq[(String, DataFrame)] = Seq(
    "Query1" -> trips.groupBy("cab_type").agg(count(lit(1)).as("cnt")),
    "Query2" -> trips.groupBy("passenger_count")
      .agg(avg("total_amount").as("avg_total")),
    "Query3" -> trips.groupBy(col("passenger_count"),
      year(col("pickup_datetime")).as("pickup_year")).agg(count(lit(1)).as("cnt")),
    "Query4" -> trips.groupBy(col("passenger_count"),
      year(col("pickup_datetime")).as("pickup_year"),
      col("trip_distance").cast("long").as("distance"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("pickup_year").asc, col("cnt").desc))

  private[graft] def loadTrips(s: SparkSession, dir: String,
                               dfilesNum: Int = 1): DataFrame = {
    val csvs = Option(new java.io.File(dir).list())
      .getOrElse(Array.empty[String]).filter(_.matches("trips_x.*\\.csv.*"))
    if (csvs.nonEmpty)
      s.read.schema(NyTaxiSchema.schema).option("header", "false")
        .csv(csvs.map(f => s"$dir/$f").sorted.take(dfilesNum).toIndexedSeq: _*)
    else
      // fixture fallback is a single parquet table; dfiles_num caps the
      // file list above, so with one file any value ≥ 1 reads everything
      graft.Tables.lineitem(s, dir).select(
        col("l_returnflag").as("cab_type"),
        col("l_linenumber").cast("long").as("passenger_count"),
        col("l_extendedprice").as("total_amount"),
        col("l_shipdate").as("pickup_datetime"),
        col("l_quantity").as("trip_distance"))
  }
}

/** Full 51-column trips schema
  * (/root/reference/timedf_benchmarks/ny_taxi/ny_taxi.py:39-145; category →
  * string, timestamp columns parsed by the CSV reader).
  */
object NyTaxiSchema {
  private def f(n: String, t: DataType) = StructField(n, t)
  val schema: StructType = StructType(Seq(
    f("trip_id", LongType), f("vendor_id", StringType),
    f("pickup_datetime", TimestampType), f("dropoff_datetime", TimestampType),
    f("store_and_fwd_flag", StringType), f("rate_code_id", LongType),
    f("pickup_longitude", DoubleType), f("pickup_latitude", DoubleType),
    f("dropoff_longitude", DoubleType), f("dropoff_latitude", DoubleType),
    f("passenger_count", LongType), f("trip_distance", DoubleType),
    f("fare_amount", DoubleType), f("extra", DoubleType),
    f("mta_tax", DoubleType), f("tip_amount", DoubleType),
    f("tolls_amount", DoubleType), f("ehail_fee", DoubleType),
    f("improvement_surcharge", DoubleType), f("total_amount", DoubleType),
    f("payment_type", StringType), f("trip_type", DoubleType),
    f("pickup", StringType), f("dropoff", StringType),
    f("cab_type", StringType), f("precipitation", DoubleType),
    f("snow_depth", LongType), f("snowfall", DoubleType),
    f("max_temperature", LongType), f("min_temperature", LongType),
    f("average_wind_speed", DoubleType), f("pickup_nyct2010_gid", DoubleType),
    f("pickup_ctlabel", DoubleType), f("pickup_borocode", DoubleType),
    f("pickup_boroname", StringType), f("pickup_ct2010", DoubleType),
    f("pickup_boroct2010", DoubleType), f("pickup_cdeligibil", StringType),
    f("pickup_ntacode", StringType), f("pickup_ntaname", StringType),
    f("pickup_puma", DoubleType), f("dropoff_nyct2010_gid", DoubleType),
    f("dropoff_ctlabel", DoubleType), f("dropoff_borocode", DoubleType),
    f("dropoff_boroname", StringType), f("dropoff_ct2010", DoubleType),
    f("dropoff_boroct2010", DoubleType), f("dropoff_cdeligibil", StringType),
    f("dropoff_ntacode", StringType), f("dropoff_ntaname", StringType),
    f("dropoff_puma", DoubleType)))
}
