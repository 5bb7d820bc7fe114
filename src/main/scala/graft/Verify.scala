package graft
import java.nio.file.{Files, Paths}
/** Correctness dump: each selected registry entry's result → parquet
  * (every entry unless SPARK_GRAFT_QUERIES names some), plus
  * oracle_sql.json, for the DuckDB compare (`tools/check.py`). */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val selected = SparkEntry.selected("verify", SparkEntry.entries)
    val spark = GraftSession.builder("graft-verify", GraftSession.cpus, sfDir).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    selected.foreach { e =>
      try e.run(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/${e.name}")
      catch { case ex: Throwable =>
        System.err.println(s"[verify] ${e.name} failed: ${ex.getMessage}")
      }
    }
    def q(s: String): String = "\"" + Bench.jstr(s) + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
