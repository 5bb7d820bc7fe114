package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** JSON-lines scan/sink surface — format breadth beyond the reference's
  * CSV-only loaders (SURVEY.md §2.1): JSONL is the interchange format of
  * LLM training corpora (one document object per line), and Spark's
  * native json reader parallelizes it per split exactly like CSV.
  *
  * Schema discipline mirrors CsvSource: production reads pass an explicit
  * schema (inference costs a full extra pass over 100 TB and can drift
  * per shard).
  */
object JsonSource {

  /** Explicit-schema JSONL read — no inference pass. Unparseable lines
    * land in `_corrupt_record`-free null rows under the default
    * PERMISSIVE mode; pass mode=FAILFAST to hard-fail a corrupt shard.
    */
  def read(s: SparkSession, schema: StructType, paths: Seq[String],
           mode: String = "PERMISSIVE"): DataFrame =
    s.read.schema(schema).option("mode", mode).json(paths: _*)

  /** JSONL sink: one object per line, split across `partitions` files —
    * the shard layout downstream tokenizer jobs expect. Compression by
    * codec name (gzip/snappy/none) applies per file.
    */
  def write(df: DataFrame, path: String, partitions: Int = 0,
            codec: String = "none"): Unit = {
    val out = if (partitions > 0) df.repartition(partitions) else df
    out.write.mode("overwrite").option("compression", codec).json(path)
  }
}
