package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.expressions.SimHashAgg
import graft.functions.TextFunctions.tokens

/** The declarative SimHash signature pipelines, kept as the executable
  * reference for an arbitrary token or gram hash: explode one row per
  * token (or per byte offset), hash it, and aggregate with
  * [[SimHashAgg]]. The engine computes the same signatures in one
  * projection (`Dedup.simhashSignaturesKernel`,
  * `Multimodal.phashSignaturesKernel`); OperatorSpec pins the two
  * bit-equal on both shipped hashes.
  */
object SignatureReference {

  /** (doc_id, sig) per document with at least one token. */
  def simhashSignatures(docs: DataFrame, tokenHash: Column => Column): DataFrame =
    docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .withColumn("h", tokenHash(col("tok")))
      .groupBy("doc_id")
      .agg(SimHashAgg.simhash(col("h")).as("sig"))

  /** Token-SimHash near-dup pairs over the reference signatures, through
    * the engine's chunk-bucket verify.
    */
  def simhashPairs(s: SparkSession, dir: String, maxBucket: Int = 100000,
                   tokenHash: Column => Column = xxhash64(_)): DataFrame =
    Dedup.simhashBucketVerify(
      simhashSignatures(Tables.documents(s, dir), tokenHash), maxBucket)

  /** (doc_id, sig) from a (doc_id, payload binary) frame: one row per
    * sliding byte 4-gram, hashed by `gramHash`. Payloads shorter than a
    * gram have no signature.
    */
  def phashSignatures(payload: DataFrame, gramHash: Column => Column): DataFrame =
    payload
      .select(col("doc_id"), col("payload"),
        length(col("payload")).cast("int").as("n"))
      .filter(col("n") >= 4)
      .select(col("doc_id"), col("payload"),
        explode(sequence(lit(1), col("n") - 3)).as("off"))
      .select(col("doc_id"),
        gramHash(col("payload").substr(col("off"), lit(4))).as("h"))
      .groupBy("doc_id")
      .agg(SimHashAgg.simhash(col("h")).as("sig"))

  /** Payload-level phash pairs over the reference signatures, through
    * the engine's rep-space verify and expansion.
    */
  def phashPairsOf(payload: DataFrame, gramHash: Column => Column,
                   maxBucket: Int = 100000): DataFrame =
    Multimodal.phashPairsFromSigs(phashSignatures(payload, gramHash), maxBucket)
}
