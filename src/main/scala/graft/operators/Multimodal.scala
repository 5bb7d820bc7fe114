package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Multimodal-column plumbing: media (image/audio/video) modeled as opaque
  * `binary` payload columns with a typed metadata struct alongside. The
  * Spark-side machinery — schema, batch shape, partition-parallel feature
  * extraction — is real; the actual media decode is STUBBED with a
  * deterministic fake (this container has no image/audio codecs), clearly
  * marked below. Swapping in a real decoder changes only `fakeDecode`.
  */
object Multimodal {

  /** Build a (id, payload binary, meta struct) frame from documents — the
    * canonical multimodal layout: payload is the raw media bytes, meta is
    * typed (mime, n_bytes).
    */
  def asBinaryPayload(s: SparkSession, dir: String): DataFrame =
    // ingest hygiene: a record with no payload bytes can't be decoded —
    // drop it at the boundary (mirrors corpusVectors' null-vector rule)
    Tables.documents(s, dir)
      .filter(col("text").isNotNull)
      .select(
        col("doc_id"),
        col("text").cast("binary").as("payload"),
        struct(
          lit("text/plain").as("mime"),
          length(col("text").cast("binary")).as("n_bytes")).as("meta"))

  /** ======= STUB: deterministic fake "decode + feature extract" =======
    * A real implementation would decode payload bytes (JPEG/WAV/...) and
    * emit fixed-size features per record via partition-parallel batch UDFs.
    * The fake derives features purely from the bytes (lengths, hashes,
    * leading byte) so results are deterministic and the distributed
    * plumbing (projection width, partitioning, no shuffle) is identical.
    * md5 is the content checksum (engine-portable, so the result is
    * verifiable against any SQL oracle); on a real cluster a 64-bit
    * xxhash64 would be the cheaper same-shape choice.
    */
  def extractFeatures(payload: DataFrame): DataFrame =
    payload.select(
      col("doc_id"),
      col("meta.mime").as("mime"),
      col("meta.n_bytes").as("n_bytes"),
      md5(col("payload")).as("content_md5"),
      // "thumbnail": first 8 bytes as hex — stands in for a decoded preview
      hex(substring(col("payload"), 1, 8)).as("head_hex"))

  /** End-to-end multimodal pipeline on the fixtures: payloadize → extract. */
  def pipeline(s: SparkSession, dir: String): DataFrame =
    extractFeatures(asBinaryPayload(s, dir))

  /** Frame sampling — the video-pipeline shape: each payload yields
    * `nFrames` evenly-spaced fixed-width slices ("frames"), emitted as one
    * row per frame with its offset and content digest. The explode is the
    * real contract (row amplification × nFrames, partition-parallel, no
    * shuffle); a real decoder would replace the byte slice with a decoded
    * frame tensor. Offsets use floor(n·i/nFrames) — the standard uniform
    * sampling grid.
    */
  def frameSample(payload: DataFrame, nFrames: Int = 4,
                  frameBytes: Int = 16): DataFrame = {
    val frames = (0 until nFrames).map { i =>
      val off = floor(col("meta.n_bytes") * i / nFrames).cast("int")
      struct(
        lit(i).as("frame_idx"),
        off.as("frame_off"),
        md5(col("payload").substr(off + 1, lit(frameBytes))).as("frame_md5"))
    }
    payload.select(
      col("doc_id"), col("meta.n_bytes").as("n_bytes"),
      explode(array(frames: _*)).as("f"))
      .select(col("doc_id"), col("n_bytes"), col("f.frame_idx"),
        col("f.frame_off"), col("f.frame_md5"))
  }

  /** Decoded-record shape a real media decoder would emit per payload. */
  case class DecodedFeatures(doc_id: Long, n_bytes: Int, content_hash: Long,
                             width: Int, height: Int, feature: Array[Float])

  /** ======= STUB decoder =======
    * Stands in for a native image/audio decode (no codecs in this
    * container). Deterministic: derives pseudo-dimensions and a fixed-size
    * feature vector from the raw bytes. Replace the body with a real
    * decoder; the batching contract around it stays identical.
    */
  private[operators] def fakeDecode(docId: Long, payload: Array[Byte]): DecodedFeatures = {
    var h = 1125899906842597L
    var i = 0
    while (i < payload.length) { h = 31 * h + payload(i); i += 1 }
    val feature = Array.tabulate(8) { d =>
      (((h >>> (d * 8)) & 0xFF).toFloat - 128f) / 128f
    }
    DecodedFeatures(docId, payload.length, h,
      width = 16 + (math.abs(h) % 1024).toInt,
      height = 16 + (math.abs(h >>> 10) % 1024).toInt, feature)
  }

  /** Flat projection of the batched decode for result harnesses: the
    * fixed-size feature vector is emitted as scalar columns f0..f7 (plus the
    * scalar fields) instead of array<float>, because canonical-sorting
    * comparators (pandas lexsort) cannot order array cells. The array-valued
    * `decodeBatched` remains the internal API.
    */
  def decodeBatchedFlat(payload: DataFrame, batchSize: Int = 64): DataFrame = {
    val cols = Seq(col("doc_id"), col("n_bytes"), col("content_hash"),
      col("width"), col("height")) ++
      (0 until 8).map(i => element_at(col("feature"), i + 1).cast("double").as(s"f$i"))
    decodeBatched(payload, batchSize).select(cols: _*)
  }

  /** Partition-parallel BATCHED decode — the Scala equivalent of a
    * mapInPandas media pipeline: records stream through fixed-size batches
    * (the shape a vectorized decoder / GPU inference step consumes), one
    * batch in flight per partition, no shuffle. The decode itself is the
    * clearly-marked stub above; schema, batching, and partition parallelism
    * are the real contract.
    */
  def decodeBatched(payload: DataFrame, batchSize: Int = 64): DataFrame = {
    val spark = payload.sparkSession
    import spark.implicits._
    payload.select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.grouped(batchSize).flatMap { batch =>
          // a real implementation would hand `batch` to a vectorized
          // decoder in one call; the stub decodes per record
          batch.map { case (id, bytes) => fakeDecode(id, bytes) }
        }
      }
      .toDF()
  }

  /** Perceptual-hash near-dup for OPAQUE media payloads — the multimodal
    * twin of `dedup_simhash`: a 64-bit locality-sensitive signature per
    * payload (SimHash over sliding byte 4-grams — overlapping windows
    * give the hash byte-level locality: payloads differing in a few
    * bytes share most grams, so their signatures sit within small
    * hamming distance), then the SHARED chunk-bucket candidate + exact
    * hamming ≤ 3 verify machinery (`Dedup.simhashBucketVerify`).
    *
    * A real image pipeline swaps the byte grams for decoded perceptual
    * features (DCT block signs — pHash proper); everything downstream of
    * the gram hash is modality-agnostic, which is the point: ONE
    * candidate/verify engine serves text, image, and audio near-dup.
    *
    * The gram hash is a choice exactly like the simhash token hash:
    * `portableHash = false` is xxhash64, the production default;
    * [[phashPairsPortable]] takes the md5-prefix hash a SQL oracle
    * replays (the fixture's payloads are ASCII text bytes, so the
    * oracle's character 4-grams ARE the byte 4-grams).
    *
    * Gram volume is n_bytes per payload (one hash per sliding window) —
    * the same per-byte cost a decoder would pay; the signature kernel is
    * a per-row projection with no shuffle.
    */
  def phashPairs(s: SparkSession, dir: String, maxBucket: Int = 100000,
                 portableHash: Boolean = false): DataFrame =
    phashPairsFromSigs(
      phashSignaturesKernel(asBinaryPayload(s, dir), portableHash), maxBucket)

  /** Pair tail over a prepared (doc_id, sig) table. The signature table
    * is the per-byte work of the whole pipeline and is consumed by TWO
    * separate executions: the rep-space verify materializes inside
    * simhashBucketVerify, then the member expansion runs as its own
    * plan — without a persist the signature stage re-ran once per
    * execution (the portable twin never paid this: its sigs live in
    * the FamilyCache). Persisted for the duration of the call, released
    * with the result materialization (CacheLifecycle contract); the
    * doc-count-sized groups frame is persisted too because
    * expandRepPairs scans it four times (intra self-join + two cross
    * joins). r11: mm_dedup_phash_fast 24 jobs / ~4.4 s → measured
    * drop recorded in OPTIMIZATION_r11.md.
    */
  private[operators] def phashPairsFromSigs(sigTable: DataFrame,
                                           maxBucket: Int): DataFrame = {
    val sigs = sigTable.persist()
    val reps = sigs.groupBy("sig").agg(min("doc_id").as("rep_id"))
    val repPairs = Dedup.simhashBucketVerify(
      reps.select(col("rep_id").as("doc_id"), col("sig")), maxBucket)
    val groups = sigs.join(reps, Seq("sig")).select(col("doc_id"), col("rep_id"))
    try CacheLifecycle.materialize(expandRepPairs(repPairs, groups), groups)
    finally sigs.unpersist(blocking = false)
  }

  /** Expand a rep-space verified pair set back to ALL member pairs:
    * intra-group pairs (equal sigs → hamming 0) plus cross-group pairs
    * inheriting their reps' hamming. `groups` is (doc_id, rep_id).
    */
  private def expandRepPairs(repPairs: DataFrame,
                             groups: DataFrame): DataFrame = {
    val intra = groups.as("x").join(groups.as("y"),
        col("x.rep_id") === col("y.rep_id") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"),
        lit(0).cast("int").as("hamming"))
    val cross = repPairs
      .join(groups.select(col("rep_id").as("id_a"), col("doc_id").as("ma")),
        Seq("id_a"))
      .join(groups.select(col("rep_id").as("id_b"), col("doc_id").as("mb")),
        Seq("id_b"))
      .select(least(col("ma"), col("mb")).as("id_a"),
        greatest(col("ma"), col("mb")).as("id_b"), col("hamming"))
    intra.unionByName(cross)
  }

  /** Signature stage of [[phashPairs]] — (doc_id, sig) from a
    * (doc_id, payload binary) frame, for the two shipped gram hashes
    * (xxhash64 / md5-prefix60): sig = f(payload) as a pure per-row
    * projection — no per-byte row explosion (the declarative pipeline it
    * replaced, explode one row per byte offset → gram hash → SimHash
    * aggregate, materializes a sequence() array and one generator row
    * PER PAYLOAD BYTE), no substr copy per gram, no aggregate, and NO
    * doc-keyed exchange at all (the aggregate's partial buffers still
    * shuffled doc-count × 520 B). The guide-§4.2 shape the rest of this file
    * already uses for the decode/energy stubs: Spark distributes, the
    * kernel does the per-byte work batchwise. Hash replication is exact:
    * xxhash64 hashes the gram's 4 bytes in place with Spark's own XXH64
    * (seed 42, the xxhash64 expression's definition); the portable hash
    * assembles the md5 digest's first 60 bits exactly like
    * TextFunctions.portableTokenHash. Vote rule is SimHash's
    * (2·count > n). OperatorSpec pins kernel == the declarative
    * reference pipeline for BOTH hashes on the fixture corpus plus
    * length-edge payloads.
    */
  private[graft] def phashSignaturesKernel(payload: DataFrame,
                                               portable: Boolean): DataFrame =
    payload
      .filter(length(col("payload")) >= 4)
      .select(col("doc_id"),
        (if (portable) sigKernelPortable else sigKernelXx)(col("payload"))
          .as("sig"))

  private def simhashOfByteGrams(payload: Array[Byte],
                                 md: java.security.MessageDigest): Long = {
    val votes = new graft.functions.SimhashVotes
    val digest = if (md != null) new Array[Byte](16) else null
    val n = payload.length
    var off = 0
    while (off <= n - 4) {
      val h =
        if (md != null) {
          md.reset()
          md.update(payload, off, 4)
          // digest into a reused buffer — md.digest() allocates a fresh
          // 16 B array per gram, i.e. per payload BYTE on this path (r12)
          md.digest(digest, 0, 16)
          var x = 0L
          var i = 0
          while (i < 7) { x = (x << 8) | (digest(i) & 0xFFL); i += 1 }
          (x << 4) | ((digest(7) & 0xF0L) >>> 4)
        } else {
          org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
            payload, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + off,
            4, 42L)
        }
      votes.add(h)
      off += 1
    }
    votes.signature
  }

  private val sigKernelXx = udf { (payload: Array[Byte]) =>
    if (payload == null || payload.length < 4) null
    else java.lang.Long.valueOf(simhashOfByteGrams(payload, null))
  }

  private val sigKernelPortable = udf { (payload: Array[Byte]) =>
    if (payload == null || payload.length < 4) null
    else java.lang.Long.valueOf(simhashOfByteGrams(payload,
      java.security.MessageDigest.getInstance("MD5")))
  }

  /** Oracle-portable [[phashPairs]] — md5-prefix gram hash, replayed
    * bit-for-bit by the SQL oracle's character 4-grams (ASCII fixture).
    *
    * The full pair table is built by EXPANSION, not direct pairing: the
    * candidate + hamming-verify machinery runs once on the equal-sig
    * REPRESENTATIVE set ([[phashRepPairsPortable]], shared with
    * `mm_phash_clusters`), then member pairs are recovered with two
    * narrow joins — intra-group pairs (equal sigs, hamming 0) and
    * cross-group pairs inheriting their reps' hamming (hamming is a
    * function of the sig alone, and members share their rep's sig, so
    * the expanded set is exactly the all-pairs result). The expensive
    * quadratic-candidate stage thus scales with DISTINCT signatures,
    * while the output stage is join-shaped and proportional to the pair
    * count it must emit anyway.
    */
  def phashPairsPortable(s: SparkSession, dir: String,
                         maxBucket: Int = 100000): DataFrame = {
    // resolve shared tables OUTSIDE the thunk (FamilyCache is not
    // re-entrant); pairs and clusters then share one signature build
    // and one rep-space verify
    val sigs = phashSigsPortable(s, dir)
    val repPairs = phashRepPairsPortable(s, dir, maxBucket)
    FamilyCache.get(s, dir, "phash_pairs_portable") {
      val reps = sigs.groupBy("sig").agg(min("doc_id").as("rep_id"))
      expandRepPairs(repPairs,
        sigs.join(reps, Seq("sig")).select(col("doc_id"), col("rep_id")))
    }
  }

  /** Family-cached verified pair set over one representative per DISTINCT
    * signature — the shared quadratic-candidate stage of the phash
    * family ((id_a, id_b, hamming), ids are rep doc_ids).
    */
  private[operators] def phashRepPairsPortable(s: SparkSession, dir: String,
                                               maxBucket: Int = 100000): DataFrame = {
    val sigs = phashSigsPortable(s, dir)
    // maxBucket is part of the key: the cached pair set is a function of
    // the cap, and a cap-silently-ignored hit would hand one caller
    // another caller's tuning
    FamilyCache.get(s, dir, s"phash_rep_pairs_portable:$maxBucket") {
      Dedup.simhashBucketVerify(
        sigs.groupBy("sig").agg(min("doc_id").as("doc_id")), maxBucket)
    }
  }

  /** Family-cached signature table (doc_id, sig) with the oracle-portable
    * gram hash — the per-byte work of the phash family, built once and
    * shared by `mm_dedup_phash` ([[phashPairsPortable]]) and
    * `mm_phash_clusters` ([[phashClusters]]).
    */
  def phashSigsPortable(s: SparkSession, dir: String): DataFrame =
    FamilyCache.get(s, dir, "phash_sigs_portable") {
      phashSignaturesKernel(asBinaryPayload(s, dir), portable = true)
    }

  /** Media duplicate clusters — phash pairs → connected components,
    * through the SAME clustering engine the text near-dup family uses
    * (`Dedup.componentsOf`: driver union-find under a pair-count guard,
    * large-star/small-star contraction past it). Output is
    * (cluster_id, n_members) — the groups a media-dedup pass keeps one
    * survivor from.
    *
    * EQUAL-SIGNATURE groups are PRE-COLLAPSED before pairing (the
    * `link_customer_pairs` lesson, taken one level deeper): replicated
    * or lightly-perturbed corpora hold many payloads whose byte-gram
    * SimHash is bit-identical (exact copies always are; near-copies
    * usually are — a few changed grams rarely flip a majority vote), a
    * group of c equal-sig members is a hamming-0 CLIQUE that would emit
    * Θ(c²) verified pairs plus c·k cross-group candidates, and the
    * component structure needs none of that: the clique is connected by
    * a c−1-edge star to its min-id representative, and every cross-group
    * edge is relayed exactly by the rep (hamming is a function of the
    * sig alone, so members and rep have identical neighbors). Component
    * labels are therefore bit-identical to the all-pairs form (modulo
    * the hot-bucket cap, which the collapsed population strains strictly
    * less) — measured 14.2M → ~10k pairs on the ×10 replicated fixture.
    *
    * Everything after the signature build runs NARROW ((long, long)
    * rows); the per-byte signature work itself is the family-cached
    * [[phashSigsPortable]] table shared with `mm_dedup_phash`.
    */
  def phashClusters(s: SparkSession, dir: String): DataFrame =
    phashClustersOf(s, phashSigsPortable(s, dir),
      repPairs = Some(phashRepPairsPortable(s, dir)))

  /** [[phashClusters]] over a prepared (doc_id, sig) table; `repPairs`,
    * when given, is the verified pair set over the signatures' min-id
    * representatives.
    */
  private[operators] def phashClustersOf(s: SparkSession, sigs: DataFrame,
                                         maxBucket: Int = 100000,
                                         repPairs: Option[DataFrame] = None): DataFrame = {
    val reps = sigs.groupBy("sig").agg(min("doc_id").as("rep_id"))
    val copyEdges = sigs.join(reps, Seq("sig"))
      .filter(col("doc_id") =!= col("rep_id"))
      .select(col("doc_id").as("id_a"), col("rep_id").as("id_b"))
    val pairs = repPairs.getOrElse(Dedup.simhashBucketVerify(
        reps.select(col("rep_id").as("doc_id"), col("sig")), maxBucket))
      .select(col("id_a"), col("id_b"))
    Dedup.componentsOf(s, pairs.unionByName(copyEdges))
      .groupBy("cluster_id").agg(count(lit(1)).as("n_members"))
  }

  /** Scene-cut detection over opaque media payloads — the video-pipeline
    * segmentation pass (shot-boundary detection by frame-feature
    * discontinuity): sample `nFrames` evenly-spaced byte windows per
    * payload (the [[frameSample]] grid), reduce each to a scalar energy
    * (the byte-sum surrogate for a real frame histogram — same stub
    * discipline as [[fakeDecode]]: replace the kernel, keep the
    * plumbing), and flag frames whose energy jumps more than `tau`
    * against the previous frame. The lag comparison is ONE window pass
    * partitioned per document (frame counts are schema-bounded, so
    * partitions never skew), and the frame fan-out happens AFTER the
    * kernel — one row per payload enters, nFrames scalars leave.
    *
    * The energy kernel is a deterministic pure function of the bytes,
    * so the SQL oracle replays the whole pass (the fixture's payloads
    * are the documents' ASCII bytes, the `mm_dedup_phash` contract).
    */
  def sceneCuts(s: SparkSession, dir: String, nFrames: Int = 16,
                frameBytes: Int = 16, tau: Int = 150): DataFrame = {
    val energies = udf { (payload: Array[Byte]) =>
      val n = payload.length
      Array.tabulate(nFrames) { i =>
        val off = (n.toLong * i / nFrames).toInt
        var e = 0; var j = off
        val end = math.min(off + frameBytes, n)
        while (j < end) { e += payload(j) & 0xFF; j += 1 }
        e
      }
    }
    val w = Window.partitionBy("doc_id").orderBy("frame_idx")
    asBinaryPayload(s, dir)
      .select(col("doc_id"),
        posexplode(energies(col("payload"))).as(Seq("frame_idx", "energy")))
      .withColumn("prev_energy", lag("energy", 1).over(w))
      .filter(col("prev_energy").isNotNull &&
        abs(col("energy") - col("prev_energy")) > tau)
      .select(col("doc_id"), col("frame_idx"), col("energy"),
        (col("energy") - col("prev_energy")).as("delta"))
  }
}
