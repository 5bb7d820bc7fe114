package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-level text primitives for the large-scale pipeline operators
  * (dedup, fingerprinting, quality scoring). Everything here is composed
  * from codegen'd built-ins and higher-order functions — no UDFs — so the
  * expressions stay inside whole-stage codegen and scale linearly.
  */
object TextFunctions {

  /** Whitespace tokenization; empty input → empty array (not [""]). */
  def tokens(text: Column): Column =
    when(length(trim(text)) === 0, array().cast("array<string>"))
      .otherwise(split(trim(text), "\\s+"))

  /** Distinct word k-shingles ("w1 w2 w3") of the token array.
    * Documents shorter than k tokens yield an empty set.
    *
    * Implemented as a compiled kernel: the Column form
    * (`array_distinct(transform(sequence(...), concat_ws(...)))`) runs
    * CodegenFallback-interpreted per shingle and was the most expensive
    * stage of the pair pipeline (2.4 s of 3.5 s at sf0.1). The kernel
    * replicates the declarative semantics exactly — including Spark's
    * `trim` (strips ASCII spaces only) and `split("\\s+")` (leading empty
    * token when the trimmed text starts with other whitespace) — so the
    * SQL oracles are unaffected.
    */
  def shingles(text: Column, k: Int): Column = shingleKernel(k)(text)

  private def shingleKernel(k: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (text: String) =>
      if (text == null) Array.empty[String]
      else {
        // Spark trim(): ASCII space only (String.trim would also take \t\n)
        var a = 0
        var b = text.length
        while (a < b && text.charAt(a) == ' ') a += 1
        while (b > a && text.charAt(b - 1) == ' ') b -= 1
        if (a >= b) Array.empty[String]
        else {
          val w = text.substring(a, b).split("\\s+")
          if (w.length < k) Array.empty[String]
          else {
            val seen = new java.util.LinkedHashSet[String](w.length * 2)
            val sb = new java.lang.StringBuilder(64)
            var i = 0
            while (i + k <= w.length) {
              sb.setLength(0)
              var j = 0
              while (j < k) {
                if (j > 0) sb.append(' ')
                sb.append(w(i + j))
                j += 1
              }
              seen.add(sb.toString)
              i += 1
            }
            seen.toArray(new Array[String](seen.size))
          }
        }
      }
    }

  /** Per-document repetition counts in ONE compiled pass:
    * [n_tokens, max_unigram_count, max_bigram_count, distinct_3gram_count].
    * Repetition metrics are intrinsically per-document, so the explode →
    * two-hash-agg shape (which shuffles the corpus on the doc key twice)
    * is strictly worse than a per-row kernel at any scale; document size
    * bounds the hash maps. Tokenization replicates `tokens()` exactly —
    * Spark `trim` (ASCII spaces only) then `split("\\s+")` — as in the
    * shingle kernel, so SQL oracles are unaffected.
    */
  def repetitionCounts(text: Column): Column = repetitionKernel(text)

  private val repetitionKernel: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (text: String) =>
      if (text == null) Array(0L, 0L, 0L, 0L)
      else {
        var a = 0
        var b = text.length
        while (a < b && text.charAt(a) == ' ') a += 1
        while (b > a && text.charAt(b - 1) == ' ') b -= 1
        if (a >= b) Array(0L, 0L, 0L, 0L)
        else {
          val w = text.substring(a, b).split("\\s+")
          val uni = new scala.collection.mutable.HashMap[String, Long]()
          var uniMax = 0L
          var i = 0
          while (i < w.length) {
            val c = uni.getOrElse(w(i), 0L) + 1
            uni.update(w(i), c)
            if (c > uniMax) uniMax = c
            i += 1
          }
          val bi = new scala.collection.mutable.HashMap[String, Long]()
          var biMax = 0L
          i = 0
          while (i + 1 < w.length) {
            val g = w(i) + " " + w(i + 1)
            val c = bi.getOrElse(g, 0L) + 1
            bi.update(g, c)
            if (c > biMax) biMax = c
            i += 1
          }
          val tri = new java.util.HashSet[String]()
          i = 0
          while (i + 2 < w.length) {
            tri.add(w(i) + " " + w(i + 1) + " " + w(i + 2))
            i += 1
          }
          Array(w.length.toLong, uniMax, biMax, tri.size.toLong)
        }
      }
    }

  /** Mersenne prime 2^31 − 1: the modulus for the minhash permutation
    * family h_i(x) = (a_i·x + b_i) mod p — the standard construction from
    * Broder's "On the resemblance and containment of documents" (1997).
    */
  val MinhashPrime: Long = 2147483647L

  /** Deterministic permutation coefficients (any fixed odd multipliers work;
    * derived from a splitmix-style integer scramble of the index).
    */
  def permCoeffs(numPerm: Int): Seq[(Long, Long)] =
    (0 until numPerm).map { i =>
      val z = (i.toLong + 1) * 0x9E3779B97F4A7C15L
      val a = math.abs(z % (MinhashPrime - 1)) + 1 // 1..p-1
      val b = math.abs((z >> 17) % MinhashPrime) // 0..p-1
      (a, b)
    }

  /** Per-ROW minhash signature + band keys in ONE kernel over a
    * document's 64-bit shingle hashes — the streaming-side path: a stream
    * computes each arriving document's band keys in one narrow map (no
    * explode, no aggregation state), where the batch path aggregates
    * exploded tokens (expressions.MinHashAgg) and bands with
    * [[lshBands]]. Signature arithmetic and coefficients
    * ([[permCoeffs]]/[[MinhashPrime]]) are the batch aggregate's, so the
    * signatures are bit-identical; band keys are a splitmix fold
    * of (band index, band's r signature values). The band HASH differs
    * from the batch `lshBands` xxhash64 — irrelevant to semantics, since
    * a band key collision means "the r signature values agree" under
    * either hash (up to ~2⁻⁶⁴ accidental collisions, which the exact
    * verify stage screens out anyway). Crucially this keeps the streaming
    * plan to ONE scalar-function node: building the 16 band expressions
    * Column-side duplicates the signature-UDF subtree 16× when the
    * optimizer collapses projections, which blows up micro-batch planning
    * (measured: minutes per batch).
    */
  def bandKeysKernel(numPerm: Int, numBands: Int)
  : org.apache.spark.sql.expressions.UserDefinedFunction = {
    require(numPerm % numBands == 0, "numBands must divide numPerm")
    val coeffs = permCoeffs(numPerm).toArray
    val p = MinhashPrime
    val r = numPerm / numBands
    udf { (hs: Array[Long]) =>
      val sig = Array.fill(numPerm)(Long.MaxValue)
      var j = 0
      while (j < hs.length) {
        val base = java.lang.Math.floorMod(hs(j), p)
        var i = 0
        while (i < numPerm) {
          val (a, b) = coeffs(i)
          val h = java.lang.Math.floorMod(a * base + b, p)
          if (h < sig(i)) sig(i) = h
          i += 1
        }
        j += 1
      }
      Array.tabulate(numBands) { bi =>
        var acc = bi.toLong * 0x9E3779B97F4A7C15L
        var k = 0
        while (k < r) {
          acc = java.lang.Long.rotateLeft(acc ^ sig(bi * r + k), 27) * 0xC2B2AE3D27D4EB4FL
          k += 1
        }
        acc
      }
    }
  }

  /** LSH band keys: split the signature into `numBands` rows of width
    * r = numPerm/numBands, hash each row (band index is salted in so bands
    * never collide across positions). Returns array<long> of band hashes.
    */
  def lshBands(sig: Column, numPerm: Int, numBands: Int): Column = {
    val r = numPerm / numBands
    require(r * numBands == numPerm, "numBands must divide numPerm")
    val bands = (0 until numBands).map { bi =>
      xxhash64(lit(bi), concat_ws(",", slice(sig, bi * r + 1, r)))
    }
    array(bands: _*)
  }

  /** Hamming distance between two 64-bit simhashes. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Engine-portable 60-bit token hash: the first 15 hex chars of md5,
    * parsed as an integer. Any SQL oracle can replay it (hex parse +
    * horner fold), unlike xxhash64 — which remains the cheaper
    * production-cluster choice where verification is done differently.
    * 60 bits keep the value positive in a signed 64-bit long on every
    * engine.
    *
    * CAVEAT (r11 ADVICE): this is an opaque deterministic Scala UDF at
    * every call site — Catalyst can neither push predicates through it
    * nor constant-fold it, and a `.filter` on a column COMPUTED from it
    * can be pushed below the projection and evaluate the UDF twice per
    * row (guide §4.4 — the double-evaluation simhashSignaturesKernel
    * dodged by pre-filtering on a cheap native predicate instead,
    * Dedup.scala). New call sites must either filter on the raw input
    * column or check the plan for a duplicated BatchEval/UDF node.
    */
  def portableTokenHash(c: Column): Column = md5Prefix60(c)

  /** Compiled kernel computing EXACTLY the oracle's declarative rule
    * `conv(substring(md5(x), 1, 15), 16, 10)` straight from the digest
    * bytes: the first 15 hex chars of md5 are the first 60 bits of the
    * digest, i.e. bytes 0–6 followed by the high nibble of byte 7 — so
    * the column form's hex string, substring, and base-16 reparse (three
    * allocations per row) collapse into eight byte reads. Measured 1.5×
    * per hash (5M rows: 0.46 → 0.30 s), and the hash runs once per
    * payload BYTE on the phash gram path. OperatorSpec pins it bit-equal
    * to the column form on every row.
    */
  private def md5Prefix60(c: Column): Column = md5Prefix60Udf(c.cast("binary"))

  private val md5Prefix60Udf =
    org.apache.spark.sql.functions.udf { (b: Array[Byte]) =>
      if (b == null) null
      else {
        val d = java.security.MessageDigest.getInstance("MD5").digest(b)
        var h = 0L
        var i = 0
        while (i < 7) { h = (h << 8) | (d(i) & 0xFFL); i += 1 }
        java.lang.Long.valueOf((h << 4) | ((d(7) & 0xF0L) >>> 4))
      }
    }

  /** One-pass token SimHash kernel — the compiled form of
    * `explode(tokens(text)) → tokenHash → SimHash aggregate` for the two
    * shipped token hashes, used by the dedup_simhash entries (the
    * declarative pipeline is the spec reference). Tokenization
    * replicates `tokens()` exactly (Spark trim = ASCII spaces only;
    * `split("\\s+", -1)` keeps leading AND trailing empty tokens —
    * Spark's split default limit is -1, unlike Java's String.split);
    * docs whose token array is empty produce no aggregate row in the
    * pipeline, so the kernel returns null and callers filter it. Hashes: xxhash64 = Spark's XXH64 over the
    * token's UTF-8 bytes, seed 42; portable = the md5-prefix60 rule.
    * Vote rule is SimHash's (2·count > n). Pinned bit-equal to the
    * pipeline by OperatorSpec on the fixture + whitespace/empty edges.
    */
  def tokenSimhash(c: Column, portable: Boolean): Column =
    (if (portable) tokenSimhashPortableUdf else tokenSimhashXxUdf)(c)

  private val WhitespaceRun = java.util.regex.Pattern.compile("\\s+")

  private def tokenSimhashOf(text: String,
                             md: java.security.MessageDigest): java.lang.Long = {
    if (text == null) return null
    var a = 0
    var b = text.length
    while (a < b && text.charAt(a) == ' ') a += 1
    while (b > a && text.charAt(b - 1) == ' ') b -= 1
    if (a >= b) return null // tokens() yields array() → no pipeline row
    val toks = WhitespaceRun.split(text.substring(a, b), -1)
    // SWAR vote counter (SimhashVotes): 8 lookups+adds per token hash
    // instead of 64 shift+mask+adds — bit-identical counts (r12)
    val votes = new SimhashVotes
    val digest = if (md != null) new Array[Byte](16) else null
    var i = 0
    while (i < toks.length) {
      val bytes = toks(i).getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val h =
        if (md != null) {
          md.reset()
          md.update(bytes)
          md.digest(digest, 0, 16)
          var x = 0L
          var j = 0
          while (j < 7) { x = (x << 8) | (digest(j) & 0xFFL); j += 1 }
          (x << 4) | ((digest(7) & 0xF0L) >>> 4)
        } else {
          org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
            bytes, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET,
            bytes.length, 42L)
        }
      votes.add(h)
      i += 1
    }
    java.lang.Long.valueOf(votes.signature)
  }

  private val tokenSimhashXxUdf =
    org.apache.spark.sql.functions.udf { (text: String) =>
      tokenSimhashOf(text, null)
    }

  private val tokenSimhashPortableUdf =
    org.apache.spark.sql.functions.udf { (text: String) =>
      tokenSimhashOf(text, java.security.MessageDigest.getInstance("MD5"))
    }

  /** Normalized-text fingerprint: lowercase, collapse non-alnum runs to
    * single spaces, hash. Two documents differing only in case /
    * punctuation / whitespace get the same fingerprint. md5 keeps the
    * fingerprint engine-portable (verifiable against any SQL oracle); at
    * cluster scale a 64-bit xxhash64 of the same normalized text is the
    * cheaper drop-in (8 bytes vs 32, one pass, no digest state).
    */
  def fingerprint(text: Column): Column =
    md5(regexp_replace(lower(text), "[^a-z0-9]+", " ").cast("binary"))

  /** Unicode canonicalization — the text-cleaning step every web-scale
    * corpus runs before dedup/tokenization (C4/RefinedWeb normalize before
    * fingerprinting; two byte-different encodings of the same accented
    * word must dedup together): NFD-decompose, strip combining marks
    * (accent fold), lowercase (root locale), collapse whitespace runs to
    * single ASCII spaces, trim. A per-row kernel like [[shingles]] — no
    * Spark builtin reaches Unicode normalization forms, and the work is
    * intrinsically per-document with no state, so the projection stays a
    * zero-shuffle map at any scale. Oracle contract: on precomposed
    * Latin accents (the planted-fixture set) the result is byte-equal to
    * SQL `lower(strip_accents(nfc_normalize(x)))` + whitespace collapse;
    * the kernel itself handles the full Unicode mark classes.
    */
  def normalizeUnicode(text: Column): Column = normalizeKernel(text)

  private val normalizeKernel: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (text: String) =>
      if (text == null) null
      else {
        val de = java.text.Normalizer.normalize(text, java.text.Normalizer.Form.NFD)
        de.replaceAll("\\p{M}+", "")
          .toLowerCase(java.util.Locale.ROOT)
          .replaceAll("\\s+", " ")
          .trim
      }
    }
}
