package graft.functions

/** SWAR per-bit vote counter for the simhash kernels (r12, guide
  * step-2 per-task work): the naive update loop pays 64 shift+mask+adds
  * PER HASH — on the phash byte-gram path that is 64 ops per payload
  * byte, and it dominated the xxhash64 arm (the hash itself is ~10 ns).
  * Here each hash costs 8 table lookups + 8 adds: byte j of the hash
  * indexes a 256-entry table that spreads its 8 bits into 8 byte-lanes
  * of a long, accumulated into 8 lane-packed longs. Lanes saturate at
  * 255 votes, so the packed accumulators flush into the exact int
  * counters every 255 adds.
  *
  * The result is BIT-IDENTICAL to the naive loop (integer vote counts,
  * same majority rule) — pinned end-to-end by the existing
  * kernel == declarative-pipeline equality specs in OperatorSpec.
  */
private[graft] final class SimhashVotes {
  private val counts = new Array[Int](64)
  // acc(j) holds 8 one-byte counters: vote totals for bits 8j .. 8j+7
  private val acc = new Array[Long](8)
  private var pending = 0
  private var grams = 0L

  private def flush(): Unit = {
    var j = 0
    while (j < 8) {
      val a = acc(j)
      var l = 0
      while (l < 8) {
        counts(j * 8 + l) += ((a >>> (l * 8)) & 0xFFL).toInt
        l += 1
      }
      acc(j) = 0L
      j += 1
    }
    pending = 0
  }

  def add(h: Long): Unit = {
    val t = SimhashVotes.Spread
    acc(0) += t((h & 0xFF).toInt)
    acc(1) += t(((h >>> 8) & 0xFF).toInt)
    acc(2) += t(((h >>> 16) & 0xFF).toInt)
    acc(3) += t(((h >>> 24) & 0xFF).toInt)
    acc(4) += t(((h >>> 32) & 0xFF).toInt)
    acc(5) += t(((h >>> 40) & 0xFF).toInt)
    acc(6) += t(((h >>> 48) & 0xFF).toInt)
    acc(7) += t(((h >>> 56) & 0xFF).toInt)
    grams += 1
    pending += 1
    if (pending == 255) flush()
  }

  /** Majority-vote signature over everything added: bit b set iff
    * 2·count(b) > n — the SimHash rule, identical to the pipeline's.
    */
  def signature: Long = {
    if (pending > 0) flush()
    var sig = 0L
    var b = 0
    while (b < 64) { if (counts(b) * 2L > grams) sig |= (1L << b); b += 1 }
    sig
  }
}

private[graft] object SimhashVotes {
  /** Spread(b): bit i of byte b becomes byte-lane i's 0/1 increment. */
  private val Spread: Array[Long] = {
    val t = new Array[Long](256)
    var b = 0
    while (b < 256) {
      var v = 0L
      var i = 0
      while (i < 8) { if (((b >>> i) & 1) == 1) v |= (1L << (i * 8)); i += 1 }
      t(b) = v
      b += 1
    }
    t
  }
}
