package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions.{lit, pmod, udf}

import graft.functions.TextFunctions.{MinhashPrime, permCoeffs}

/** Reference forms of the MinHash signature, with the engine's
  * coefficients ([[TextFunctions.permCoeffs]]/[[TextFunctions.MinhashPrime]]):
  * MinHashAggSpec pins `expressions.MinHashAgg` against per-permutation
  * `min()`s of [[permutedHash]] columns, and StreamingSpec pins it against
  * the per-row [[sigKernel]].
  */
object MinHashReference {

  /** Per-element permuted hash h_i(x) = (a_i·(x mod p) + b_i) mod p for
    * one minhash permutation, in Column form.
    */
  def permutedHash(token: Column, coeff: (Long, Long)): Column =
    pmod(pmod(token, lit(MinhashPrime)) * coeff._1 + coeff._2, lit(MinhashPrime))

  /** Per-ROW minhash signature over a document's 64-bit shingle hashes.
    * Min is idempotent, so multiset vs set of shingles cannot change the
    * result.
    */
  def sigKernel(numPerm: Int): UserDefinedFunction = {
    val coeffs = permCoeffs(numPerm).toArray
    val p = MinhashPrime
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
      sig
    }
  }
}
