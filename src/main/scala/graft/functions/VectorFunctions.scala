package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Fixed-dimension vector math as flat codegen'd expressions.
  *
  * Spark's array higher-order functions (`zip_with`/`aggregate`) are
  * CodegenFallback — interpreted per row — which makes them the bottleneck
  * in O(n²) similarity kernels. For a known embedding dimension, unrolling
  * the dot product into a flat `element_at` multiply-add chain keeps the
  * whole kernel inside whole-stage codegen: left-to-right evaluation order
  * also matches a sequential oracle sum bit-for-bit (IEEE doubles).
  */
object VectorFunctions {

  /** Embedding dimension of the fixtures (FIXTURES.md §B). */
  val Dim = 64

  /** dot(a, b) unrolled over a fixed dimension; elements cast to double. */
  def dotFixed(a: Column, b: Column, dim: Int = Dim): Column =
    (1 to dim).map { i =>
      element_at(a, i).cast("double") * element_at(b, i).cast("double")
    }.reduce(_ + _)

  /** L2 norm over a fixed dimension. */
  def l2normFixed(a: Column, dim: Int = Dim): Column = sqrt(dotFixed(a, a, dim))

  /** Primitive-array dot kernel: a compiled tight loop over primitive
    * Float arrays (Spark extracts array<float> to Array[Float] without
    * boxing). Accumulation order is left-to-right in double, bit-identical
    * to the sequential oracle sum.
    */
  val dotKernelDet: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (a: Array[Float], b: Array[Float]) =>
      val n = math.min(a.length, b.length)
      var i = 0
      var s = 0.0d
      while (i < n) { s += a(i).toDouble * b(i).toDouble; i += 1 }
      s
    }

  /** Sorted-long-array intersection-count kernel — the exact-Jaccard
    * verify primitive. One compiled merge scan, O(|a|+|b|) per candidate
    * pair over unboxed primitive arrays (`array_intersect` +
    * `size` would run CodegenFallback-interpreted and allocate the
    * intersection it only needs to count). Inputs must be sorted
    * ascending and duplicate-free — sort_array(collect_list) over
    * per-doc DISTINCT shingles guarantees both.
    */
  val sortedIntersectKernel: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (a: Array[Long], b: Array[Long]) =>
      var i = 0
      var j = 0
      var c = 0
      while (i < a.length && j < b.length) {
        if (a(i) < b(j)) i += 1
        else if (a(i) > b(j)) j += 1
        else { c += 1; i += 1; j += 1 }
      }
      c
    }

  /** Deterministic pseudo-random hyperplanes as a flattened row-major
    * matrix (numPlanes × dim): component c of plane p is a
    * splitmix64-scrambled value in [-1, 1). Fixed seed → reproducible
    * bucketing/sketching across runs and engines.
    */
  /** Plane count that holds LSH bucket occupancy near `targetBucketSize`
    * as the corpus grows: 2^p buckets ≈ n / target. This is THE scaling
    * lever for every sign-bucketed operator (knn graph, incremental knn,
    * streaming ANN ingest): with planes fixed, candidate volume grows as
    * n²/2^p — measured on the ×10 fixture step as a 90× pair blow-up
    * (sumSq 20.9k → 1.87M, max bucket 26 → 205). Re-deriving p from n
    * restores ~linear candidate growth; the floor keeps small corpora at
    * the well-tested default geometry.
    */
  def adaptivePlaneCount(corpusSize: Long, targetBucketSize: Int = 32,
                         floor: Int = 8): Int =
    math.max(floor, 64 - java.lang.Long.numberOfLeadingZeros(
      math.max(1L, corpusSize / math.max(1, targetBucketSize) - 1)).toInt)

  def hyperplanesFlat(numPlanes: Int, dim: Int): Array[Double] = {
    val out = new Array[Double](numPlanes * dim)
    var p = 0
    while (p < numPlanes) {
      var c = 0
      while (c < dim) {
        var z = (p.toLong * 1024 + c + 1) * 0x9E3779B97F4A7C15L
        z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
        z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
        z = z ^ (z >>> 31)
        out(p * dim + c) = z.toDouble / Long.MaxValue.toDouble
        c += 1
      }
      p += 1
    }
    out
  }

  /** Sign-sketch kernel: an S-bit hyperplane sign pattern packed into
    * ⌈S/64⌉ longs. For unit vectors x, y at angle θ,
    * E[hamming(sk(x), sk(y))] = S·θ/π (Goemans–Williamson / Charikar), so
    * hamming distance on 4 longs — a handful of XOR+popcount instructions —
    * estimates the angle ~30× cheaper than a 64-dim float dot product.
    * Used as the pair-prefilter in Dedup.embeddingCosine.
    */
  def sketchKernel(planesFlat: Array[Double], dim: Int)
  : org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (v: Array[Float]) =>
      val numPlanes = planesFlat.length / dim
      val words = new Array[Long]((numPlanes + 63) >>> 6)
      var p = 0
      while (p < numPlanes) {
        var s = 0.0d
        var i = 0
        val off = p * dim
        val n = math.min(dim, v.length)
        while (i < n) { s += v(i).toDouble * planesFlat(off + i); i += 1 }
        if (s > 0) words(p >>> 6) |= (1L << (p & 63))
        p += 1
      }
      words
    }

  /** Dense projection kernel y = R·x / scale (row-major R, outDim × dim):
    * the matrix-vector product of a JL dimensionality reduction as ONE
    * compiled loop instead of outDim × dim expression nodes — a 512-node
    * literal tree codegens correctly but pays a per-query compile cost
    * (hundreds of ms) that dwarfs the actual flops at any batch size.
    * Accumulation is left-to-right in double per output row, bit-identical
    * to the unrolled expression and the sequential oracle sum.
    */
  def projectKernel(planesFlat: Array[Double], dim: Int, scale: Double)
  : org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (v: Array[Float]) =>
      val outDim = planesFlat.length / dim
      val y = new Array[Double](outDim)
      var j = 0
      while (j < outDim) {
        var s = 0.0d
        var i = 0
        val off = j * dim
        val n = math.min(dim, v.length)
        while (i < n) { s += v(i).toDouble * planesFlat(off + i); i += 1 }
        y(j) = s / scale
        j += 1
      }
      y
    }

  /** Random-hyperplane LSH bucket kernel: sign bit per plane, planes given
    * as a flattened row-major matrix (numPlanes × dim).
    */
  def bucketKernel(planesFlat: Array[Double], dim: Int)
  : org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (v: Array[Float]) =>
      val numPlanes = planesFlat.length / dim
      var bucket = 0L
      var p = 0
      while (p < numPlanes) {
        var s = 0.0d
        var i = 0
        val off = p * dim
        val n = math.min(dim, v.length)
        while (i < n) { s += v(i).toDouble * planesFlat(off + i); i += 1 }
        if (s > 0) bucket |= (1L << p)
        p += 1
      }
      bucket
    }
}
