package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.expressions.TopKAgg
import graft.expressions.DotProduct.dot
import graft.functions.VectorFunctions._

/** Approximate-nearest-neighbor search over the `embeddings` fixture
  * (vec_id, embedding array<float>, label).
  *
  * Brute-force top-k is the correctness baseline: broadcast the (small)
  * query set, score every corpus vector in one pass with a codegen'd
  * unrolled dot product, take per-query top-k. At 100 TB the corpus side
  * stays partitioned and is read once; only the queries and the k results
  * per query ever move.
  *
  * The scale path is random-hyperplane LSH (annLsh): bucket corpus vectors
  * by sign-pattern of projections onto fixed hyperplanes, probe the query's
  * bucket only. Cost drops from O(n·q) to O(q·bucket).
  */
object Similarity {

  /** Bounded per-query top-k via the custom top-k aggregate
    * (expressions.TopKAgg): map-side partial aggregation contributes at
    * most k candidates per query per partition to the shuffle — no sort
    * of the scored stream, unlike the row_number window form this
    * replaced (which shuffles and sorts every scored row).
    */
  private def topKPerQuery(scored: DataFrame, k: Int): DataFrame =
    scored.groupBy("query_id")
      .agg(TopKAgg.topk(col("cosine"), col("neighbor_id"), k).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("query_id"), col("t.id").as("neighbor_id"),
        col("t.score").as("cosine"), (col("pos") + 1).cast("int").as("rank"))

  /** Normed corpus vectors (vec_id, v, nrm) — the subtree every ANN
    * operator (and the embedding near-dup) starts from, family-shared via
    * [[FamilyCache]]: one embeddings scan + norm pass per (session,
    * corpus), corpus-row-sized, released with the dedup family's shared
    * set. First toucher pays the scan — in Bench's name order, the
    * `ann_brute_topk` baseline entry.
    */
  private[operators] def corpusVectors(s: SparkSession, dir: String): DataFrame = {
    // index-ingest hygiene: a null embedding (failed upstream encode) is
    // not a vector — exclude it here, the boundary every vector operator
    // shares, instead of null-guarding every kernel and driver collect.
    // Inert on the pristine fixtures; the nulls EdgeSweep exercises it.
    FamilyCache.get(s, dir, "vectors")(
      Tables.embeddings(s, dir)
        .filter(col("embedding").isNotNull)
        .select(col("vec_id"), col("embedding").as("v"))
        .withColumn("nrm", sqrt(dot(col("v"), col("v")))))
  }

  /** Exact top-k cosine neighbors for each query vector (vec_id < numQueries),
    * excluding self. Deterministic tie-break on neighbor_id after rounding.
    */
  def bruteForceTopK(s: SparkSession, dir: String,
                     numQueries: Int = 10, k: Int = 5): DataFrame =
    CacheLifecycle.materialize(bruteForceTopKPlan(s, dir, numQueries, k))

  /** Lazy-plan variant of [[bruteForceTopK]] — the hybrid-RRF vector arm
    * composes this directly (the fusion consumes ≤kArm rows once; a
    * checkpoint of the arm would cost more than recomputing it).
    */
  private[operators] def bruteForceTopKPlan(s: SparkSession, dir: String,
                                            numQueries: Int = 10, k: Int = 5): DataFrame = {
    val e = corpusVectors(s, dir)
    val q = e.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"))
    val scored = e.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(
        col("query_id"),
        col("vec_id").as("neighbor_id"),
        round(dot(col("v"), col("qv")) / (col("nrm") * col("qn")), 6).as("cosine"))
    topKPerQuery(scored, k)
  }

  /** Sign-pattern bucket id from `numPlanes` hyperplane projections
    * (primitive kernel over the shared deterministic plane matrix —
    * VectorFunctions.hyperplanesFlat).
    */
  private def lshBucket(numPlanes: Int, dim: Int) =
    bucketKernel(hyperplanesFlat(numPlanes, dim), dim)

  /** LSH-bucketed ANN: corpus vectors bucketed by hyperplane sign pattern;
    * each query probes only its own bucket. Approximate — recall depends on
    * numPlanes; the bucket join replaces the broadcast cross product.
    */
  def annLsh(s: SparkSession, dir: String, numQueries: Int = 10, k: Int = 5,
             numPlanes: Int = 4, dim: Int = Dim): DataFrame = {
    val e = corpusVectors(s, dir)
      .withColumn("bucket", lshBucket(numPlanes, dim)(col("v")))
    val q = e.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qn"), col("bucket"))
    val scored = e.join(broadcast(q), Seq("bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(
        col("query_id"),
        col("vec_id").as("neighbor_id"),
        round(dot(col("v"), col("qv")) / (col("nrm") * col("qn")), 6).as("cosine"))
    CacheLifecycle.materialize(topKPerQuery(scored, k))
  }

  /** Multi-probe LSH ANN (Lv et al., "Multi-probe LSH", VLDB 2007): the
    * corpus is bucketed once by hyperplane sign pattern (each vector in
    * exactly ONE bucket — the index is unchanged); each query probes its
    * home bucket plus every bucket at Hamming distance 1 (one flipped
    * hyperplane bit — the perturbations most likely to hold a near
    * neighbor, since a near-threshold vector sits close to few planes).
    * Recall rises from per-bucket to per-ball coverage for (1+numPlanes)×
    * candidate cost, with NO extra index storage — the multi-probe trade.
    * The probe fan-out lives on the (small) query side as an explode
    * feeding the same broadcast equi-join as the single-probe form; no
    * duplicate (query, neighbor) pairs arise because corpus membership is
    * single-bucket.
    */
  def annLshMultiProbe(s: SparkSession, dir: String, numQueries: Int = 10,
                       k: Int = 5, numPlanes: Int = 4, dim: Int = Dim): DataFrame = {
    val e = corpusVectors(s, dir)
      .withColumn("bucket", lshBucket(numPlanes, dim)(col("v")))
    val q = e.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qn"), col("bucket"))
      .withColumn("bucket", explode(array(
        col("bucket") +: (0 until numPlanes).map(i =>
          col("bucket").bitwiseXOR(lit(1 << i))): _*)))
    val scored = e.join(broadcast(q), Seq("bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(
        col("query_id"),
        col("vec_id").as("neighbor_id"),
        round(dot(col("v"), col("qv")) / (col("nrm") * col("qn")), 6).as("cosine"))
    CacheLifecycle.materialize(topKPerQuery(scored, k))
  }

  /** All-points kNN graph: every corpus vector's top-k cosine neighbors
    * among the vectors sharing its LSH sign-bucket — the neighbor-list
    * primitive that graph-based curation builds on (SemDeDup-style
    * cluster pruning, graph dedup, diversity scoring). Differs from the
    * query-set ANN family in physical shape: the probe side is the WHOLE
    * corpus, so the bucket join is a shuffled equi-join of two
    * corpus-sized sides (never broadcast), followed by the same bounded
    * `graft_topk` aggregate (no global sort, no window).
    *
    * Scale levers: `numPlanes` sets bucket count 2^p — size it to
    * log2(n / targetBucketSize) so per-bucket candidate volume stays
    * O(n · bucketSize), and cap hot buckets like the simhash pipeline if
    * a degenerate embedding region concentrates mass (the fixture's
    * uniform synthetic vectors spread evenly, so the default runs
    * uncapped). Nodes in singleton buckets emit no edges — the graph is
    * honestly sparse where LSH finds no co-bucketed candidate (recall
    * rises with multi-probe exactly as in [[annLshMultiProbe]]).
    *
    * 8 planes (256 buckets) keeps the sf1 gate's candidate volume ~1.6M
    * pairs while leaving ≥2-candidate buckets at sf0.01 (500 vectors).
    */
  def knnGraph(s: SparkSession, dir: String, k: Int = 5,
               numPlanes: Int = 8, dim: Int = Dim): DataFrame =
    CacheLifecycle.materialize(knnGraphPlan(s, dir, k, numPlanes, dim))

  /** Lazy-plan variant of [[knnGraph]] (PlanSpec pins the shuffled-join
    * shape on the un-materialized frame; the public operator checkpoints).
    */
  private[operators] def knnGraphPlan(s: SparkSession, dir: String, k: Int = 5,
                                      numPlanes: Int = 8, dim: Int = Dim): DataFrame = {
    val e = corpusVectors(s, dir)
      .withColumn("bucket", lshBucket(numPlanes, dim)(col("v")))
    val nbrs = e.select(col("bucket"), col("vec_id").as("neighbor_id"),
      col("v").as("nv"), col("nrm").as("nn"))
    val scored = e.join(nbrs, Seq("bucket"))
      .filter(col("vec_id") =!= col("neighbor_id"))
      .select(
        col("vec_id").as("query_id"),
        col("neighbor_id"),
        round(dot(col("v"), col("nv")) / (col("nrm") * col("nn")), 6).as("cosine"))
    topKPerQuery(scored, k)
  }

  /** Incremental kNN — the production-ingest twin of [[knnGraph]] (the
    * embedding-side mirror of `dedup_incremental`): a NEW batch of
    * vectors (odd vec_id in the fixture split, a real deployment keys on
    * arrival batch) probes the EXISTING corpus (even vec_id) through the
    * same LSH sign-bucket index. Candidates are new×old only, so work is
    * proportional to the BATCH, never the corpus — the shape that lets a
    * 100 TB index absorb a daily delta without recomputing the graph.
    * New-batch nodes get neighbor lists immediately; back-edges (old →
    * new) accumulate on the next full rebuild, exactly as in the batch
    * ingest pipelines this mirrors.
    */
  def knnIncremental(s: SparkSession, dir: String, k: Int = 5,
                     numPlanes: Int = 8, dim: Int = Dim): DataFrame =
    CacheLifecycle.materialize(knnIncrementalPlan(s, dir, k, numPlanes, dim))

  private[operators] def knnIncrementalPlan(s: SparkSession, dir: String,
                                            k: Int = 5, numPlanes: Int = 8,
                                            dim: Int = Dim): DataFrame = {
    val e = corpusVectors(s, dir)
      .withColumn("bucket", lshBucket(numPlanes, dim)(col("v")))
    val fresh = e.filter(col("vec_id") % 2 === 1)
    val corpus = e.filter(col("vec_id") % 2 === 0)
      .select(col("bucket"), col("vec_id").as("neighbor_id"),
        col("v").as("nv"), col("nrm").as("nn"))
    val scored = fresh.join(corpus, Seq("bucket"))
      .select(
        col("vec_id").as("query_id"),
        col("neighbor_id"),
        round(dot(col("v"), col("nv")) / (col("nrm") * col("nn")), 6).as("cosine"))
    topKPerQuery(scored, k)
  }

  /** IVF-style ANN: a coarse quantizer assigns every corpus vector to a
    * cell; each query probes only the `nprobe` cells whose centroids are
    * nearest, scoring candidates exactly. The quantizer is the
    * DETERMINISTIC seed-point rule: the first `numCells` corpus vectors
    * (vec_id < numCells) ARE the centroids — data-adaptive (real points
    * partition the occupied region of space, unlike random literals) and
    * bit-replayable by any SQL engine straight from the parquet, which
    * closes the oracle a driver-trained k-means could never satisfy
    * (float sums over an unordered sample aren't engine-portable). A
    * production deployment would train the centroid matrix offline and
    * feed it through the same kernels — the index interface (centroids →
    * nearest-cell assignment → cell-bucket join) is unchanged; cells only
    * bucket the search space, so quantizer quality moves recall, never
    * correctness. Assignment is the single full pass, as a compiled
    * nearest-centroid kernel inside the scan. Search is a cell-bucket
    * join — the standard IVF trade: recall bounded by nprobe, cost
    * O(q · nprobe · cell size) instead of O(q · n).
    */
  def annIvf(s: SparkSession, dir: String, numQueries: Int = 10, k: Int = 5,
             numCells: Int = 16, nprobe: Int = 3): DataFrame = {
    val e = corpusVectors(s, dir) // family-persisted (index sample + query
    // collect + the scored pass all read it)
    // index metadata: numCells × dim floats, collected once on the driver
    val centroids: Array[Array[Float]] = e.filter(col("vec_id") < numCells)
      .orderBy("vec_id").select("v")
      .collect().map(_.getAs[scala.collection.Seq[Float]](0).toArray)
    val assigned = e.withColumn("cell",
      nearestCellKernel(centroids.map(_.map(_.toDouble)))(col("v")))
    // per query: nprobe nearest cells by centroid distance (driver-side —
    // centroids are the tiny index metadata, numCells × dim)
    val q = assigned.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"))
    val probes = q.collect().flatMap { r =>
      val qv = r.getAs[scala.collection.Seq[Float]]("qv").toArray
      centroids.zipWithIndex.map { case (c, ci) =>
        // widen each term to Double BEFORE subtracting, exactly like
        // nearestCellKernel and the SQL oracle — float-rounded terms here
        // could flip probe-cell ranking when two centroid distances are
        // within float epsilon, silently changing which cells get scored
        var d = 0.0; var i = 0
        while (i < qv.length) { val t = qv(i).toDouble - c(i).toDouble; d += t * t; i += 1 }
        (r.getLong(0), ci, d)
      }.sortBy(_._3).take(nprobe).map(t => (t._1, t._2))
    }
    import s.implicits._
    val probeDf = probes.toSeq.toDF("query_id", "cell")
    val scored = assigned.join(broadcast(probeDf.join(q, "query_id")), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(dot(col("v"), col("qv")) / (col("nrm") * col("qn")), 6).as("cosine"))
    CacheLifecycle.materialize(topKPerQuery(scored, k))
  }

  /** IVF-PQ ANN (Jégou et al., "Product quantization for nearest neighbor
    * search", TPAMI 2011) — the index shape that makes 100 TB embedding
    * search tractable: the coarse IVF cells bound WHICH vectors a query
    * scores (nprobe cells instead of the corpus), and product-quantized
    * codes bound WHAT is scored (numSub bytes per vector instead of
    * dim floats, ~32× smaller here). Search is asymmetric distance
    * computation (ADC): the query stays exact, every candidate's distance
    * is approximated from its codes against per-subspace codebooks, and
    * only the `rerank` best ADC candidates pay an exact cosine — the
    * standard IVFPQ-with-refinement layout (IVFADC+R).
    *
    * Both quantizers use the deterministic seed-point rule that already
    * closes annIvf's oracle: the first `numCells` corpus vectors are the
    * coarse centroids, and the first `ksub` corpus vectors' m-th
    * subvectors form subspace m's codebook — bit-replayable by any SQL
    * engine straight from the parquet. A production deployment trains
    * both offline (k-means / residual codebooks) and feeds them through
    * the same kernels; quantizer quality moves recall, never the
    * pipeline. All distance sums are fixed left-to-right double chains
    * (subspace terms inner, subspaces outer), matching the oracle's
    * list_sum(list(term ORDER BY m)) replay exactly.
    *
    * Scale notes: codes are computed in the same single full pass as the
    * cell assignment (one compiled kernel each, no shuffle); the scored
    * set is nprobe cells × queries; ADC needs only (codes, query) — at
    * production scale the float vectors of non-candidates are never
    * read past indexing, which is the whole point of PQ.
    */
  def annIvfPq(s: SparkSession, dir: String, numQueries: Int = 10, k: Int = 5,
               numCells: Int = 16, nprobe: Int = 3,
               numSub: Int = 8, ksub: Int = 16, rerank: Int = 32): DataFrame =
    CacheLifecycle.materialize(annIvfPqPlan(s, dir, numQueries, k, numCells,
      nprobe, numSub, ksub, rerank))

  /** Lazy-plan variant of [[annIvfPq]] (PlanSpec pins the join shape on
    * the un-materialized frame; the public operator checkpoints).
    */
  private[operators] def annIvfPqPlan(
      s: SparkSession, dir: String, numQueries: Int = 10, k: Int = 5,
      numCells: Int = 16, nprobe: Int = 3,
      numSub: Int = 8, ksub: Int = 16, rerank: Int = 32): DataFrame = {
    require(Dim % numSub == 0, "subspaces must tile the dimension")
    val dsub = Dim / numSub
    val e = corpusVectors(s, dir)
    // index metadata: one driver collect covers coarse centroids AND PQ
    // seed codewords (max(numCells, ksub) × dim floats)
    val seeds: Array[Array[Float]] = e
      .filter(col("vec_id") < math.max(numCells, ksub))
      .orderBy("vec_id").select("v")
      .collect().map(_.getAs[scala.collection.Seq[Float]](0).toArray)
    // an empty corpus has no seed vectors — no index, no queries, empty
    // result (schema intact); a sub-ksub corpus just gets a smaller
    // codebook (recall degrades gracefully, correctness is the rerank's)
    if (seeds.isEmpty)
      return s.range(0).select(col("id").as("query_id"),
        col("id").as("neighbor_id"), lit(0.0).as("cosine"),
        lit(0).cast("int").as("rank"))
    val centroids = seeds.take(numCells).map(_.map(_.toDouble))
    // codebooks(m)(c) = seed c's m-th subvector, widened once
    val ksubEff = math.min(ksub, seeds.length)
    val codebooks: Array[Array[Array[Double]]] = Array.tabulate(numSub) { m =>
      Array.tabulate(ksubEff) { c =>
        seeds(c).slice(m * dsub, (m + 1) * dsub).map(_.toDouble)
      }
    }
    val assigned = e
      .withColumn("cell", nearestCellKernel(centroids)(col("v")))
      .withColumn("codes", pqEncodeKernel(codebooks, dsub)(col("v")))
    // query-side probes: identical to annIvf (tiny driver-side ranking
    // against the index metadata, terms widened before subtracting)
    val q = assigned.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"))
    val probes = q.collect().flatMap { r =>
      val qv = r.getAs[scala.collection.Seq[Float]]("qv").toArray
      centroids.zipWithIndex.map { case (c, ci) =>
        var d = 0.0; var i = 0
        while (i < qv.length) { val t = qv(i).toDouble - c(i); d += t * t; i += 1 }
        (r.getLong(0), ci, d)
      }.sortBy(_._3).take(nprobe).map(t => (t._1, t._2))
    }
    import s.implicits._
    val probeDf = probes.toSeq.toDF("query_id", "cell")
    val adcScored = assigned.join(broadcast(probeDf.join(q, "query_id")), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("adc", pqAdcKernel(codebooks, dsub)(col("codes"), col("qv")))
    // candidate cut by ADC (deterministic tie-break on id), then the
    // refinement pass: exact cosine on the survivors only
    val cand = adcScored
      .withColumn("rn", row_number().over(
        Window.partitionBy("query_id").orderBy(col("adc"), col("vec_id"))))
      .filter(col("rn") <= rerank)
      .select(col("query_id"),
        col("vec_id").as("neighbor_id"),
        round(dot(col("v"), col("qv")) / (col("nrm") * col("qn")), 6).as("cosine"))
    topKPerQuery(cand, k)
  }

  /** Hybrid retrieval via reciprocal-rank fusion (Cormack/Clarke/Büttcher
    * SIGIR'09): fuse the BM25 text arm and the vector-cosine arm with
    * rrf(d) = Σ_arms 1/(60 + rank_arm(d)) over each arm's top-kArm list —
    * the standard score-free fusion that needs no cross-arm calibration.
    * The benchmark query pair is fixed: the BM25 literal terms and corpus
    * vector 0 (documents and embeddings share the id space as a prefix
    * subset; docs without a vector simply lack the vector arm, which RRF
    * handles by construction). 1/(60+rank) is integer-derived division —
    * IEEE-exact, engine-portable — and the two arm terms add in fixed
    * text-then-vector order.
    *
    * Distributed shape: each arm is its own already-bounded top-k
    * (TakeOrdered / bounded aggregate); the fusion joins two ≤kArm-row
    * frames — driver-scale work after corpus-scale arms, which is the
    * whole point of fusing RANKS instead of raw scores.
    */
  def hybridRrf(s: SparkSession, dir: String, k: Int = 10,
                kArm: Int = 20, rrfK: Double = 60.0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val t = TextOps.bm25TopK(s, dir, kArm) // family-shared feats pass
      .select(col("doc_id"), col("rank").as("text_rank"))
    val v = bruteForceTopKPlan(s, dir, numQueries = 1, k = kArm)
      .select(col("neighbor_id").as("doc_id"), col("rank").as("vec_rank"))
    val fused = t.join(v, Seq("doc_id"), "full_outer")
      .withColumn("rrf",
        coalesce(lit(1.0) / (lit(rrfK) + col("text_rank")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(rrfK) + col("vec_rank")), lit(0.0)))
    fused
      .orderBy(col("rrf").desc, col("doc_id"))
      .limit(k)
      .select(col("doc_id"), col("text_rank"), col("vec_rank"),
        round(col("rrf"), 6).as("rrf"),
        row_number().over(Window.orderBy(col("rrf").desc, col("doc_id")))
          .cast("int").as("rank"))
  }

  /** Cell-stratified diversity sampling (coreset selection): quantize the
    * corpus with the √n-cell seed-point rule (semanticDedup's index) and
    * keep each cell's MEDOID-TOWARD-CENTROID representative — the vector
    * with the minimum squared distance to its centroid, lowest vec_id on
    * ties. The training-data use: a diversity-preserving subsample (one
    * exemplar per region of embedding space) for seed sets, eval panels,
    * or curriculum heads, the cheap cousin of k-center that never
    * iterates.
    *
    * Distributed shape: one full pass (assignment + distance in a single
    * compiled kernel), one cell-keyed aggregation whose min(struct(dist,
    * vec_id)) IS the deterministic representative rule — no window, no
    * sort, map-side partial aggregation does most of the work. Output is
    * one row per cell: ~√n rows, trivially collectable at any scale.
    */
  def sampleDiverse(s: SparkSession, dir: String,
                    numCellsOverride: Option[Int] = None): DataFrame = {
    val e = corpusVectors(s, dir)
    val numCells = numCellsOverride.getOrElse(
      math.ceil(math.sqrt(e.count().toDouble)).toInt)
    val centroids: Array[Array[Double]] = e.filter(col("vec_id") < numCells)
      .orderBy("vec_id").select("v")
      .collect().map(_.getAs[scala.collection.Seq[Float]](0).toArray.map(_.toDouble))
    val assigned = e.withColumn("cd",
      nearestCellDistKernel(centroids)(col("v")))
    assigned.groupBy(col("cd._1").cast("long").as("cell"))
      .agg(count(lit(1)).as("cell_size"),
        min(struct(col("cd._2").as("dist"), col("vec_id"))).as("m"))
      .select(col("cell"), col("m.vec_id").as("rep_id"), col("cell_size"),
        round(col("m.dist"), 6).as("dist"))
  }

  /** Assignment + distance in one kernel: the nearest cell AND the
    * (recomputed, identical left-to-right chain) distance to it — so the
    * representative ordering uses exactly the doubles the oracle replays.
    */
  private[operators] def nearestCellDistKernel(cents: Array[Array[Double]])
  : org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (v: Array[Float]) =>
      val c = nearestCell(cents, v)
      val ct = cents(c)
      var d = 0.0
      var i = 0
      val n = math.min(v.length, ct.length)
      while (i < n) { val t = v(i) - ct(i); d += t * t; i += 1 }
      (c, d)
    }

  /** PQ encoder kernel: per subspace, the index of the nearest codeword
    * (strict < keeps the lowest id on ties — the oracle's ORDER BY dist,
    * code). One compiled loop per row, inside the indexing scan.
    */
  private[operators] def pqEncodeKernel(cb: Array[Array[Array[Double]]], dsub: Int)
  : org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (v: Array[Float]) =>
      Array.tabulate(cb.length) { m =>
        val books = cb(m)
        var best = 0; var bd = Double.MaxValue; var c = 0
        while (c < books.length) {
          val cw = books(c)
          var d = 0.0; var i = 0
          while (i < dsub) { val t = v(m * dsub + i).toDouble - cw(i); d += t * t; i += 1 }
          if (d < bd) { bd = d; best = c }
          c += 1
        }
        best
      }
    }

  /** ADC kernel: query-to-codeword squared distance summed across
    * subspaces — inner sums left-to-right over the subspace dims, outer
    * left-to-right over m, matching the oracle's ordered list_sum replay.
    */
  private[operators] def pqAdcKernel(cb: Array[Array[Array[Double]]], dsub: Int)
  : org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (codes: Seq[Int], qv: Array[Float]) =>
      var adc = 0.0; var m = 0
      while (m < cb.length) {
        val cw = cb(m)(codes(m))
        var d = 0.0; var i = 0
        while (i < dsub) { val t = qv(m * dsub + i).toDouble - cw(i); d += t * t; i += 1 }
        adc += d; m += 1
      }
      adc
    }

  private[operators] def nearestCell(cents: Array[Array[Double]],
                                     p: Array[Float]): Int = {
    var best = 0
    var bd = Double.MaxValue
    var c = 0
    while (c < cents.length) {
      val ct = cents(c)
      var d = 0.0
      var i = 0
      val n = math.min(p.length, ct.length)
      while (i < n) { val t = p(i) - ct(i); d += t * t; i += 1 }
      if (d < bd) { bd = d; best = c }
      c += 1
    }
    best
  }

  /** Nearest-centroid assignment kernel (the IVF full-pass): centroid
    * matrix captured in the closure, one compiled loop per row.
    */
  private[operators] def nearestCellKernel(cents: Array[Array[Double]])
  : org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (v: Array[Float]) => nearestCell(cents, v) }

  /** Int8 embedding quantization — the storage/bandwidth op of a vector
    * pipeline (4× smaller than float32): per-vector symmetric scale
    * q_i = floor(e_i · 127/max|e| + 0.5) ∈ [−127, 127]. floor(x+0.5)
    * instead of round() because banker's-vs-away rounding differs across
    * engines while floor is universal. Emitted exploded (vec_id, dim_idx,
    * q) with the per-vector scale — a narrow projection, no shuffle.
    */
  def quantizeInt8(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir).select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("ed"))
      .withColumn("maxabs", array_max(transform(col("ed"), x => abs(x))))
      // zero vectors quantize to all-zero (scale 0 guarded to 1)
      .withColumn("scale", lit(127.0) / when(col("maxabs") === 0.0, 1.0)
        .otherwise(col("maxabs")))
    e.select(col("vec_id"), round(col("scale"), 6).as("scale"),
      posexplode(col("ed")).as(Seq("dim_idx", "x")))
      .withColumn("q",
        floor(col("x") * col("scale") + 0.5).cast("int"))
      .select("vec_id", "dim_idx", "scale", "q")
  }

  /** Label encoding (reference M2, plasticc target encoding): build the
    * label dictionary (distinct labels ranked in label order — a tiny
    * single-partition window, labels are low-cardinality by definition)
    * and broadcast-join it back; the fact side never shuffles.
    */
  def labelEncode(s: SparkSession, dir: String): DataFrame = {
    val dict = Tables.embeddings(s, dir).select(col("label")).distinct()
      .withColumn("label_id",
        (row_number().over(Window.orderBy(col("label"))) - 1).cast("int"))
    Tables.embeddings(s, dir).select(col("vec_id"), col("label"))
      .join(broadcast(dict), Seq("label"))
      .select("vec_id", "label", "label_id")
  }

  /** L2 normalization — the vector-pipeline staple upstream of dot-product
    * ANN (cosine reduces to dot on unit vectors): per-vector norm via the
    * codegen'd `graft_dot`, components divided out in an exploded narrow
    * projection (no shuffle). Zero vectors normalize to zero (ANSI mode
    * would otherwise throw on the division).
    */
  /** Random-projection dimensionality reduction (Johnson–Lindenstrauss):
    * y = R·x / √outDim with R the deterministic splitmix-seeded matrix of
    * the LSH hyperplane family (VectorFunctions.hyperplanesFlat) — no
    * training pass, no model state, and the matrix embeds as SQL literals
    * so any engine replays the projection bit-for-bit (fixed left-to-right
    * summation, like the ann_lsh oracle). The plan is a narrow codegen
    * projection on the scan — zero shuffles at any scale; the standard
    * cheap pre-step before clustering/ANN when 64 dims are still too wide.
    */
  def dimReduce(s: SparkSession, dir: String, outDim: Int = 8): DataFrame = {
    val flat = hyperplanesFlat(outDim, Dim)
    val scale = math.sqrt(outDim.toDouble)
    // one compiled mat-vec kernel call per row (projectKernel) instead of
    // an outDim×Dim literal expression tree: same doubles, same
    // left-to-right summation, but no 512-node codegen compile on first use
    val proj = projectKernel(flat, Dim, scale)(col("embedding"))
    val cols = (0 until outDim).map { j =>
      round(element_at(col("proj"), j + 1), 6).as(s"y$j")
    }
    Tables.embeddings(s, dir)
      .select(col("vec_id"), proj.as("proj"))
      .select(col("vec_id") +: cols: _*)
  }

  def normalize(s: SparkSession, dir: String): DataFrame = {
    Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding").as("v"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
      .select(col("vec_id"), col("nrm"),
        posexplode(col("v")).as(Seq("dim_idx", "x")))
      .select(col("vec_id"), round(col("nrm"), 6).as("norm"), col("dim_idx"),
        round(when(col("nrm") === 0.0, 0.0)
          .otherwise(col("x").cast("double") / col("nrm")), 6).as("xn"))
  }

  /** Deterministic stratified train/test split (reference M1 — plasticc's
    * per-class split with a fixed seed,
    * /root/reference/timedf_benchmarks/plasticc/plasticc_pandas_modin.py:
    * the stratified_split with seed 126): here the assignment is a pure
    * function of the row key — engine-portable md5-prefix hash mod 100
    * compared to the train percentage — so the split reproduces across
    * engines, runs, and partitionings with NO RNG state and no shuffle
    * (the seeded-sample variant used by the benchmark port lives in
    * PlasticcBenchmark). Stratification is per-label by construction:
    * a uniform hash splits every label at the same rate.
    */
  def stratifiedSplit(s: SparkSession, dir: String, trainPct: Int = 80): DataFrame =
    Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label"))
      .withColumn("bucket",
        pmod(graft.functions.TextFunctions.portableTokenHash(
          col("vec_id").cast("string")), lit(100)).cast("int"))
      .withColumn("split",
        when(col("bucket") < trainPct, lit("train")).otherwise(lit("test")))
      .select("vec_id", "label", "bucket", "split")

  /** Multi-vector MaxSim retrieval (the late-interaction scoring of
    * ColBERT, Khattab & Zaharia SIGIR'20): documents and queries are SETS
    * of vectors (here: consecutive runs of `vecsPerDoc` fixture vectors
    * form one passage), and score(Q, D) = Σ_{q∈Q} max_{d∈D} cosine(q, d)
    * — each query vector independently finds its best-matching document
    * vector, so fine-grained term-level matches survive pooling.
    *
    * Plan: query vectors (a handful) broadcast against the corpus scan —
    * the same single-pass shape as [[bruteForceTopK]], ×|Q| rows into a
    * two-phase hash aggregate keyed (query_id, doc_id). The per-query-
    * vector maxes land in FIXED columns (conditional max per position),
    * and the final score is a static left-to-right sum of those columns —
    * order-independent maxes plus a fixed-parenthesization sum, so any
    * engine replays the exact doubles. Top-k via the bounded `graft_topk`
    * aggregate (no global sort). At scale the corpus side stays
    * partition-local until the (query_id, doc_id)-keyed aggregate, whose
    * cardinality is |Q|×|docs| — bound k' per doc with an IVF/LSH probe
    * upstream exactly as the single-vector family does.
    */
  def maxSim(s: SparkSession, dir: String, numQueryDocs: Int = 2,
             vecsPerDoc: Int = 4, k: Int = 5): DataFrame = {
    val qVecs = numQueryDocs * vecsPerDoc
    val e = corpusVectors(s, dir)
    val q = e.filter(col("vec_id") < qVecs)
      .select(expr(s"vec_id div $vecsPerDoc").as("query_id"),
        (col("vec_id") % vecsPerDoc).cast("int").as("qpos"),
        col("v").as("qv"), col("nrm").as("qn"))
    val scored = e.filter(col("vec_id") >= qVecs)
      .withColumn("doc_id", expr(s"vec_id div $vecsPerDoc"))
      .crossJoin(broadcast(q))
      .select(col("query_id"), col("qpos"), col("doc_id"),
        round(dot(col("v"), col("qv")) /
          (col("nrm") * col("qn")), 6).as("cos"))
    val maxes = scored.groupBy("query_id", "doc_id")
      .agg(max(when(col("qpos") === 0, col("cos"))).as("c0"),
        (1 until vecsPerDoc).map(i =>
          max(when(col("qpos") === i, col("cos"))).as(s"c$i")): _*)
    val summed = maxes.select(col("query_id"), col("doc_id").as("neighbor_id"),
      round((0 until vecsPerDoc).map(i => col(s"c$i")).reduce(_ + _), 6).as("cosine"))
    CacheLifecycle.materialize(
      topKPerQuery(summed, k).withColumnRenamed("cosine", "maxsim"))
  }

  /** Centroid summary per label — the "coarse quantizer" statistics an IVF
    * index maintains (per-cell counts + mean vector), computed distributed:
    * explode to (label, dim_idx, component), aggregate, reassemble.
    */
  def labelCentroids(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
      .select(col("label"),
        posexplode(col("embedding")).as(Seq("dim_idx", "xf")))
      // cast AFTER the generator: element-wise transform() is a
      // CodegenFallback higher-order function (interpreted per element,
      // one array allocation per row), while posexplode of the raw
      // float array + a scalar cast is whole-stage-codegen end to end —
      // identical values (elementwise float->double cast), r11
      .withColumn("x", col("xf").cast("double")).drop("xf")
    e.groupBy("label", "dim_idx")
      .agg(avg("x").as("mean_x"), count(lit(1)).as("n"))
      .groupBy("label")
      .agg(
        max("n").as("n_vectors"),
        round(sqrt(sum(col("mean_x") * col("mean_x"))), 6).as("centroid_norm"))
  }

  /** Per-cluster topic terms — the corpus-cartography op of a curation
    * pipeline ("what is IN each embedding cluster?", the summary step of
    * SemDeDup/cluster-balance workflows): every vector is assigned to a
    * cell of the deterministic seed-point quantizer [[annIvf]] already
    * uses, cells join their documents (the fixture pairs vec_id = doc_id),
    * and the most frequent terms per cell label the cluster.
    *
    * Distributed shape: one full-pass compiled assignment kernel inside
    * the scan (no shuffle), one id-equi-join docs↔cells (co-partitioned
    * at scale — both sides key on the document id), explode to terms,
    * two-phase hash aggregate on (cell, term), and a per-cell top-k
    * window whose key cardinality is numCells — a handful of groups, so
    * the window never concentrates the corpus (the per-cell term
    * dictionaries it ranks are already aggregate-compacted).
    */
  def clusterTopics(s: SparkSession, dir: String, numCells: Int = 16,
                    topTerms: Int = 5): DataFrame = {
    val e = corpusVectors(s, dir)
    val centroids: Array[Array[Double]] = e.filter(col("vec_id") < numCells)
      .orderBy("vec_id").select("v")
      .collect().map(_.getAs[scala.collection.Seq[Float]](0).toArray.map(_.toDouble))
    val assigned = e
      .withColumn("cell", nearestCellKernel(centroids)(col("v")).cast("long"))
      .select(col("vec_id").as("doc_id"), col("cell"))
    val counts = Tables.documents(s, dir)
      .join(assigned, Seq("doc_id"))
      .select(col("cell"),
        explode(split(trim(lower(col("text"))), "\\s+")).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy("cell", "term").agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("cell").orderBy(col("cnt").desc, col("term"))
    counts.withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= topTerms)
  }

  /** Per-label distance outliers — the mislabel/contamination detector of
    * an embedding pipeline: the farthest members of each label's cluster
    * are exactly the candidates a curation pass re-inspects (wrong label,
    * noise vector, adversarial insert). Distance is squared L2 to the
    * label's mean vector.
    *
    * Distributed shape: label means via one two-phase hash aggregate over
    * the exploded components (labels × dims rows — tiny), broadcast back
    * onto the exploded scan (the fact side never shuffles for the join),
    * per-vector distance via a second (vec_id, label)-keyed aggregate,
    * then a per-label top-k window ranking on the ROUNDED distance with a
    * vec_id tie-break so both engines pick identical rows. Window key
    * cardinality = labels; each group holds aggregate-compacted rows only.
    */
  def labelOutliers(s: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val ex = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label"),
        posexplode(col("embedding")).as(Seq("dim_idx", "xf")))
      // cast AFTER the generator: element-wise transform() is a
      // CodegenFallback higher-order function (interpreted per element,
      // one array allocation per row), while posexplode of the raw
      // float array + a scalar cast is whole-stage-codegen end to end —
      // identical values (elementwise float->double cast), r11
      .withColumn("x", col("xf").cast("double")).drop("xf")
    val means = ex.groupBy("label", "dim_idx").agg(avg("x").as("mean_x"))
    val dist = ex.join(broadcast(means), Seq("label", "dim_idx"))
      .groupBy("vec_id", "label")
      .agg(round(sum((col("x") - col("mean_x")) * (col("x") - col("mean_x"))), 6)
        .as("dist"))
    val w = Window.partitionBy("label").orderBy(col("dist").desc, col("vec_id"))
    dist.withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= k)
  }

  /** Pairwise sample covariance of the leading embedding components —
    * the fit step of PCA / whitening (the data-dependent complement of
    * [[dimReduce]]'s fixed JL projection; the eigendecomposition of this
    * matrix IS the PCA basis and runs driver-side on the dims² result,
    * the same boundary as annIvf's centroid fit).
    *
    * Distributed shape: ONE narrow aggregate computes all upper-triangle
    * `covar_samp` cells over a single corpus pass — no shuffle beyond
    * the scalar-aggregate gather, state is dims² co-moments — then a
    * `stack` unpivot reshapes the one wide row to (i, j, cov) rows.
    * At 100 TB the pass is embarrassingly map-side (co-moments merge
    * associatively); dims² state, not corpus state.
    */
  def covarianceMatrix(s: SparkSession, dir: String, nDims: Int = 8): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val proj = e.select((0 until nDims).map(i =>
      element_at(col("embedding"), i + 1).cast("double").as(s"x$i")): _*)
    val aggs = for { i <- 0 until nDims; j <- i until nDims } yield
      round(covar_samp(col(s"x$i"), col(s"x$j")), 6).as(s"c_${i}_$j")
    val wide = proj.agg(aggs.head, aggs.tail: _*)
    val cells = for { i <- 0 until nDims; j <- i until nDims }
      yield s"$i, $j, c_${i}_$j"
    wide.select(expr(
      s"stack(${cells.length}, ${cells.mkString(", ")}) AS (i, j, cov)"))
  }

  /** Embedding centroid drift — the vector-space sibling of
    * `doc_drift_psi`: per-label centroid shift (L2) between two corpus
    * snapshots (even vs odd vec_ids standing in for yesterday/today),
    * the gate that catches a broken embedding-model rollout before it
    * poisons an index. One (label, dim, side) mean aggregate over the
    * exploded components (labels × dims × 2 rows — tiny, map-side
    * mergeable), conditional pivot, one L2 fold per label.
    */
  def embDriftCentroid(s: SparkSession, dir: String): DataFrame = {
    val ex = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label"),
        posexplode(col("embedding")).as(Seq("dim_idx", "xf")))
      // cast AFTER the generator: element-wise transform() is a
      // CodegenFallback higher-order function (interpreted per element,
      // one array allocation per row), while posexplode of the raw
      // float array + a scalar cast is whole-stage-codegen end to end —
      // identical values (elementwise float->double cast), r11
      .withColumn("x", col("xf").cast("double")).drop("xf")
      .withColumn("is_ref", (col("vec_id") % 2 === 0).cast("int"))
    val m = ex.groupBy("label", "dim_idx", "is_ref").agg(avg("x").as("m"))
    val wide = m.groupBy("label", "dim_idx").agg(
      max(when(col("is_ref") === 1, col("m"))).as("m_ref"),
      max(when(col("is_ref") === 0, col("m"))).as("m_cur"))
    val counts = Tables.embeddings(s, dir).groupBy("label").agg(
      count(when(col("vec_id") % 2 === 0, 1)).as("n_ref"),
      count(when(col("vec_id") % 2 =!= 0, 1)).as("n_cur"))
    wide.groupBy("label")
      .agg(round(sqrt(sum((col("m_ref") - col("m_cur")) *
        (col("m_ref") - col("m_cur")))), 6).as("centroid_shift"))
      .join(broadcast(counts), Seq("label"))
  }

  /** Filtered vector search — ANN under a metadata predicate (the
    * "filtered search" problem every vector store faces): return top-k
    * neighbors among corpus vectors whose label matches. Strategy here
    * is PRE-FILTER + exact scan: the label predicate pushes down to the
    * parquet scan (selective predicates shrink the candidate set before
    * any distance math), then the familiar broadcast-query single pass +
    * bounded `graft_topk`. The documented scale trade: selective
    * predicates → pre-filter (this plan); unselective → probe the
    * LSH/IVF index and post-filter, accepting recall loss on filtered-
    * out bucket mass. Oracle replays the filtered brute force exactly.
    */
  def annFiltered(s: SparkSession, dir: String, numQueries: Int = 10,
                  k: Int = 5, label: Int = 3): DataFrame = {
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding").as("v"), col("label"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
    val q = e.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qn"))
    val scored = e.filter(col("label") === label)
      .join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(dot(col("v"), col("qv")) /
          (col("nrm") * col("qn")), 6).as("cosine"))
    topKPerQuery(scored, k)
  }

  /** Index-persistence serve path — the deployment split every ANN
    * system has (build the index ONCE, serve queries from the stored
    * artifact): the LSH sign-bucket index (vectors + norms + bucket ids)
    * commits to a manifest table ([[graft.operators.Lake]]), a fresh
    * read of that version serves the same broadcast bucket-probe join as
    * [[annLsh]]. Floats, norms, and buckets round-trip parquet exactly,
    * so results are bit-equal to the in-memory pipeline and the SAME SQL
    * oracle gates both. At scale the index table is bucket-partitioned
    * so a probe reads only its bucket's files — the manifest gives the
    * pruning for free.
    */
  def annIndexPersist(s: SparkSession, dir: String, numQueries: Int = 10,
                      k: Int = 5, numPlanes: Int = 4,
                      dim: Int = Dim): DataFrame = {
    val indexed = corpusVectors(s, dir)
      .withColumn("bucket", lshBucket(numPlanes, dim)(col("v")))
    val table = java.nio.file.Files.createTempDirectory("graft_ann_index_")
    try {
      graft.operators.Lake.commit(indexed, table, 1,
        fileTarget = graft.operators.Lake.FixtureWriteFiles)
      val idx = graft.operators.Lake.readVersion(s, table, 1)
      val q = idx.filter(col("vec_id") < numQueries)
        .select(col("vec_id").as("query_id"), col("v").as("qv"),
          col("nrm").as("qn"), col("bucket"))
      val scored = idx.join(broadcast(q), Seq("bucket"))
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          round(dot(col("v"), col("qv")) /
            (col("nrm") * col("qn")), 6).as("cosine"))
      val res = topKPerQuery(scored, k)
      val out = res.collect()
      s.createDataFrame(java.util.Arrays.asList(out: _*), res.schema)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(table.toFile)
    }
  }

  /** PCA projection — the transform completing [[covarianceMatrix]]'s
    * fit: eigendecomposition of the dims² covariance runs driver-side
    * (cyclic Jacobi, deterministic sweep order and sign convention — the
    * same index-metadata boundary as annIvf's centroid fit), then the
    * projection onto the top-k components is one zero-shuffle codegen
    * map with the basis as plan literals. Engine-internal by nature (no
    * SQL oracle replays an eigensolver), so the entry is rows-only;
    * FeaturesSpec pins the linear-algebra invariants instead: projected
    * covariance ≈ diag(top eigenvalues), components orthonormal,
    * variance ordering.
    */
  def pcaProject(s: SparkSession, dir: String, nDims: Int = 8,
                 k: Int = 2): DataFrame = {
    val cells = covarianceMatrix(s, dir, nDims).collect()
    // covar_samp is null below 2 vectors — the PCA fit doesn't exist, so
    // the projection is the empty frame (schema intact), not a crash
    if (cells.exists(_.isNullAt(2)))
      return s.range(0).select(col("id").as("vec_id") +:
        (1 to k).map(j => lit(0.0).as(s"pc$j")): _*)
    val m = Array.ofDim[Double](nDims, nDims)
    cells.foreach { r =>
      val (i, j, c) = (r.getInt(0), r.getInt(1), r.getDouble(2))
      m(i)(j) = c; m(j)(i) = c
    }
    val (eigVals, eigVecs) = jacobiEigen(m)
    val order = eigVals.indices.sortBy(i => (-eigVals(i), i)).take(k)
    val basis = order.map { idx =>
      val v = eigVecs.map(_(idx))
      // sign convention: the largest-magnitude component is positive
      val pivot = v.indices.maxBy(i => (math.abs(v(i)), -i))
      if (v(pivot) < 0) v.map(-_) else v
    }
    val e = Tables.embeddings(s, dir)
    val means = e.select((0 until nDims).map(i =>
      avg(element_at(col("embedding"), i + 1).cast("double")).as(s"m$i")): _*)
      .collect()(0)
    val mu = (0 until nDims).map(means.getDouble).toArray
    val pcs = basis.zipWithIndex.map { case (v, j) =>
      (0 until nDims).map(i =>
        (element_at(col("embedding"), i + 1).cast("double") - mu(i)) * v(i))
        .reduce(_ + _).as(s"pc${j + 1}")
    }
    e.select(col("vec_id") +: pcs.map(c => round(c, 6)): _*)
      .toDF(("vec_id" +: (1 to k).map(j => s"pc$j")): _*)
  }

  /** Cyclic Jacobi eigendecomposition of a small symmetric matrix —
    * deterministic sweep order (row-major upper triangle), fixed
    * iteration cap; returns (eigenvalues, column-eigenvector matrix).
    * Driver-side on dims×dims input only.
    */
  private[operators] def jacobiEigen(a0: Array[Array[Double]])
  : (Array[Double], Array[Array[Double]]) = {
    val n = a0.length
    val a = a0.map(_.clone())
    val v = Array.tabulate(n, n)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    while (sweep < 64 && {
      var off = 0.0
      var i = 0
      while (i < n) { var j = i + 1; while (j < n) { off += a(i)(j) * a(i)(j); j += 1 }; i += 1 }
      off > 1e-22
    }) {
      var p = 0
      while (p < n - 1) {
        var q = p + 1
        while (q < n) {
          if (math.abs(a(p)(q)) > 1e-18) {
            val theta = (a(q)(q) - a(p)(p)) / (2.0 * a(p)(q))
            // theta = 0 still rotates (signum would zero the angle out)
            val t = (if (theta >= 0) 1.0 else -1.0) /
              (math.abs(theta) + math.sqrt(theta * theta + 1.0))
            val c = 1.0 / math.sqrt(t * t + 1.0)
            val sn = t * c
            var i = 0
            while (i < n) {
              val aip = a(i)(p); val aiq = a(i)(q)
              a(i)(p) = c * aip - sn * aiq
              a(i)(q) = sn * aip + c * aiq
              i += 1
            }
            i = 0
            while (i < n) {
              val api = a(p)(i); val aqi = a(q)(i)
              a(p)(i) = c * api - sn * aqi
              a(q)(i) = sn * api + c * aqi
              val vip = v(i)(p); val viq = v(i)(q)
              v(i)(p) = c * vip - sn * viq
              v(i)(q) = sn * vip + c * viq
              i += 1
            }
          }
          q += 1
        }
        p += 1
      }
      sweep += 1
    }
    ((0 until n).map(i => a(i)(i)).toArray, v)
  }

  /** Retrieval-arm evaluation — recall@k, MRR, nDCG@k of the LSH arm
    * against the exact brute-force truth: the measurement loop every ANN
    * deployment runs before trading recall for probe cost (the numbers
    * that justify `adaptivePlaneCount`). Both arms are the existing
    * bounded single-scan pipelines (family-cached corpus, `graft_topk`);
    * the metrics add one (query, neighbor) equi-join of two k-row-per-
    * query sides and a query-keyed aggregate — index-metadata-sized
    * however large the corpus. DCG discounts and IDCG prefix sums ride
    * as literals computed ONCE in Scala and interpolated into the SQL
    * oracle, so both engines compare identical doubles (never their own
    * log2).
    */
  def evalMetrics(s: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val truth = bruteForceTopK(s, dir, k = k)
      .select(col("query_id"), col("neighbor_id"), lit(1).as("hit"))
    val arm = annLsh(s, dir, k = k).select("query_id", "neighbor_id", "rank")
    val disc = (1 to k).map(r => 1.0 / (math.log(r + 1) / math.log(2)))
    val discCol = (2 to k).foldLeft(when(col("rank") === 1, lit(disc(0)))) {
      (acc, r) => acc.when(col("rank") === r, lit(disc(r - 1)))
    }
    val j = arm.join(truth, Seq("query_id", "neighbor_id"), "left")
    val tc = truth.groupBy("query_id").agg(count(lit(1)).as("n_truth"))
    val m = j.groupBy("query_id").agg(
      count(lit(1)).as("n_arm"),
      sum(coalesce(col("hit"), lit(0))).as("hits"),
      max(when(col("hit") === 1, lit(1.0) / col("rank")).otherwise(lit(0.0)))
        .as("mrr_raw"),
      sum(when(col("hit") === 1, discCol).otherwise(lit(0.0))).as("dcg"))
    val idcgCol = (2 to k).foldLeft(
      when(col("n_truth") === 1, lit(disc.take(1).sum))) {
      (acc, n) => acc.when(col("n_truth") === n, lit(disc.take(n).sum))
    }
    tc.join(m, Seq("query_id"), "left")
      .select(col("query_id"), col("n_truth"),
        coalesce(col("n_arm"), lit(0L)).as("n_arm"),
        round(coalesce(col("hits"), lit(0L)) / col("n_truth"), 6).as("recall"),
        round(coalesce(col("mrr_raw"), lit(0.0)), 6).as("mrr"),
        round(coalesce(col("dcg"), lit(0.0)) / idcgCol, 6).as("ndcg"))
  }

  /** MMR trade-off weights (Carbonell & Goldstein, SIGIR'98): score =
    * MmrLambda·relevance − MmrLambdaC·max-similarity-to-selected. Held as
    * named constants so the SQL oracle interpolates the IDENTICAL double
    * literals (1 − 0.7 in binary is 0.30000000000000004, not 0.3 — the
    * complement must be its own constant, never derived).
    */
  val MmrLambda = 0.7
  val MmrLambdaC = 0.3

  /** Maximal-marginal-relevance re-ranking — the diversity pass a
    * retrieval/curation pipeline runs over an ANN arm's candidates so the
    * final k results aren't k copies of the same neighborhood: greedily
    * pick argmax λ·rel(c) − (1−λ)·max_{s∈selected} sim(c, s).
    *
    * Distributed shape: the candidate arm is the single-scan broadcast
    * cosine pass of [[bruteForceTopK]] topped by the bounded `graft_topk`
    * aggregate (no global sort); pairwise candidate similarities are one
    * kArm²-row join over the kArm-filtered scan. Only the greedy selection
    * itself — inherently sequential, O(k·kArm) over index-metadata-sized
    * input — runs on the driver, the same boundary as [[annIvf]]'s probe
    * ranking. All scores are computed from the ROUNDED rel/sim doubles
    * with HALF_UP rounding, so the recursive-CTE SQL oracle replays the
    * selection bit-for-bit. At scale kArm stays O(100) per query whatever
    * the corpus size; the arm upstream swaps for the IVF/LSH probe.
    */
  def mmrRerank(s: SparkSession, dir: String, kArm: Int = 20,
                k: Int = 10): DataFrame = {
    val e = corpusVectors(s, dir)
    val q = e.filter(col("vec_id") === 0)
      .select(col("v").as("qv"), col("nrm").as("qn"))
    val scored = e.filter(col("vec_id") =!= 0).crossJoin(broadcast(q))
      .select(lit(0L).as("query_id"), col("vec_id").as("neighbor_id"),
        round(dot(col("v"), col("qv")) /
          (col("nrm") * col("qn")), 6).as("cosine"))
    val cand = topKPerQuery(scored, kArm)
      .select(col("neighbor_id").as("doc_id"), col("cosine").as("rel"))
    val candRows = cand.collect().map(r => (r.getLong(0), r.getDouble(1)))
    val ids = candRows.map(_._1)
    val cs = e.filter(col("vec_id").isin(ids: _*))
    val sims = cs.select(col("vec_id").as("ida"), col("v").as("va"), col("nrm").as("na"))
      .join(cs.select(col("vec_id").as("idb"), col("v").as("vb"), col("nrm").as("nb")),
        col("ida") =!= col("idb"))
      .select(col("ida"), col("idb"),
        round(dot(col("va"), col("vb")) /
          (col("na") * col("nb")), 6).as("sim"))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    // greedy selection on the rounded doubles (HALF_UP = Spark/DuckDB round)
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val picked = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Double)]
    val remaining = scala.collection.mutable.LinkedHashMap(candRows: _*)
    var step = 1
    while (step <= k && remaining.nonEmpty) {
      val best = remaining.map { case (id, rel) =>
        val maxSim =
          if (picked.isEmpty) 0.0
          else picked.map(p => sims((id, p._2))).max
        (id, r6(MmrLambda * rel - MmrLambdaC * maxSim))
      }.minBy { case (id, mmr) => (-mmr, id) }
      picked += ((step, best._1, best._2))
      remaining.remove(best._1)
      step += 1
    }
    import s.implicits._
    picked.toSeq.toDF("rank", "doc_id", "mmr")
  }

  /** Matryoshka truncation-recall evaluation (Kusupati et al.,
    * "Matryoshka representation learning", NeurIPS 2022 — the question
    * every embedding-storage budget decision asks): for each truncated
    * prefix dimensionality, what fraction of the FULL-dimension exact
    * top-k survives ranking by the prefix alone. Per arm: slice the
    * cached corpus vectors (a codegen'd prefix, no re-embedding), rank
    * with the same rounded-cosine + id tie-break discipline as
    * [[bruteForceTopK]], LEFT SEMI join against the materialized truth
    * set, and reduce to ONE (dim, hits, recall) row — the output is
    * arm-count-sized however large the corpus. Including the full
    * dimension as the last arm makes the evaluation self-validating:
    * its recall is 1.0 by construction, and the oracle checks it.
    */
  def matryoshkaRecall(s: SparkSession, dir: String,
                       dims: Seq[Int] = Seq(8, 16, Dim),
                       numQueries: Int = 10, k: Int = 5): DataFrame = {
    val e = corpusVectors(s, dir)
    val truth = bruteForceTopK(s, dir, numQueries, k)
      .select(col("query_id"), col("neighbor_id"))
    val denom = (numQueries * k).toDouble
    dims.map { d =>
      val t = e.select(col("vec_id"), slice(col("v"), 1, d).as("vt"))
        .withColumn("nt", sqrt(dot(col("vt"), col("vt"))))
      val q = t.filter(col("vec_id") < numQueries)
        .select(col("vec_id").as("query_id"), col("vt").as("qv"),
          col("nt").as("qn"))
      val scored = t.join(broadcast(q), col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          round(dot(col("vt"), col("qv")) /
            (col("nt") * col("qn")), 6).as("cosine"))
      topKPerQuery(scored, k)
        .join(truth, Seq("query_id", "neighbor_id"), "left_semi")
        .agg(count(lit(1)).as("n_hits"))
        .select(lit(d).as("trunc_dim"), col("n_hits"),
          round(col("n_hits") / lit(denom), 6).as("recall"))
    }.reduce(_ unionAll _)
  }
}
