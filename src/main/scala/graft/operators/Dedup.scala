package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.expressions.MinHashAgg
import graft.expressions.DotProduct.dot
import graft.functions.TextFunctions._
import graft.functions.VectorFunctions._

/** Deduplication operators for training-data pipelines, over the `documents`
  * fixture. Scale notes per operator:
  *
  *  - Exact dedup is a hash shuffle on the dedup key (min-id survivor).
  *  - Exact n-gram Jaccard uses an *inverted-index join* on 64-bit shingle
  *    tokens with PPJoin prefix + position filtering — only documents
  *    sharing a rare prefix shingle ever meet. (At 100 TB you'd cap df per
  *    shingle — a shingle shared by millions of docs carries no signal.)
  *  - MinHash+LSH replaces the shingle join with a band-bucket join:
  *    candidates are pairs agreeing on ≥1 of b bands of r minhashes —
  *    expected cost is linear in data + output, then exact-Jaccard
  *    verification. Signatures come from the custom MinHash
  *    TypedImperativeAggregate (expressions.MinHashAgg): the whole
  *    NumPerm-permutation signature in one aggregate with map-side
  *    partial aggregation.
  *  - SimHash buckets on 16-bit chunks of a 64-bit signature (pigeonhole:
  *    hamming ≤ 3 pairs must agree on ≥1 of 4 chunks), with a hot-bucket
  *    cap; the signature is one per-document projection
  *    (TextFunctions.tokenSimhash), no aggregate.
  *  - Embedding near-dup is sketch-prefilter → grid equi-join → exact
  *    verify (see embeddingCosine — no nested-loop join in the plan).
  *  - clusters() turns pair matches into dedup groups: driver union-find
  *    under a size guard, distributed star contraction past it.
  */
object Dedup {

  val ShingleK = 3
  val JaccardThreshold = 0.5
  val NumPerm = 32
  val NumBands = 16 // r = 2 → P(candidate | j=0.5) = 1-(1-0.25)^16 ≈ 0.99

  /** Exact duplicate groups by text: deterministic survivor (min doc_id) +
    * group size. One shuffle on the text hash.
    */
  def exact(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .groupBy(col("text"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
      .select("keep_id", "n_copies")

  /** Per-document distinct shingles, exploded to (doc_id, token) pairs with
    * the shingle string hashed to a 64-bit token at the source: every
    * downstream shuffle/sort/join then moves 8-byte longs instead of ~25-byte
    * strings. Collision analysis: a collision merges two distinct shingles —
    * harmless for candidate generation (superset) and bounded by d²/2⁶⁵ for
    * the verify counts (≈ 3e-9 at 10⁷ distinct shingles; at larger corpora
    * widen to a 2×64-bit token).
    */
  private def shinglePairs(s: SparkSession, dir: String): DataFrame =
    sharedIntermediate(s, dir, "sh")(shinglePairsOf(Tables.documents(s, dir)))

  private[operators] def shinglePairsOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        explode(shingles(col("text"), ShingleK)).as("sh_str"))
      .select(col("doc_id"), xxhash64(col("sh_str")).as("sh"))

  /** Per-document sorted shingle-hash arrays (plus size) — the verify-side
    * representation: one corpus-sized aggregate producing one row per doc.
    * Array length is bounded by document length (the same bound the
    * shingling itself carries); enormous documents would be chunk-level
    * deduplicated upstream.
    */
  private def shingleArrays(sh: DataFrame): DataFrame =
    sh.groupBy("doc_id")
      .agg(sort_array(collect_list(col("sh"))).as("shs"),
        count(lit(1)).as("n"))

  /** Full-corpus verify arrays, shared across the family (doc-count-sized:
    * one row per document).
    */
  private def corpusArrays(s: SparkSession, dir: String): DataFrame = {
    val sh = shinglePairs(s, dir) // resolve before entering the cache map
    sharedIntermediate(s, dir, "arrays")(shingleArrays(sh))
  }

  /** Global shingle document frequencies, shared across the family: the
    * prefix-index build ranks by it and the containment plan probes it
    * for hot shingles — one aggregation job instead of one per consumer.
    * Distinct-shingle-sized (strictly smaller than the pair set).
    */
  private def corpusDocFreq(s: SparkSession, dir: String): DataFrame = {
    val sh = shinglePairs(s, dir) // resolve before entering the cache map
    sharedIntermediate(s, dir, "df")(
      sh.groupBy("sh").agg(count(lit(1)).as("df")))
  }

  /** Uncapped rarest-first prefix index, shared across the family — the
    * batch PPJoin pipeline and the incremental variant build the identical
    * index (same global df order, same τ), so it is computed once per
    * (session, corpus).
    */
  private def corpusPrefix(s: SparkSession, dir: String): DataFrame = {
    val sh = shinglePairs(s, dir) // resolve before entering the cache map
    val df = corpusDocFreq(s, dir)
    sharedIntermediate(s, dir, "prefix") {
      prefixIndex(sh, df).select("doc_id", "sh", "n", "pos")
    }
  }

  /** Exact-Jaccard verification of candidate pairs: join each pair to the
    * two per-doc sorted arrays and count the intersection with one
    * compiled merge scan per pair (VectorFunctions.sortedIntersectKernel).
    * The join sides are doc-count-sized (one row per document), not
    * inverted-index-sized — at fixture scale AQE broadcasts them; at
    * 100 TB they are standard shuffle equi-joins on doc_id. A zero-overlap
    * candidate cannot clear any positive threshold, so the jaccard filter
    * subsumes the old nonzero-intersection join semantics.
    */
  private def verifyJaccard(shArrays: DataFrame,
                            candidates: DataFrame): DataFrame =
    candidates
      .join(shArrays.select(col("doc_id").as("id_a"), col("shs").as("shs_a"),
        col("n").as("n_a")), "id_a")
      .join(shArrays.select(col("doc_id").as("id_b"), col("shs").as("shs_b"),
        col("n").as("n_b")), "id_b")
      .withColumn("c", sortedIntersectKernel(col("shs_a"), col("shs_b")))
      .withColumn("jaccard",
        round(col("c") / (col("n_a") + col("n_b") - col("c")), 6))
      .filter(col("jaccard") >= JaccardThreshold)
      .select("id_a", "id_b", "jaccard")

  /** Exact n-gram Jaccard near-duplicate pairs (id_a < id_b, jaccard ≥ τ)
    * with PPJoin-style prefix filtering (Xiao et al., "Efficient similarity
    * joins for near duplicate detection", WWW 2008):
    *
    *  1. rank each document's shingles by ascending global document
    *     frequency (rarest first, deterministic shingle tie-break);
    *  2. keep only the prefix of length |d| − ⌈τ·|d|⌉ + 1 — any pair with
    *     J ≥ τ must share a prefix shingle (overlap ≥ τ·|A∪B| ≥ τ·max sizes);
    *  3. candidate-join on prefix shingles with the length filter
    *     τ·max(|a|,|b|) ≤ min(|a|,|b|);
    *  4. verify candidates exactly against the per-doc sorted shingle
    *     arrays (one compiled merge scan per pair — see verifyJaccard).
    *
    * Exact result, but the quadratic inverted-index join runs only over
    * rare prefix shingles instead of every shingle.
    */
  /** The near-dup pair set feeds multiple downstream operators (pair
    * reporting, cluster building); inputs are immutable within a run, so
    * the MATERIALIZED result is memoized per (session, dir) — the same
    * contract as caching a dimension table. One pipeline run total
    * regardless of how many operators consume the pairs; what the cache
    * retains is only the output-sized checkpointed pair set (the
    * input-sized intermediates are released before memoization — see
    * CacheLifecycle). Keyed on `sessionUUID` (stable, unlike an identity
    * hash) and released explicitly via [[releasePairs]].
    */
  private val pairCache =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()

  /** Family-level shared intermediates: the corpus-wide subtrees every
    * pair operator rebuilds identically — the shingle-pair set, the
    * full-corpus verify arrays, the uncapped prefix index. One dedup suite
    * run scans and shingles the corpus ONCE; containment, incremental,
    * MinHash-LSH and the pair pipeline all reuse the persisted set (see
    * [[FamilyCache]] for the lifecycle contract; released with the pair
    * sets via [[releasePairs]]). First-toucher pays the build — in Bench's
    * name-ordered run that is the explicit `dedup_build_pairs`
    * attribution entry.
    */
  private def sharedIntermediate(s: SparkSession, dir: String, key: String)
                                (build: => DataFrame): DataFrame =
    FamilyCache.get(s, dir, key)(build)

  def ngramJaccard(s: SparkSession, dir: String): DataFrame =
    pairCache.computeIfAbsent(FamilyCache.sessionKey(s) + "|" + dir, _ => {
      val (result, shared) = ngramJaccardPlan(s, dir)
      CacheLifecycle.materialize(result, shared: _*)
    })

  /** Drop all memoized pair sets (bench/test hygiene; a long-lived
    * service session calls this when the underlying corpus changes). The
    * checkpointed blocks are freed by the ContextCleaner once the
    * references are gone.
    */
  def releasePairs(): Unit = {
    pairCache.clear()
    FamilyCache.release()
  }

  /** Incremental near-dup dedup — the production ingest shape: a NEW
    * batch (odd doc_id here; in production, today's partition) verified
    * against the EXISTING corpus only. The candidate join is the SAME
    * PPJoin prefix+length+position filter as the batch pipeline
    * (the prefix theorem is symmetric, so it applies unchanged to the
    * new×old restriction), never old×old — the lake was already
    * deduplicated — and the verify-side arrays are built only for docs
    * appearing in a candidate pair, keeping every stage after the shared
    * index batch-proportional. Emits (id_new, id_old, jaccard ≥ τ).
    *
    * API contract: `threshold` must be >= [[JaccardThreshold]], the τ the
    * family-shared prefix index was built at — a lower value would return
    * silently incomplete recall, so the call fails loudly instead (this
    * tightened from low-recall-accepted to IllegalArgumentException in r8).
    */
  def incremental(s: SparkSession, dir: String,
                  threshold: Double = JaccardThreshold): DataFrame = {
    // The family-shared prefix index and the candidate filters below are
    // built at τ = JaccardThreshold, which bounds RECALL from below: a
    // caller threshold ≥ that constant only tightens the exact verify
    // (correct), but a lower one would silently lose pairs the shorter
    // prefix never indexed — fail loudly instead.
    require(threshold >= JaccardThreshold,
      s"incremental dedup's shared prefix index guarantees recall only for " +
        s"threshold >= $JaccardThreshold, got $threshold")
    // resolve family-shared deps BEFORE entering the cache thunk
    // (computeIfAbsent is not re-entrant — the FamilyCache contract)
    val sh = shinglePairs(s, dir)
    val prefixKeyed = corpusPrefix(s, dir) // same index as the batch pipeline
    // the RESULT is memoized per (session, corpus, τ) like the batch pair
    // set: it is output-sized and consumed by both the dedup_incremental
    // entry and the incremental curation pipeline — without this the
    // pipeline re-paid the whole new×old candidate join (~1.5 s of its
    // 2.9 s at sf0.1, the r7 verdict's pipeline_curate_incremental item)
    sharedIntermediate(s, dir, s"incr$threshold") {
      incrementalUncached(sh, prefixKeyed, threshold)
    }
  }

  private def incrementalUncached(sh: DataFrame, prefixKeyed: DataFrame,
                                  threshold: Double): DataFrame = {
    val alpha = JaccardThreshold / (1 + JaccardThreshold)
    val cands = prefixKeyed.as("a")
      .join(prefixKeyed.as("b"),
        col("a.sh") === col("b.sh") &&
          col("a.doc_id") % 2 === 1 && col("b.doc_id") % 2 === 0 &&
          greatest(col("a.n"), col("b.n")) * JaccardThreshold <=
            least(col("a.n"), col("b.n")) &&
          lit(1) + least(col("a.n") - col("a.pos"), col("b.n") - col("b.pos")) >=
            ceil((col("a.n") + col("b.n")) * alpha))
      .select(col("a.doc_id").as("id_new"), col("b.doc_id").as("id_old"))
      .distinct()
    // verify-side arrays only for docs that appear in a candidate pair —
    // batch-proportional, unlike a full-corpus array aggregate
    val candIds = cands.select(col("id_new").as("doc_id"))
      .union(cands.select(col("id_old").as("doc_id")))
    val arrays = shingleArrays(sh.join(candIds, Seq("doc_id"), "left_semi"))
    val result = cands
      .join(arrays.select(col("doc_id").as("id_new"), col("shs").as("shs_a"),
        col("n").as("n_a")), "id_new")
      .join(arrays.select(col("doc_id").as("id_old"), col("shs").as("shs_b"),
        col("n").as("n_b")), "id_old")
      .withColumn("c", sortedIntersectKernel(col("shs_a"), col("shs_b")))
      .withColumn("jaccard",
        round(col("c") / (col("n_a") + col("n_b") - col("c")), 6))
      .filter(col("jaccard") >= threshold)
      .select("id_new", "id_old", "jaccard")
    // cands feeds both the semi-join id set and the verify join — persist
    // it (with the batch-proportional arrays) per-query; sh and the prefix
    // index are family-shared, released by releasePairs()
    CacheLifecycle.materialize(result, cands, arrays)
  }

  /** Directed shingle containment C(A→B) = |sh(A) ∩ sh(B)| / |sh(A)| —
    * the near-SUPERSET detector: a document quoted or embedded inside a
    * larger one has high containment in it but low symmetric Jaccard
    * (the measure of Broder 1997 that the Jaccard family drops). Emits
    * every ordered pair with C ≥ τ.
    *
    * Distributed shape: candidate generation by inverted-index
    * self-equi-join on the 64-bit shingle token, verification by exact
    * sorted-merge intersection over the full per-doc arrays. PPJoin-style
    * prefix filtering does not transfer (the containment bound depends on
    * |A| alone), so this is the one index join whose fan-out only the
    * df-cap bounds — and the cap therefore DEFAULTS ON (`dfCap`): a
    * shingle shared by m documents contributes m² candidate pairs, so
    * shingles with df > dfCap are dropped from CANDIDATE GENERATION only.
    * Verification still counts intersections over the complete shingle
    * arrays, so every emitted pair carries its exact containment —
    * precision is unaffected; recall loss is confined to pairs whose
    * every shared shingle is hotter than the cap (at the default cap,
    * pairs sharing only boilerplate that a million documents repeat).
    * At fixture scale no shingle approaches the cap, so the capped
    * pipeline is bit-identical to uncapped (DedupSpec pins both this and
    * the bounded-candidate-volume behavior under duplication skew).
    */
  def containment(s: SparkSession, dir: String, threshold: Double = 0.8,
                  dfCap: Long = 100000): DataFrame = {
    val (result, shared) = containmentPlan(s, dir, threshold, dfCap)
    // shared.head is the family-cached shingle set — its lifecycle belongs
    // to releasePairs(), not this query
    CacheLifecycle.materialize(result, shared.tail: _*)
  }

  /** Lazy plan + shared intermediates of [[containment]] (plan inspection
    * and lifecycle management — same contract as ngramJaccardPlan).
    */
  private[operators] def containmentPlan(s: SparkSession, dir: String,
                                         threshold: Double = 0.8,
                                         dfCap: Long = 100000)
  : (DataFrame, Seq[DataFrame]) =
    containmentPlanOf(shinglePairs(s, dir), threshold, dfCap,
      Some(corpusDocFreq(s, dir)), Some(corpusArrays(s, dir)))

  /** Core over pre-shingled (doc_id, sh) pairs — also the spec's
    * injection point for skew-stress corpora.
    *
    * The plan ADAPTS to whether the cap actually engages (one tiny
    * df-aggregation probe job): when no shingle exceeds `dfCap` — every
    * healthy corpus — the intersection count falls directly out of the
    * index self-join's (id_a, id_b) aggregation, never touching the
    * per-doc arrays (the cheap exact plan, and provably identical to the
    * capped pipeline because nothing was dropped). Only when hot shingles
    * exist does the pipeline switch to capped candidate generation +
    * full-array verification, paying the array shipping ONLY for
    * candidate pairs that survive the bounded index. The skew spec pins
    * that both plans agree on the same corpus.
    */
  private[operators] def containmentPlanOf(sh: DataFrame,
                                           threshold: Double,
                                           dfCap: Long,
                                           docFreq: Option[DataFrame] = None,
                                           corpusArr: Option[DataFrame] = None)
  : (DataFrame, Seq[DataFrame]) = {
    // hot-shingle list is tiny (shingles repeated across > dfCap docs);
    // broadcast anti-join keeps the index side bounded. sh feeds the
    // probe job AND the main plan — the shipped path passes the
    // family-persisted set plus its cached docFreq, so the probe is a
    // cached-table filter, not a fresh aggregation job (spec-injected
    // corpora recompute both, tiny).
    val hot = docFreq
      .getOrElse(sh.groupBy("sh").agg(count(lit(1)).as("df")))
      .filter(col("df") > dfCap).select("sh")
    val capEngages = dfCap != Long.MaxValue && hot.limit(1).count() > 0
    if (!capEngages) {
      // per-doc sizes: free from the family verify arrays when available
      // (suite/production shape), one count agg otherwise (injected corpora)
      val sizes = corpusArr.map(_.select("doc_id", "n"))
        .getOrElse(sh.groupBy("doc_id").agg(count(lit(1)).as("n")))
      val inter = sh.select(col("doc_id").as("id_a"), col("sh"))
        .join(sh.select(col("doc_id").as("id_b"), col("sh")), Seq("sh"))
        .filter(col("id_a") =!= col("id_b"))
        .groupBy("id_a", "id_b").agg(count(lit(1)).as("c"))
      val result = inter
        .join(sizes.select(col("doc_id").as("id_a"), col("n").as("n_a")), "id_a")
        .withColumn("containment", round(col("c") / col("n_a"), 6))
        .filter(col("containment") >= threshold)
        .select("id_a", "id_b", "containment")
      (result, Seq(sh))
    } else {
      val cold = sh.join(broadcast(hot), Seq("sh"), "left_anti")
      val cands = cold.select(col("doc_id").as("id_a"), col("sh"))
        .join(cold.select(col("doc_id").as("id_b"), col("sh")), Seq("sh"))
        .filter(col("id_a") =!= col("id_b"))
        .select("id_a", "id_b")
        .distinct()
      // exact verify on the FULL arrays (semi-joined to candidate docs, so
      // the array build stays candidate-proportional)
      val candIds = cands.select(col("id_a").as("doc_id"))
        .union(cands.select(col("id_b").as("doc_id")))
      val arrays = shingleArrays(sh.join(candIds, Seq("doc_id"), "left_semi"))
      val result = cands
        .join(arrays.select(col("doc_id").as("id_a"), col("shs").as("shs_a"),
          col("n").as("n_a")), "id_a")
        .join(arrays.select(col("doc_id").as("id_b"), col("shs").as("shs_b")), "id_b")
        .withColumn("c", sortedIntersectKernel(col("shs_a"), col("shs_b")))
        .withColumn("containment", round(col("c") / col("n_a"), 6))
        .filter(col("containment") >= threshold)
        .select("id_a", "id_b", "containment")
      (result, Seq(sh, cands, arrays))
    }
  }

  /** Lazy plan + the per-query intermediates it persists (for lifecycle
    * management and plan inspection in specs): PPJoin candidates over
    * the family-shared prefix index, verified against the family-shared
    * full-corpus shingle arrays. Both are family-cached, so the
    * per-query list is empty.
    */
  private[operators] def ngramJaccardPlan(s: SparkSession, dir: String)
  : (DataFrame, Seq[DataFrame]) = {
    val prefixKeyed = corpusPrefix(s, dir)
    // PPJoin position filter: a prefix match at positions (pa, pb) bounds
    // the overlap by 1 + min(|a|−pa, |b|−pb); J ≥ τ requires overlap ≥
    // ⌈τ/(1+τ)·(|a|+|b|)⌉. Applied per matched prefix row INSIDE the join
    // condition (codegen'd, zero extra shuffle); a pair survives if any of
    // its prefix matches passes. (A min-position aggregation bounds
    // slightly tighter but costs a wide groupBy over every prefix match —
    // measured 5× slower than filter-then-distinct at sf0.1.)
    val alpha = JaccardThreshold / (1 + JaccardThreshold)
    val candidates = prefixKeyed.as("a")
      .join(prefixKeyed.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id") &&
          greatest(col("a.n"), col("b.n")) * JaccardThreshold <=
            least(col("a.n"), col("b.n")) &&
          lit(1) + least(col("a.n") - col("a.pos"), col("b.n") - col("b.pos")) >=
            ceil((col("a.n") + col("b.n")) * alpha))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
    (verifyJaccard(corpusArrays(s, dir), candidates), Nil)
  }

  /** Per-doc rarest-first prefix index (rank ≤ |d| − ⌈τ·|d|⌉ + 1 under
    * the global df order) as ONE aggregate: collect the doc's (df, sh)
    * pairs, sort the (small, doc-length-bounded) array, slice the
    * prefix. Shared by the batch PPJoin pipeline and the incremental
    * variant. Columns: (doc_id, sh, n, pos).
    */
  private def prefixIndex(sh: DataFrame, docFreq: DataFrame): DataFrame =
    sh.join(docFreq, "sh")
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("df"), col("sh")))).as("ranked"))
      .select(col("doc_id"), size(col("ranked")).as("n"),
        posexplode(slice(col("ranked"), lit(1),
          (size(col("ranked")) -
            ceil(lit(JaccardThreshold) * size(col("ranked"))) + 1).cast("int")))
          .as(Seq("pos0", "t")))
      .select(col("doc_id"), col("t.sh").as("sh"), col("n"),
        (col("pos0") + 1).as("pos"))

  /** MinHash signatures per document via the custom MinHash
    * TypedImperativeAggregate (one aggregate computing all NumPerm
    * permutation minima over a primitive buffer; partial-aggregation
    * friendly — see expressions.MinHashAgg for why this beats NumPerm
    * separate codegen'd `min()`s). Documents with fewer than ShingleK
    * tokens have no shingles and drop out (they cannot near-duplicate
    * anything at this granularity).
    */
  private def minhashSignaturesFrom(sh: DataFrame): DataFrame =
    sh.groupBy("doc_id")
      .agg(MinHashAgg.minhash(col("sh"), NumPerm).as("sig"))
      .select(col("doc_id"), col("sig"),
        lshBands(col("sig"), NumPerm, NumBands).as("bands"))

  /** Exact-Jaccard verification of EXTERNALLY generated candidate pairs
    * (id_a, id_b) against this corpus — the batch verify stage the
    * streaming LSH candidate generator hands off to. Arrays are built
    * candidate-proportionally (semi-join), as in the incremental path.
    */
  private[graft] def verifyCandidates(s: SparkSession, dir: String,
                                      candidates: DataFrame): DataFrame = {
    val sh = shinglePairs(s, dir)
    val candIds = candidates.select(col("id_a").as("doc_id"))
      .union(candidates.select(col("id_b").as("doc_id")))
    val arrays = shingleArrays(sh.join(candIds, Seq("doc_id"), "left_semi"))
    CacheLifecycle.materialize(verifyJaccard(arrays, candidates), arrays)
  }

  /** MinHash+LSH near-dup pairs: band-bucket join → distinct candidates →
    * exact-Jaccard verification on the candidate pairs only.
    */
  def minhashLsh(s: SparkSession, dir: String): DataFrame = {
    val sh = shinglePairs(s, dir)
    val arrays = corpusArrays(s, dir)
    val bands = minhashSignaturesFrom(sh)
      .select(col("doc_id"),
        posexplode(col("bands")).as(Seq("band_idx", "band_hash")))
    val candidates = bands.as("a")
      .join(bands.as("b"), Seq("band_idx", "band_hash"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
    CacheLifecycle.materialize(verifyJaccard(arrays, candidates), bands)
  }

  /** One-pass SimHash signature stage for the two shipped token hashes:
    * sig = f(text) as a pure projection — no per-token row explosion, no
    * aggregate, no doc-keyed exchange of 520 B partial buffers (see
    * TextFunctions.tokenSimhash for the exact-replication contract; the
    * declarative aggregate pipeline it replaced is the spec reference,
    * pinned bit-equal on both hashes). r11, guide §4.2.
    */
  private[graft] def simhashSignaturesKernel(docs: DataFrame,
                                             portable: Boolean): DataFrame =
    // pre-filter on the CHEAP equivalent of the kernel's null condition
    // (tokens() is empty ⟺ text is null or all-ASCII-space — the same
    // trim the kernel applies), NOT on isNotNull(sig): a filter on the
    // UDF output gets pushed below the repartition exchange and the
    // optimizer then evaluates the kernel TWICE per row (guide §4.4;
    // seen in plans/r11/token_simhash_sig_stage_kernel.txt's first cut)
    docs.filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"),
        graft.functions.TextFunctions.tokenSimhash(col("text"), portable).as("sig"))

  /** SimHash near-dup pairs — what the dedup_simhash /
    * dedup_simhash_portable entries run: a 64-bit signature per document
    * ([[simhashSignaturesKernel]]), candidates from 4×16-bit chunk
    * buckets (pigeonhole: hamming ≤ 3 pairs must agree on ≥ 1 of 4
    * chunks), verified by exact hamming distance ≤ 3.
    *
    * The token hash is a choice because production and verification
    * pull in different directions: `portable = false` is `xxhash64` —
    * one non-crypto pass per token, the right constant factor when the
    * hash runs on every token of a 100 TB corpus — while
    * [[simhashPairsPortable]] takes the md5-prefix hash any SQL oracle
    * can replay (TextFunctions.portableTokenHash; sig bits 60-63
    * structurally zero there, which the chunk bucketing and hamming
    * verify are agnostic to). The two variants share every line of this
    * pipeline except the hash.
    *
    * Hot-bucket guard: a chunk value shared by m documents contributes
    * m²/2 candidate pairs, so buckets larger than `maxBucket` are dropped
    * (broadcast anti-join against the tiny hot-bucket list). At fixture
    * scale no bucket comes near the cap; at 100 TB this bounds worst-case
    * join fan-out — recall loss is confined to pairs whose other three
    * chunks all differ, and real deployments add signature tables instead
    * of raising the cap.
    */
  def simhashPairsKernel(s: SparkSession, dir: String,
                         maxBucket: Int = 100000,
                         portable: Boolean = false): DataFrame =
    simhashBucketVerify(
      simhashSignaturesKernel(Tables.documents(s, dir), portable), maxBucket)

  /** Shared candidate+verify tail of every 64-bit-signature near-dup
    * pipeline (token simhash, multimodal phash): 4×16-bit chunk
    * pigeonhole buckets (hamming ≤ 3 pairs must agree on ≥ 1 chunk),
    * hot-bucket cap, exact hamming ≤ 3 verify. `sigs` must carry
    * (doc_id, sig). The machinery is modality-agnostic — only the
    * signature construction differs per family.
    */
  private[operators] def simhashBucketVerify(sigs: DataFrame,
                                             maxBucket: Int): DataFrame = {
    val (pairs, chunks) = simhashBucketVerifyPlan(sigs, maxBucket)
    CacheLifecycle.materialize(pairs, chunks)
  }

  /** Lazy plan of [[simhashBucketVerify]] — (pairs, shared chunk table to
    * persist). Exposed so probes can dump/time the verify stage the
    * eager materialize otherwise hides (r12, verdict item 6).
    */
  private[graft] def simhashBucketVerifyPlan(sigs: DataFrame,
                                             maxBucket: Int): (DataFrame, DataFrame) = {
    val chunks = sigs.select(col("doc_id"), col("sig"),
      posexplode(array((0 until 4).map(i =>
        shiftrightunsigned(col("sig"), i * 16).bitwiseAND(0xFFFFL)): _*))
        .as(Seq("chunk_idx", "chunk")))
    val hot = chunks.groupBy("chunk_idx", "chunk")
      .agg(count(lit(1)).as("m")).filter(col("m") > maxBucket)
      .select("chunk_idx", "chunk")
    val cold = chunks.join(broadcast(hot), Seq("chunk_idx", "chunk"), "left_anti")
    val pairs = cold.as("a")
      .join(cold.as("b"), Seq("chunk_idx", "chunk"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        hamming64(col("a.sig"), col("b.sig")).as("hamming"))
      .distinct()
      .filter(col("hamming") <= 3)
    (pairs, chunks)
  }

  /** Oracle-portable [[simhashPairsKernel]]: identical pipeline with the
    * md5-prefix token hash a SQL oracle replays bit-for-bit. This is the
    * correctness-gate entry; the xxhash64 default is the production
    * configuration (crypto hashing per token is a ~2× constant-factor tax
    * the verify path shouldn't impose on the cluster path).
    */
  def simhashPairsPortable(s: SparkSession, dir: String,
                           maxBucket: Int = 100000): DataFrame =
    // family-memoized: BOTH the dedup_simhash_portable entry and the
    // precision/recall audit (dedupEvalMetrics' arm) consume this exact
    // pair set — without memoization whichever runs second re-hashed the
    // whole corpus with the ~2× md5 tax
    FamilyCache.get(s, dir, s"simhash_portable_$maxBucket")(
      simhashPairsKernel(s, dir, maxBucket, portable = true))

  /** Fuzzy string join — entity-resolution flavor of near-dup detection:
    * per-part summary of other parts whose name is within edit distance
    * ≤ `maxDist`. Levenshtein is too expensive for all-pairs; candidates
    * are bounded by two blocks with an equi-join: the first token (the
    * classic entity-resolution blocking key — recall is scoped to
    * same-first-token matches, the standard blocking trade) and the
    * length window |len(a) − len(b)| ≤ maxDist (side b replicates to its
    * matchable lengths). The residual codegen'd levenshtein runs only
    * inside blocks: cost Σ_block |a|·|b| instead of n².
    */
  def fuzzyNames(s: SparkSession, dir: String, maxDist: Int = 2): DataFrame = {
    val parts = Tables.part(s, dir).select(col("p_partkey"), col("p_name"))
    // THE scale move: parts share a far smaller set of distinct names, so
    // the quadratic-ish fuzzy join runs on the deduplicated name set with
    // multiplicities, and part-level counts reconstruct afterwards —
    // candidate volume drops from (parts/block)² to (names/block)².
    val names = parts.groupBy("p_name").agg(count(lit(1)).as("m"))
      .withColumn("tok1", split(col("p_name"), " ").getItem(0))
      .withColumn("len", length(col("p_name")))
    val a = names.select(col("p_name").as("name_a"), col("m").as("m_a"),
      col("tok1"), col("len").as("len_a"), col("len").as("blk"))
    val b = names
      .withColumn("blk", explode(sequence(col("len"), col("len") + maxDist)))
      .select(col("p_name").as("name_b"), col("m").as("m_b"),
        col("tok1"), col("len").as("len_b"), col("blk"))
    // roles are assigned by length, so each unordered name pair meets in
    // at least one orientation; mirror so every name sees all its
    // matches, and dedup the equal-length double-meetings
    val matches = a.join(b, Seq("tok1", "blk"))
      .filter(col("name_a") =!= col("name_b") &&
        abs(col("len_a") - col("len_b")) <= maxDist &&
        levenshtein(col("name_a"), col("name_b")) <= maxDist)
      .select(col("name_a"), col("name_b"), col("m_a"), col("m_b"),
        levenshtein(col("name_a"), col("name_b")).as("dist"))
    val sym = matches.union(matches.select(
      col("name_b").as("name_a"), col("name_a").as("name_b"),
      col("m_b").as("m_a"), col("m_a").as("m_b"), col("dist")))
      .distinct()
    val perName = sym.groupBy(col("name_a").as("p_name"))
      .agg(sum("m_b").as("other_sum"), min("dist").as("min_other"))
    val summary = names.join(perName, Seq("p_name"), "left")
      .withColumn("n_similar", col("m") - 1 + coalesce(col("other_sum"), lit(0L)))
      .withColumn("min_dist",
        when(col("m") > 1, lit(0)).otherwise(col("min_other")).cast("int"))
      .filter(col("n_similar") > 0)
      .select(col("p_name"), col("n_similar"), col("min_dist"))
    val out = parts.join(summary, Seq("p_name"))
      .select(col("p_partkey").as("id_a"), col("n_similar"), col("min_dist"))
    CacheLifecycle.materialize(out, names)
  }

  /** Duplicate clusters — connected components over the near-dup pair
    * graph (the step that turns pairwise matches into dedup groups with a
    * canonical survivor), through [[componentsOf]]: driver union-find
    * while the pair set fits the `driverMaxPairs` guard, distributed
    * large-star/small-star contraction (O(log n) rounds whatever the
    * component diameter) past it. Output is (cluster_id, n_members).
    */
  def clusters(s: SparkSession, dir: String, maxRounds: Int = 20,
               driverMaxPairs: Long = 10000000L): DataFrame =
    clusterMembers(s, dir, maxRounds, driverMaxPairs)
      .groupBy("cluster_id").agg(count(lit(1)).as("n_members"))

  /** Per-document cluster assignment (doc_id → cluster_id = component
    * minimum): the vertex-level view [[clusters]] aggregates and
    * [[purge]] consumes. Documents in no near-dup pair are absent.
    */
  def clusterMembers(s: SparkSession, dir: String, maxRounds: Int = 20,
                     driverMaxPairs: Long = 10000000L): DataFrame =
    // ngramJaccard returns the memoized, already-materialized pair set
    componentsOf(s, ngramJaccard(s, dir).select(col("id_a"), col("id_b")),
      maxRounds, driverMaxPairs)

  /** Connected components over ANY (id_a, id_b) pair frame — the
    * pair-graph → dedup-group step, shared by the text near-dup family
    * and the multimodal phash family (one clustering engine, any
    * modality's candidate pairs).
    */
  private[operators] def componentsOf(s: SparkSession, pairs: DataFrame,
                                      maxRounds: Int = 20,
                                      driverMaxPairs: Long = 10000000L,
                                      driverFinishCap: Long = 10000000L): DataFrame = {
    // driverMaxPairs == 0 forces the distributed path unconditionally —
    // skip the guard count (a full pass over the pair set) entirely
    val nPairs = if (driverMaxPairs == 0L) 1L else pairs.count()
    // Hybrid: the pair set is a vanishing fraction of the corpus by
    // construction (only near-dups appear), so up to `driverMaxPairs` the
    // component computation is driver-scale work — union-find in
    // milliseconds, zero iterative jobs. Past the guard (pathological
    // duplication at 100 TB), fall through to large-star/small-star
    // contraction (O(log n) rounds regardless of component diameter).
    // Same result on both paths, spec-pinned.
    if (nPairs <= driverMaxPairs)
      driverUnionFind(s, pairs.collect().map(r => (r.getLong(0), r.getLong(1))))
    else ccStarContraction(pairs, maxRounds, driverFinishCap)
  }

  /** Driver-side union-find over a collected edge list → (doc_id,
    * cluster_id) labels, cluster_id = component minimum (union-by-min
    * with path halving). The terminal step of BOTH hybrid CC paths: the
    * input guard (pair set small enough to skip iteration entirely) and
    * the contraction finish (edge set shrunk under the guard after k
    * distributed rounds).
    */
  private def driverUnionFind(s: SparkSession,
                              edges: Array[(Long, Long)]): DataFrame = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x0: Long): Long = {
      var x = x0
      parent.getOrElseUpdate(x, x)
      while (parent(x) != x) {
        parent(x) = parent(parent(x)); x = parent(x)
      }
      x
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    import s.implicits._
    parent.keys.toSeq.map(v => (v, find(v))).toDF("doc_id", "cluster_id")
  }

  /** The dedup pipeline's actionable output: for every document in a
    * near-dup cluster, its canonical survivor (the component-minimum
    * doc_id) and whether the row is purged (everything but the
    * survivor). Joining the purge=true set against the corpus as a
    * broadcast/shuffle anti-join is how the cleaned corpus materializes
    * at scale.
    */
  def purge(s: SparkSession, dir: String): DataFrame =
    clusterMembers(s, dir)
      .select(col("doc_id"), col("cluster_id").as("keep_id"),
        (col("doc_id") =!= col("cluster_id")).as("purge"))

  /** Quality-ranked survivor selection — [[purge]]'s production sibling.
    * Min-id survivorship is deterministic but arbitrary; a curation
    * pipeline keeps the BEST copy of each near-dup cluster (the highest-
    * quality crawl of a page, the least-truncated mirror of a document).
    * Policy here: max distinct-token ratio (text_quality's signal, same
    * 6-decimal rounding so both engines rank identical doubles),
    * tie-break min doc_id.
    *
    * Cost shape: cluster membership is output-sized (near-dup docs only),
    * so the quality join touches the corpus ONCE for a narrow projection
    * and the ranking window partitions by cluster — per-cluster local
    * sorts over groups of a few members. Swapping the policy column
    * (fetch recency, source priority, length) changes nothing structural.
    */
  def survivorPolicy(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val t = graft.functions.TextFunctions.tokens(col("text"))
    val quality = Tables.documents(s, dir).select(
      col("doc_id"),
      round(size(array_distinct(t)) / size(t).cast("double"), 6).as("quality"))
    val members = clusterMembers(s, dir)
    val w = Window.partitionBy("cluster_id")
      .orderBy(col("quality").desc, col("doc_id"))
    val out = members.join(quality, Seq("doc_id"))
      .withColumn("rnk", row_number().over(w))
      .select(col("doc_id"), col("cluster_id"), col("quality"),
        (col("rnk") === 1).as("survivor"))
    CacheLifecycle.materialize(out)
  }

  /** Distributed CC via alternating large-star/small-star contraction
    * (Kiveris et al., "Connected components in MapReduce and beyond",
    * SoCC 2014) — the adversarial-diameter scale path: O(log n) rounds
    * regardless of component shape, where min-label propagation needs
    * diameter rounds (a 10⁶-long chain of near-dups would take 10⁶
    * propagation rounds but ~20 contraction rounds).
    *
    *  - large-star(u): link every LARGER neighbor of u to
    *    m(u) = min(Γ(u) ∪ {u});
    *  - small-star(u): link every smaller neighbor of u, and u itself, to
    *    the minimum smaller neighbor.
    *
    * Both are one groupBy + one join per round on the canonical edge set.
    * At the fixed point every component is a star centered at its minimum
    * vertex, so the (doc_id, cluster_id) labels are the edges themselves.
    */
  private[operators] def ccStarContraction(pairs: DataFrame, maxRounds: Int,
                                           driverFinishCap: Long = 10000000L): DataFrame = {
    // checkpoint (not persist) per round: an iterative DataFrame
    // algorithm otherwise nests each round's logical plan inside the
    // next, and driver planning time grows exponentially with rounds even
    // when execution reads the cache; truncating lineage keeps every
    // round's plan shallow. Parallelism follows the data; AQE coalesces
    // when small.
    //
    // The input IS checkpointed up front (r8 A/B, negative result
    // recorded in SCALE.md: skipping the checkpoint read 12.3 s vs
    // 7.1 s on the components subset — round 0's shuffle stages each
    // re-executed the raw star subtree where the checkpoint serves
    // compact materialized blocks) — but NOT distinct'ed: both round-0
    // min aggregates are duplicate-insensitive, the join fan-out is
    // bounded by the input's own duplication factor, and the per-round
    // output distinct canonicalizes everything downstream.
    var edges = pairs
      .select(least(col("id_a"), col("id_b")).as("a"),
        greatest(col("id_a"), col("id_b")).as("b"))
      .filter(col("a") =!= col("b"))
      .transform(CacheLifecycle.roundCheckpoint)
    var checkpointed: DataFrame = edges
    var round = 0
    var done = false
    while (!done && round < maxRounds) {
      // large-star: from the smaller endpoint u of each edge, the larger
      // endpoint v re-links to m(u) = min(Γ(u) ∪ {u}); m ≤ u < v keeps
      // the (m, v) output canonical with no self-loops. Its output flows
      // into small-star UN-deduplicated (r8): small-star's min aggregate
      // ignores multiplicity and its join fan-out is bounded by
      // large-star's duplication, so the intermediate edge-sized
      // distinct bought nothing but a shuffle.
      val sym = edges.select(col("a").as("u"), col("b").as("v"))
        .union(edges.select(col("b").as("u"), col("a").as("v")))
      val mins = sym.groupBy("u").agg(least(min(col("v")), col("u")).as("m"))
      val large = sym.join(mins, "u")
        .filter(col("v") > col("u"))
        .select(col("m").as("a"), col("v").as("b"))
      // small-star: from the larger endpoint u, all smaller neighbors and
      // u itself link to the minimum smaller neighbor m < u. Large-star
      // output is canonically oriented m < v ALWAYS (m ≤ u < v by
      // construction), so "the smaller neighbors of each larger
      // endpoint" is exactly the reversed large output — the
      // symmetrize-then-filter the first cut paid processed the same
      // rows twice and discarded half (r8).
      val smallNbrs = large.select(col("b").as("u"), col("a").as("v"))
      val minsS = smallNbrs.groupBy("u").agg(min(col("v")).as("m"))
      val next = smallNbrs.join(minsS, "u")
        .select(col("v").as("x"), col("m"))
        .filter(col("x") =!= col("m"))
        .union(minsS.select(col("u").as("x"), col("m")))
        .select(col("m").as("a"), col("x").as("b"))
        .distinct()
        // LAZY: the st fixpoint aggregate below is the materializing
        // action (one scan covering every partition), so each
        // contraction round pays one job for (round + fixpoint test)
        // instead of two; the previous round is released only after st
        // returns, honoring the roundCheckpointLazy contract (r11)
        .transform(CacheLifecycle.roundCheckpointLazy)
      // Fixed point = the edge set IS a star forest, tested DIRECTLY
      // (r8, replacing compare-against-previous-round): (i) every member
      // b carries exactly one center a, (ii) no center appears as a
      // member. Both transforms are no-ops exactly on such a set (each
      // star re-derives itself), and canonical a < b orientation makes
      // every center its component's minimum, so stopping here returns
      // the same labels the compare-based exit did — one scan plus (only
      // when (i) holds) one node-sized semi-join probe, where the old
      // exit paid a FULL confirmation round (3 shuffles + checkpoint +
      // count + anti-join) re-deriving an unchanged edge set. The r8
      // lever chain measured on the components subset (sweeps=3,
      // sf0.1): 7.1 s baseline → 5.2 (drop the intermediate large-star
      // distinct) → 4.4 (this direct fixpoint test) → 4.2 (smallNbrs =
      // reversed large output) → 4.0 (raw-checkpoint the input, no
      // up-front distinct/count). Explicit broadcast hints on the mins
      // joins measured NEGATIVE (4.8 — AQE's post-shuffle replan
      // already converts them and keeps the map-side partials).
      val st = next.agg(count(lit(1)).as("n"),
        count_distinct(col("b")).as("nb")).head()
      // Hybrid finish (r8): contraction rounds exist to SHRINK the edge
      // set; the moment it fits the same driver guard componentsOf
      // applies to its input, another full round (≈10 AQE stage-jobs of
      // shuffles + fixpoint probes on a scheduler-floor-bound frame) is
      // strictly worse than one collect + union-find — a job-count
      // probe (r11) measured graph_components at 34 jobs × ~0.11 s/job
      // with the probes, all scheduler round-trips, not shuffle work.
      // Contraction preserves the vertex set (every non-isolated vertex
      // stays a center or member each round — Kiveris et al. §3), so
      // union-find over the PARTIALLY contracted edges labels every
      // original vertex with its component minimum, identical to running
      // the loop to its star-forest fixpoint (spec-pinned: GraphGovSpec
      // forces cap=0 and compares). At 100 TB the cap never triggers
      // until the rounds have done their O(log n) work; cap=0 keeps the
      // pure-distributed path with the direct star-forest fixpoint test.
      if (driverFinishCap > 0 && st.getLong(0) <= driverFinishCap) {
        val collected = next.collect().map(r => (r.getLong(0), r.getLong(1)))
        if ((checkpointed ne null) && (checkpointed ne next))
          CacheLifecycle.release(checkpointed)
        CacheLifecycle.release(next)
        return driverUnionFind(pairs.sparkSession, collected)
      }
      done = st.getLong(0) == st.getLong(1) &&
        next.select(col("a")).distinct()
          .join(next.select(col("b").as("a")), Seq("a"), "left_semi")
          .limit(1).count() == 0
      // the probes above were the old round's last consumers — but ONLY
      // release checkpoints this loop created: round 0's `edges` is the
      // raw input subtree, whose leaves may include family-cached
      // (shared) checkpoint frames
      if (checkpointed != null) CacheLifecycle.release(checkpointed)
      checkpointed = next
      edges = next
      round += 1
    }
    // star forest: every edge is (component-min, member); the center
    // labels itself
    val out = edges.select(col("b").as("doc_id"), col("a").as("cluster_id"))
      .union(edges.select(col("a")).distinct()
        .select(col("a").as("doc_id"), col("a").as("cluster_id")))
      .localCheckpoint(eager = true)
    if (checkpointed != null) CacheLifecycle.release(checkpointed)
    out
  }

  /** Embedding cosine near-duplicates: exact pairs with cosine ≥ τ on the
    * `embeddings` fixture, computed as sketch-prefilter → grid equi-join →
    * exact verify. No nested-loop or cartesian join appears in the plan.
    *
    * Why not plain LSH bucketing: at τ = 0.45 the threshold angle is 63°,
    * and the fixture (like real embedding corpora) has non-matching pairs
    * at cosine 0.4497 vs matching at 0.4501 — there is NO gap, so bucket
    * recall 1.0 would need so many tables the candidate volume exceeds n².
    * An exact join at such a loose threshold is intrinsically Ω(n²)
    * comparisons on isotropic data; the scalable design makes each
    * comparison nearly free and distributes them evenly:
    *
    *  1. S-bit hyperplane sign sketch per vector (S = 256 → 4 longs,
    *     32 bytes instead of 256). E[hamming] = S·angle/π.
    *  2. Grid ("1-bucket-theta", Okcan & Riedewald SIGMOD'11) equi-join:
    *     side a hashes to a grid row and replicates across columns, side b
    *     hashes to a column and replicates across rows, so every pair
    *     meets in exactly one of grid² *equi-join* cells — a shuffled hash
    *     join Spark distributes evenly, not a BroadcastNestedLoopJoin.
    *  3. Pairs pass only if sketch hamming ≤ S·θ_τ/π + 2√S (4σ margin on
    *     the Binomial(S, θ/π) hamming; misses at the margin are ~1e-5 per
    *     pair — validated recall 1.0 on the fixtures at both SFs). The
    *     filter is XOR+popcount on 4 longs inside the join's codegen.
    *  4. Survivors (a few % of pairs) join back to full vectors by id and
    *     are verified with the exact codegen'd `graft_dot` cosine, so
    *     precision is exact.
    *
    * At a tighter production threshold (τ ≥ 0.7, near-dup territory) the
    * same sketches support genuinely sub-quadratic pigeonhole bucketing
    * (chunk equality), which is how this operator would be tuned at 100 TB.
    */
  def embeddingCosine(s: SparkSession, dir: String, threshold: Double = 0.45,
                      numPlanes: Int = 256, grid: Int = 8): DataFrame = {
    val (result, _) = embeddingCosinePlan(s, dir, threshold, numPlanes, grid)
    CacheLifecycle.materialize(result)
  }

  /** Lazy plan + the embeddings intermediate it reads three times (sketch
    * build, verify side a, verify side b) — separated so PlanSpec can pin
    * the join structure (no BNLJ/cartesian) without persist side effects.
    */
  private[operators] def embeddingCosinePlan(
      s: SparkSession, dir: String, threshold: Double = 0.45,
      numPlanes: Int = 256, grid: Int = 8): (DataFrame, DataFrame) = {
    val dim = Dim
    // normed vectors shared with the ANN family (one scan+norm per corpus)
    val e = Similarity.corpusVectors(s, dir)
    val sketches = e.select(col("vec_id"),
      sketchKernel(hyperplanesFlat(numPlanes, dim), dim)(col("v")).as("sig"))
    val cut = math.ceil(
      numPlanes * math.acos(threshold) / math.Pi + 2 * math.sqrt(numPlanes)).toInt
    val nWords = (numPlanes + 63) >>> 6
    val a = sketches
      .withColumn("gr", pmod(xxhash64(col("vec_id")), lit(grid)))
      .withColumn("gc", explode(sequence(lit(0), lit(grid - 1))))
    val b = sketches
      .withColumn("gc", pmod(xxhash64(col("vec_id")), lit(grid)))
      .withColumn("gr", explode(sequence(lit(0), lit(grid - 1))))
    val hamming = (0 until nWords).map { w =>
      bit_count(element_at(col("a.sig"), w + 1)
        .bitwiseXOR(element_at(col("b.sig"), w + 1)))
    }.reduce(_ + _)
    val candidates = a.as("a")
      .join(b.as("b"),
        col("a.gr") === col("b.gr") && col("a.gc") === col("b.gc") &&
          col("a.vec_id") < col("b.vec_id") && hamming <= cut)
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"))
    val verified = candidates
      .join(e.select(col("vec_id").as("id_a"), col("v").as("va"), col("nrm").as("na")), "id_a")
      .join(e.select(col("vec_id").as("id_b"), col("v").as("vb"), col("nrm").as("nb")), "id_b")
      .withColumn("cosine", round(
        dot(col("va"), col("vb")) / (col("na") * col("nb")), 6))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
    (verified, e)
  }

  /** SemDeDup-style semantic dedup (Abbas et al., "SemDeDup: Data-efficient
    * learning at web-scale through semantic deduplication", 2023): cluster
    * the embedding space coarsely, then search for semantic duplicates
    * ONLY within a cluster — the quadratic term is bounded by cell size
    * instead of corpus size, the production trade for embedding dedup at
    * 100 TB (cross-cell near-dups are the accepted recall loss; the
    * global sketch-grid pipeline above is the exact-recall alternative).
    *
    * The quantizer is annIvf's deterministic seed-point rule (centroids =
    * embeddings of vec_id < numCells — tiny driver-side index metadata,
    * SQL-replayable), with numCells ∝ √n by default so BOTH sides of the
    * cost stay sub-quadratic as the corpus grows: assignment is O(n·√n)
    * and within-cell pairing is O(n·√n) expected (a production deployment
    * sizes cells ∝ n/targetCellSize and trains centroids offline; the
    * pipeline — assign, cell self-join, survivor pick — is unchanged).
    *
    * Emits the DROP LIST: (vec_id, cell, keep_id, cosine) — one row per
    * dropped vector, keep_id = its lowest-id cell-mate with cosine ≥ τ
    * (greedy-by-id survivor; a keeper may itself be dropped for a smaller
    * id, exactly SemDeDup's keep-one-per-neighborhood greedy order). Kept
    * set = corpus minus emitted vec_ids.
    */
  def semanticDedup(s: SparkSession, dir: String, threshold: Double = 0.45,
                    numCellsOverride: Option[Int] = None): DataFrame = {
    val e = Similarity.corpusVectors(s, dir)
    val numCells = numCellsOverride.getOrElse(
      math.ceil(math.sqrt(e.count().toDouble)).toInt)
    val centroids: Array[Array[Float]] = e.filter(col("vec_id") < numCells)
      .orderBy("vec_id").select("v")
      .collect().map(_.getAs[scala.collection.Seq[Float]](0).toArray)
    val assigned = e.withColumn("cell",
      Similarity.nearestCellKernel(centroids.map(_.map(_.toDouble)))(col("v"))
        .cast("long"))
    // cell equi-join (hash join on cell; the cosine threshold evaluates
    // per MATCHED pair — within-cell work only, never a nested loop)
    val pairs = assigned.as("a")
      .join(assigned.as("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
      .withColumn("cosine", round(
        dot(col("a.v"), col("b.v")) /
          (col("a.nrm") * col("b.nrm")), 6))
      .filter(col("cosine") >= threshold)
      .select(col("b.vec_id").as("vec_id"), col("b.cell").as("cell"),
        col("a.vec_id").as("keep_id"), col("cosine"))
    // deterministic survivor: the smallest qualifying keeper per dropped id
    val result = pairs.groupBy("vec_id", "cell")
      .agg(min(struct(col("keep_id"), col("cosine"))).as("m"))
      .select(col("vec_id"), col("cell"),
        col("m.keep_id").as("keep_id"), col("m.cosine").as("cosine"))
    CacheLifecycle.materialize(result)
  }

  /** SemDeDup-style embedding-dedup pipeline (Abbas et al. 2023's
    * cluster-and-prune shape, composed from the committed families):
    * kNN graph over the embedding corpus (LSH sign-bucket candidates,
    * exact-cosine top-k — [[Similarity.knnGraphPlan]]) → keep edges with
    * cosine ≥ τ → connected components ([[componentsOf]], min-label) →
    * survivor policy: each cluster keeps its minimum vec_id (= the
    * component label by construction), everything else is purged. The
    * output is the full per-vector curation manifest — (vec_id,
    * cluster_id, n_members, keep) — singletons included, because a
    * production prune feeds a training manifest that must account for
    * EVERY input row, not only the clustered ones.
    *
    * This is the embedding twin of `pipeline_manifest` (text side): three
    * family operators composed end-to-end under ONE oracle that nests
    * their existing oracles verbatim (LSH top-k CTE → recursive min-label
    * closure → left join back to the corpus).
    *
    * Scale shape: every stage is the committed family plan — the kNN
    * candidate join is bucket-partitioned, components contract in
    * O(log n) rounds on a pair set bounded by k·|V|, and the manifest
    * join is corpus-sized with a components-sized (near-dup-bounded)
    * build side.
    */
  def semDedupPipeline(s: SparkSession, dir: String,
                       tau: Double = 0.45, k: Int = 5): DataFrame = {
    val corpus = Similarity.corpusVectors(s, dir).select("vec_id")
    val edges = Similarity.knnGraphPlan(s, dir, k)
      .filter(col("cosine") >= tau)
      .select(col("query_id").as("id_a"), col("neighbor_id").as("id_b"))
      .filter(col("id_a") =!= col("id_b"))
    val comp = componentsOf(s, edges)
      .select(col("doc_id").as("vec_id"), col("cluster_id"))
    val sizes = comp.groupBy("cluster_id").agg(count(lit(1)).as("n_members"))
    val manifest = corpus
      .join(comp, Seq("vec_id"), "left")
      .join(sizes, Seq("cluster_id"), "left")
      .select(
        col("vec_id"),
        coalesce(col("cluster_id"), col("vec_id")).as("cluster_id"),
        coalesce(col("n_members"), lit(1L)).as("n_members"),
        (coalesce(col("cluster_id"), col("vec_id")) === col("vec_id"))
          .as("keep"))
    CacheLifecycle.materialize(manifest)
  }

  /** Dedup-arm evaluation — precision / recall / F1 of the SimHash arm
    * against the exact n-gram-Jaccard truth: the measurement every
    * near-dup deployment runs before trusting a cheaper signature family
    * (the dedup analog of `search_eval_metrics`). The arm is the
    * PORTABLE simhash twin so BOTH pipelines are SQL-replayable and the
    * metrics oracle nests their existing oracles verbatim. One
    * full-outer join of two pair-set-sized sides (already
    * candidate-bounded upstream) + one scalar aggregate; corpus scans
    * are family-shared.
    */
  def dedupEvalMetrics(s: SparkSession, dir: String): DataFrame = {
    val truth = ngramJaccard(s, dir).select("id_a", "id_b")
      .withColumn("in_t", lit(1))
    val arm = simhashPairsPortable(s, dir).select("id_a", "id_b")
      .withColumn("in_a", lit(1))
    truth.join(arm, Seq("id_a", "id_b"), "full_outer")
      .agg(
        sum(coalesce(col("in_t"), lit(0))).as("n_truth"),
        sum(coalesce(col("in_a"), lit(0))).as("n_arm"),
        sum(coalesce(col("in_t"), lit(0)) * coalesce(col("in_a"), lit(0)))
          .as("n_hit"))
      .select(col("n_truth"), col("n_arm"), col("n_hit"),
        round(col("n_hit") / col("n_arm"), 6).as("prec"),
        round(col("n_hit") / col("n_truth"), 6).as("rec"),
        round(lit(2.0) * col("n_hit") / (col("n_arm") + col("n_truth")), 6)
          .as("f1"))
  }
}
