package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Feature-engineering operators — the fit-then-transform surface an ML
  * data pipeline runs before training (scalers, target encoders). The
  * shared shape: "fit" is a tiny statistics aggregate (keys × moments
  * rows), "transform" broadcasts those statistics back onto the scan as a
  * map-phase projection — the fact side NEVER shuffles, so every operator
  * here is one pass over the data plus a broadcast, at any scale.
  */
object Features {

  /** Z-score + min-max feature scaling, fit and transform in one plan
    * (scikit's StandardScaler/MinMaxScaler over a fact table): one global
    * moments aggregate (mean, sample stddev, min, max per feature — ONE
    * row) cross-broadcast onto the scan; each output column is pure
    * arithmetic on the broadcast row. Rounding to 6 both sides absorbs
    * summation-order noise in the fitted moments.
    */
  def scaleFeatures(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val stats = li.agg(
      avg("l_extendedprice").as("m_p"), stddev_samp("l_extendedprice").as("s_p"),
      min("l_extendedprice").as("lo_p"), max("l_extendedprice").as("hi_p"),
      avg("l_quantity").as("m_q"), stddev_samp("l_quantity").as("s_q"))
    li.crossJoin(broadcast(stats))
      .select(col("l_orderkey"), col("l_linenumber"),
        round((col("l_extendedprice") - col("m_p")) / col("s_p"), 6).as("z_price"),
        round((col("l_quantity") - col("m_q")) / col("s_q"), 6).as("z_qty"),
        round((col("l_extendedprice") - col("lo_p")) / (col("hi_p") - col("lo_p")), 6)
          .as("mm_price"))
  }

  /** Per-key lag / rolling features — the window block of every
    * forecasting feature pipeline: for each user's event sequence
    * ordered by (ts, event_id), the previous two values and a trailing
    * 3-row moving average (partial windows average the rows available —
    * identical semantics in both engines). All three features ride ONE
    * per-user window — one shuffle on user_id, local per-key sorts,
    * never a global sort; feature arithmetic stays in the codegen
    * projection.
    */
  def lagFeatures(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("ts"), col("value"))
      .withColumn("lag1", lag("value", 1).over(w))
      .withColumn("lag2", lag("value", 2).over(w))
      .withColumn("ma3", round(avg("value").over(
        w.rowsBetween(-2, 0)), 6))
      .select(col("user_id"), col("event_id"), col("lag1"), col("lag2"),
        col("ma3"))
  }

  /** Group-aware holdout split — the leakage-safe train/test boundary an
    * ML pipeline needs when rows are correlated within an entity (all of
    * a user's events must land on ONE side, or temporal/user leakage
    * inflates eval): assignment hashes the GROUP key once (portable
    * md5-prefix hash, mod-100 bucket), so routing is a pure map-phase
    * projection of each row's own key — deterministic across runs,
    * engines, and cluster sizes, with no fit state at all. Contrast
    * `emb_split_stratified` (per-LABEL proportions, rows independent) —
    * this is the complementary split for entity-correlated data. Output
    * is the per-split audit summary (group/row counts + value mass), the
    * record a pipeline persists to prove the split held.
    */
  def groupHoldoutSplit(s: SparkSession, dir: String,
                        testPct: Int = 20): DataFrame = {
    val h = graft.functions.TextFunctions.portableTokenHash(
      col("user_id").cast("string"))
    Tables.events(s, dir)
      .withColumn("split",
        when(pmod(h, lit(100L)) < testPct, lit("test")).otherwise(lit("train")))
      .groupBy("split")
      .agg(countDistinct("user_id").as("n_groups"),
        count(lit(1)).as("n_events"),
        round(sum("value"), 2).as("sum_value"))
  }

  /** Leave-one-out target encoding (the Kaggle/CatBoost-style categorical
    * encoder that avoids self-leakage): encode key k for row i as
    * (Σ_k target − target_i) / (n_k − 1); singleton keys get NULL (no
    * peer evidence). Fit = one (key → sum, count) aggregate, broadcast
    * back; transform is map-phase arithmetic — the fact table never
    * shuffles, and the encoder state is key-cardinality-sized however
    * large the data. Rounded to 4 so both engines replay the doubles.
    */
  def targetEncodeLoo(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val stats = o.groupBy("o_orderpriority")
      .agg(sum("o_totalprice").as("t_sum"), count(lit(1)).as("t_n"))
    o.join(broadcast(stats), Seq("o_orderpriority"))
      .select(col("o_orderkey"), col("o_orderpriority"),
        when(col("t_n") === 1, lit(null).cast("double"))
          .otherwise(round((col("t_sum") - col("o_totalprice")) /
            (col("t_n") - 1).cast("double"), 4)).as("loo_price"))
  }

  /** Weight-of-evidence categorical encoding (the credit-scoring
    * standard; Siddiqi, "Credit Risk Scorecards", 2006): per category,
    * WOE = ln(smoothed positive share / smoothed negative share), plus
    * the information-value contribution that ranks features by
    * predictive power. Fit is ONE grouped pass over the fact table; the
    * category totals join back as a broadcast single-row frame —
    * encoder state is category-cardinality-sized at any scale (the
    * [[targetEncodeLoo]] regime). Additive 0.5 smoothing keeps empty
    * cells finite; WOE rounds to 6 and the IV term multiplies the
    * ROUNDED woe so both engines compose identical doubles.
    */
  def woeEncode(s: SparkSession, dir: String): DataFrame = {
    val g = Tables.orders(s, dir)
      .groupBy(col("o_orderpriority").as("category"))
      .agg(
        sum(when(col("o_orderstatus") === "F", 1L).otherwise(0L)).as("n_pos"),
        sum(when(col("o_orderstatus") =!= "F", 1L).otherwise(0L)).as("n_neg"))
    val tot = g.agg(sum("n_pos").as("pos_tot"), sum("n_neg").as("neg_tot"))
    g.crossJoin(broadcast(tot))
      .withColumn("woe", round(log(
        ((col("n_pos") + lit(0.5)) / col("pos_tot")) /
          ((col("n_neg") + lit(0.5)) / col("neg_tot"))), 6))
      .withColumn("iv_term", round(
        (col("n_pos").cast("double") / col("pos_tot") -
          col("n_neg").cast("double") / col("neg_tot")) * col("woe"), 6))
      .select("category", "n_pos", "n_neg", "woe", "iv_term")
  }

  /** Feature hashing (the "hashing trick", Weinberger et al. 2009) —
    * text to fixed-width term-frequency vectors with NO vocabulary: each
    * token hashes straight to one of `dim` slots. This is the
    * large-scale story itself — no vocab fit pass, no dictionary
    * broadcast, no OOV handling; the transform is stateless and
    * identical on every executor forever. One explode + one two-phase
    * (doc) aggregate with `dim` conditional counts. The slot hash is the
    * engine-portable md5 prefix so the oracle replays slots exactly
    * (same prod/oracle split as the simhash family — xxhash64 is the
    * cluster default).
    */
  def hashFeatures(s: SparkSession, dir: String, dim: Int = 16): DataFrame = {
    val docs = Tables.documents(s, dir)
    val slotted = docs
      .select(col("doc_id"),
        explode(graft.functions.TextFunctions.tokens(col("text"))).as("tok"))
      .withColumn("slot",
        pmod(graft.functions.TextFunctions.portableTokenHash(col("tok")),
          lit(dim.toLong)))
    slotted.groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        (0 until dim).map(i =>
          count(when(col("slot") === i, 1)).as(s"f$i")): _*)
  }

  /** BPE merge-candidate counting — the distributed core of tokenizer
    * training (Sennrich et al. 2016: each merge round counts adjacent
    * symbol-pair frequencies over the corpus and fuses the argmax). The
    * corpus collapses to a (distinct word → frequency) dictionary FIRST —
    * the classic BPE trick that makes each round dictionary-sized, not
    * corpus-sized; adjacent character pairs are then generated per
    * distinct word and weighted by word frequency. Plan: explode tokens →
    * two-phase word-count agg (corpus → vocab compaction, the only
    * corpus-scale shuffle), per-word pair generation over the VOCAB
    * (higher-order transform; CodegenFallback-interpreted but
    * dictionary-sized — documented trade, same as the curation family),
    * two-phase pair agg, bounded top-k. Repeated merge rounds reuse the
    * cached dictionary and only re-pair affected words.
    */
  def bpePairCounts(s: SparkSession, dir: String, topK: Int = 20): DataFrame = {
    val words = Tables.documents(s, dir)
      .select(explode(graft.functions.TextFunctions.tokens(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .filter(length(col("w")) >= 2)
    val pairs = words
      .select(col("freq"),
        explode(expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"))
          .as("pair"))
      .groupBy("pair").agg(sum("freq").as("cnt"))
    pairs.orderBy(col("cnt").desc, col("pair")).limit(topK)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("cnt").desc, col("pair"))).cast("int"))
  }

  /** Multi-round BPE-style merge TRAINING over the word stream (Sennrich
    * et al., "Neural machine translation of rare words with subword
    * units", ACL 2016 — run here at word granularity: the phrase/
    * word-piece variant): each round counts adjacent-token pairs across
    * the corpus, adopts the most frequent pair as a merge rule
    * ((count desc, pair asc) tie-break — deterministic), and APPLIES it
    * greedily left-to-right without overlaps before the next round
    * counts again.
    *
    * The distributed shapes per round: ONE lead-window pass + two-phase
    * count aggregate to rank pairs (the winning rule is a driver
    * literal, IVF-centroid style — bytes of state against corpus-sized
    * work); then the greedy application as pure window algebra — the
    * classic sequential scan becomes gaps-and-islands: consecutive
    * match positions form runs, and greedy non-overlap = "apply at even
    * offsets within the run" (`(pos − run_start) % 2 = 0`), which both
    * engines compute identically with no sequential dependence. The
    * corpus stays in (doc, pos, token) long form between rounds;
    * positions re-densify with one row_number pass after each merge.
    * Per-round `localCheckpoint` caps the stacked-window lineage.
    *
    * Output: the learned merge table plus the post-merge corpus token
    * count per round — so the oracle verifies the APPLICATION, not just
    * the ranking.
    */
  def bpeTrain(s: SparkSession, dir: String, rounds: Int = 3): DataFrame = {
    val (learned, _, _) = bpeRun(s, dir, rounds)
    import s.implicits._
    learned
      .toDF("round", "merge_left", "merge_right", "pair_count",
        "corpus_tokens_after")
  }

  /** The transform side of [[bpeTrain]]: apply the learned merge rules
    * and report each document's token count before/after plus the
    * compression ratio — the record a packing/budgeting stage consumes.
    * Same machinery, read out per document instead of per rule.
    */
  def bpeEncode(s: SparkSession, dir: String, rounds: Int = 3): DataFrame = {
    val (_, t0, tR) = bpeRun(s, dir, rounds)
    val before = t0.select(col("doc_id"), col("n").as("n_tokens_before"))
    val after = tR.select(col("doc_id"), col("n").as("n_tokens_after"))
    before.join(after, Seq("doc_id"))
      .withColumn("ratio", round(
        col("n_tokens_after") / col("n_tokens_before").cast("double"), 6))
  }

  /** One training run per (session, corpus, rounds) — family-shared:
    * the train and encode entries read the same triple, so whichever
    * runs first pays the rounds (the dedup_build_pairs attribution
    * discipline); FamilyCache.release() drops it at sweep boundaries.
    * The two frames are per-doc (doc_id, n) token counts before / after
    * the merges (docs with zero tokens excluded — they have no token
    * rows, matching the oracle's long-form counting).
    */
  private def bpeRun(s: SparkSession, dir: String, rounds: Int)
      : (Seq[(Int, String, String, Long, Long)], DataFrame, DataFrame) =
    FamilyCache.side(s, dir, s"bpe$rounds")(bpeRunUncached(s, dir, rounds))

  /** Greedy left-to-right non-overlapping merge of the pair (a, b) — the
    * classic sequential BPE application. Within a run of consecutive
    * matches the pair at position p+1 can only also match when a == b,
    * so greedy L2R lands on exactly the even offsets of each run: the
    * same result as the islands-parity window algebra the SQL oracle
    * replays, computed in one pass with no window shuffles.
    */
  private def mergeKernel(a: String, b: String) = udf { (toks: Array[String]) =>
    val merged = a + "_" + b
    val out = new scala.collection.mutable.ArrayBuffer[String](toks.length)
    var i = 0
    while (i < toks.length) {
      if (i + 1 < toks.length && toks(i) == a && toks(i + 1) == b) {
        out += merged; i += 2
      } else { out += toks(i); i += 1 }
    }
    out.toArray
  }

  private def bpeRunUncached(s: SparkSession, dir: String, rounds: Int)
      : (Seq[(Int, String, String, Long, Long)], DataFrame, DataFrame) = {
    // the corpus stays in per-doc ARRAY form between rounds — each round
    // is then ONE job: pair-count two-phase agg, with the winning rule
    // and the pair-total read off the tiny aggregate in the same action
    // (argmax = min(struct(-c, tok, nxt)) — no TakeOrdered sort), all
    // scans with map-side combine and ZERO sorts, where the
    // (doc, pos, token) long form paid ~4 corpus-sized window shuffles
    // per round. Arrays are doc-sized (bounded), never corpus-sized.
    //
    // Two job classes the first cut paid are gone entirely:
    //  - per-round corpus checkpoints: only 3 merge kernels ever stack,
    //    each a cheap map over the ONE initial checkpoint, so recompute
    //    beats materializing corpus-sized string arrays every round;
    //  - per-round corpus token-count jobs: Σ len_r = Σ(len_r − 1) + |D|
    //    and Σ(len_r − 1) is exactly the NEXT round's pair-count total,
    //    already in its aggregate — only the final round pays a sum job.
    // LAZY checkpoint: the nDocs count right below is the materializing
    // action, so tokenization runs once inside that job instead of
    // paying a separate eager-materialization job first (the r11
    // roundCheckpointLazy pattern; no upstream release is involved here)
    var docs = Tables.documents(s, dir)
      .select(col("doc_id"),
        graft.functions.TextFunctions.tokens(lower(col("text"))).as("toks"))
      .filter(size(col("toks")) > 0)
      .localCheckpoint(eager = false)
    val before = docs.select(col("doc_id"), size(col("toks")).cast("long").as("n"))
    val nDocs = docs.count()
    val rules = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    val pairTotals = scala.collection.mutable.ArrayBuffer.empty[Long]
    var exhausted = false
    for (_ <- 1 to rounds if !exhausted) {
      // adjacent pairs via slice + arrays_zip — fully codegen'd (both are
      // ordinary array expressions, not CodegenFallback higher-order
      // lambdas), beating even the compiled scala UDF by skipping the
      // Tuple2 serializer round-trip per pair
      val aggRow = docs
        .select(explode(arrays_zip(
          slice(col("toks"), lit(1), size(col("toks")) - 1),
          slice(col("toks"), lit(2), size(col("toks")) - 1))).as("p"))
        .groupBy(col("p").getField("0").as("tok"),
          col("p").getField("1").as("nxt"))
        .agg(count(lit(1)).as("c"))
        .agg(min(struct((-col("c")).as("nc"), col("tok"), col("nxt"))).as("m"),
          sum(col("c")).as("s"))
        .head()
      // a corpus can run out of adjacent pairs before `rounds` (every doc
      // merged to a single token, or empty/degenerate input): the global
      // aggregate still returns its one row, but with null min/sum —
      // training is complete, stop learning rules rather than NPE
      if (aggRow.isNullAt(0)) exhausted = true
      else {
        val m = aggRow.getStruct(0)
        val (a, b, c) = (m.getString(1), m.getString(2), -m.getLong(0))
        pairTotals += aggRow.getLong(1)
        rules += ((a, b, c))
        docs = docs
          .select(col("doc_id"), mergeKernel(a, b)(col("toks")).as("toks"))
      }
    }
    val finalRow = docs.agg(sum(size(col("toks")))).head()
    val finalTotal = if (finalRow.isNullAt(0)) 0L else finalRow.getLong(0)
    // corpus size after round r = pair total counted BY round r+1 + |D|
    val learned = rules.zipWithIndex.map { case ((a, b, c), i) =>
      val total =
        if (i + 1 < pairTotals.length) pairTotals(i + 1) + nDocs else finalTotal
      (i + 1, a, b, c, total)
    }
    val after = docs.select(col("doc_id"), size(col("toks")).cast("long").as("n"))
    (learned.toSeq, before, after)
  }
}
