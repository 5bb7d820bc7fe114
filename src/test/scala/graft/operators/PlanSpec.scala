package graft.operators

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SparkTestSession.{sf, spark}

/** Physical-plan assertions: the plans must stay the plans we want at
  * scale — filters pushed to the parquet scan, two-phase hash aggregation,
  * top-k as TakeOrderedAndProject, no accidental cartesian joins.
  */
class PlanSpec extends AnyFunSuite {

  private def planOf(df: DataFrame): String = {
    spark.conf.set("spark.sql.maxMetadataStringLength", "10000")
    df.queryExecution.toString
  }

  test("no batch query ever plans an unbroadcast cartesian product") {
    // global guard: a CartesianProduct (both sides shuffled to every
    // pairing) is never acceptable at scale; broadcast nested-loop joins
    // are fine only because their build side is a handful of query rows
    graft.SparkEntry.queries
      .filterNot { case (name, _) => name.startsWith("stream_") }
      .foreach { case (name, fn) =>
        val p = planOf(fn(spark, sf))
        assert(!p.contains("CartesianProduct"),
          s"$name plans a CartesianProduct:\n${p.take(1500)}")
      }
  }

  test("q07 conjunctive filter reaches the parquet scan as PushedFilters") {
    val p = planOf(Relational.q07FilterConj(spark, sf))
    assert(p.contains("PushedFilters:"), "no pushdown section in scan")
    assert(p.contains("GreaterThan(l_quantity,1.0)") ||
      p.contains("GreaterThan(l_quantity, 1.0)"),
      s"range predicate not pushed:\n${p.take(2000)}")
  }

  test("q05 multi-agg plans two-phase hash aggregation") {
    val p = planOf(Relational.q05MultiAggSkew(spark, sf))
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      "expected partial + final HashAggregate")
  }

  test("q12 top-k plans TakeOrderedAndProject (no full sort)") {
    val p = planOf(Relational.q12TopK(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), p.take(1500))
  }

  test("q06 join-agg avoids nested-loop/cartesian joins") {
    val p = planOf(Relational.q06JoinAgg(spark, sf))
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("embedding cosine dedup plans no nested-loop or cartesian join") {
    // the lazy plan variant: the public operator eagerly materializes and
    // returns a checkpointed result whose plan is an opaque scan
    val p = planOf(Dedup.embeddingCosinePlan(spark, sf)._1)
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("asof join plans a single per-user window pass, no join operator") {
    for (q <- Seq(Relational.q24AsofJoin _, Relational.q24AsofJoinForward _)) {
      val p = planOf(q(spark, sf))
      assert(!p.contains("Join"), p.take(2000))
      assert(p.contains("Window"), p.take(2000))
    }
  }

  test("dimension join plans broadcast hash joins, fact side unshuffled") {
    val p = planOf(Relational.q26DimJoin(spark, sf))
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p.take(2000))
    assert(!p.contains("SortMergeJoin"), p.take(2000))
  }

  test("decontamination probes a broadcast eval dictionary — corpus unshuffled") {
    val p = planOf(TextOps.decontaminate(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("balanced sampling broadcasts the census — keep decision is map-side") {
    val p = planOf(TextOps.sampleBalanced(spark, sf))
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 1, p.take(2000))
    assert(!p.contains("SortMergeJoin"), p.take(2000))
  }

  test("training manifest composes without nested-loop or cartesian joins") {
    val p = planOf(TextOps.trainingManifest(spark, sf))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("heavy hitters plans two-phase agg + TakeOrdered, no dictionary sort") {
    val p = planOf(TextOps.heavyHitters(spark, sf))
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(2000))
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
  }

  test("repetition filters are a zero-shuffle narrow projection") {
    val p = planOf(TextOps.repetition(spark, sf))
    assert(!p.contains("Window"), p.take(2000))
    assert(!p.contains("HashAggregate"), p.take(2000))
    // the only exchange allowed is Tables' single-row-group repartition
    assert("Exchange".r.findAllIn(p).size <= 1, p.take(2000))
  }

  test("top terms: one term exchange serves tf, df-window needs no join/broadcast") {
    val p = planOf(TextOps.topTerms(spark, sf))
    // df comes from a window over the term-clustered tf — a broadcast of
    // the term dictionary would never survive a 100 TB corpus
    assert(!p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("SortMergeJoin"), p.take(2000))
    // exchanges: the term clustering, the per-doc top-k aggregation, the
    // corpus-count single-partition + broadcast pair (the scalar-subquery
    // shape), and the two documents single-row-group repartitions (docs
    // feeds both the pair explode and the count side) — nothing else,
    // and critically nothing proportional to the term dictionary
    assert("Exchange".r.findAllIn(p).size <= 6, p.take(3000))
  }

  test("dim reduce is a pure projection: no exchange, no aggregate") {
    val p = planOf(Similarity.dimReduce(spark, sf))
    assert(!p.contains("HashAggregate"), p.take(2000))
    // the only exchange allowed is Tables' single-row-group repartition
    assert("Exchange".r.findAllIn(p).size <= 1, p.take(2000))
  }

  test("mixture repetition is map-only: explode fan-out, no exchange, no join") {
    val p = planOf(TextOps.repeatMixture(spark, sf))
    assert(p.contains("Generate"), p.take(2000)) // the sequence explode
    assert(!p.contains("HashAggregate") && !p.contains("SortMergeJoin") &&
      !p.contains("BroadcastHashJoin"), p.take(2000))
    // the only exchange allowed is Tables' single-row-group repartition
    assert("Exchange".r.findAllIn(p).size <= 1, p.take(2000))
  }

  test("pair-pipeline candidates join on the shingle key — no nested loop") {
    // the eager operators return checkpointed (opaque) frames, so pin
    // the shared prefix-join shape via the lazy plan variant — the
    // incremental candidate join reuses the same prefixIndex machinery
    val p = planOf(Dedup.ngramJaccardPlan(spark, sf)._1)
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
  }

  test("bm25 has no hash shuffle: tf in the scan projection, top-k via TakeOrdered") {
    val p = planOf(TextOps.bm25TopK(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
    assert(!p.contains("SortMergeJoin"), p.take(2000))
    // the ONLY data movement is the single-row stats aggregate + its
    // broadcast back and the final k-row rank; a hash repartition would
    // mean tf escaped the scan projection
    assert(!p.contains("Exchange hashpartitioning"), p.take(3000))
  }

  test("lm score joins on the bigram key — count table never broadcasts") {
    // at fixture size Catalyst would (correctly) broadcast the tiny count
    // table; the claim under test is the SCALE shape, so disable the
    // threshold — same technique as BucketingSpec
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = planOf(TextOps.lmScore(spark, sf))
      assert(!p.contains("CartesianProduct"), p.take(3000))
      // the probe join is shuffle-based on the bigram key (a web-scale
      // bigram vocabulary never fits a broadcast)
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        p.take(3000))
      assert(!p.contains("BroadcastHashJoin"), p.take(3000))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("knn graph: corpus-sized bucket join shuffles — never broadcasts; no window") {
    // both join sides are the whole corpus, so the SCALE shape is a
    // shuffled equi-join on the bucket key; disable the threshold to see it
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = planOf(Similarity.knnGraphPlan(spark, sf))
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"), p.take(3000))
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        p.take(3000))
      assert(!p.contains("BroadcastHashJoin"), p.take(3000))
      // top-k per node is the bounded graft_topk aggregate, not a rank window
      assert(!p.contains("Window"), p.take(3000))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("source overlap: pair fan-out from per-shingle source sets, no self-join") {
    val p = planOf(TextOps.sourceOverlap(spark, sf))
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
    assert(p.contains("Generate explode"), p.take(3000))
  }

  test("winnowing: frame-window selection + hash-keyed prints, no nested loop") {
    val p = planOf(TextOps.winnowPairs(spark, sf))
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    assert(p.contains("Window"), p.take(3000))
  }

  test("ivf-pq scores only broadcast-probed cells — no corpus-wide join") {
    val p = planOf(Similarity.annIvfPqPlan(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
  }

  test("diversity sample is one pass + one cell aggregation, no join") {
    val p = planOf(Similarity.sampleDiverse(spark, sf))
    assert(!p.contains("Join"), p.take(3000))
    // min(struct(dist, id)) isn't hash-aggregable: the two-phase shape is
    // partial+final SortAggregate around ONE cell exchange
    assert("SortAggregate".r.findAllIn(p).size >= 2, p.take(3000))
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1, p.take(3000))
  }

  test("temperature sampling broadcasts quotas; rank window per source") {
    val p = planOf(TextOps.sampleTemperature(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
    assert(p.contains("Window"), p.take(3000))
  }

  test("q08 projection prunes the events scan to referenced columns") {
    val p = planOf(Relational.q08DerivedCols(spark, sf))
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("event_type"),
      s"unused column not pruned: $readSchema")
  }

  test("merge upsert is one exchange of two-phase max_by — no window sort") {
    val p = planOf(Relational.q33MergeUpsert(spark, sf))
    // partial + final aggregate around exactly one hash exchange; a window
    // (row_number) formulation would sort the full changelog instead
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1, p.take(3000))
    assert(!p.contains("Window"), p.take(3000))
    assert("Aggregate".r.findAllIn(p).size >= 2, p.take(3000))
  }

  test("snapshot diff is hash-at-scan + one doc_id exchange, no join") {
    val p = planOf(TextOps.snapshotDiff(spark, sf))
    // union + groupBy formulation: no SMJ/BHJ of the two snapshots, and the
    // exchange carries (doc_id, hash, side), never the text column
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      p.take(3000))
    // one content exchange (plus the fixture loader's round-robin split)
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1, p.take(3000))
  }

  test("funnel pushes stage filters to the scan; no window, no nested loop") {
    val p = planOf(Relational.q34Funnel(spark, sf))
    assert(!p.contains("Window") && !p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    // each stage scans only its slice: the event_type filter is pushed
    assert(p.contains("EqualTo(event_type,view)") ||
      p.contains("EqualTo(event_type, view)"), p.take(3000))
  }

  test("unpivot is a zero-extra-shuffle row expansion over the pivot aggregate") {
    val pivotOnly = "Exchange hashpartitioning".r
      .findAllIn(planOf(Relational.q11Pivot(spark, sf))).size
    val p = planOf(Relational.q35Unpivot(spark, sf))
    // the melt adds no exchange beyond what the pivot itself plans
    assert("Exchange hashpartitioning".r.findAllIn(p).size === pivotOnly,
      p.take(3000))
    assert(p.contains("Expand"), p.take(3000))
  }

  test("z-order key is a zero-exchange narrow projection") {
    val p = planOf(Layout.zorderLineitem(spark, sf))
    assert(!p.contains("Exchange"), p.take(3000))
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_quantity"),
      s"unused columns not pruned: $readSchema")
  }

  test("feature scaling: fit broadcast back, the fact side never shuffles") {
    val p = planOf(Features.scaleFeatures(spark, sf))
    // the only exchanges are the scalar moments gather (SinglePartition)
    assert(!p.contains("Exchange hashpartitioning"), p.take(3000))
    assert(p.contains("BroadcastExchange"), p.take(3000))
  }

  test("LOO target encoding joins the fact side by broadcast only") {
    val p = planOf(Features.targetEncodeLoo(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
    // one exchange: the key-cardinality fit aggregate
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1, p.take(3000))
  }

  test("BPE pairs: dictionary compaction then pair agg — two exchanges, no join") {
    val p = planOf(Features.bpePairCounts(spark, sf))
    assert(!p.contains("Join"), p.take(3000))
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 2, p.take(3000))
  }

  test("covariance matrix aggregates in one pass with no hash shuffle") {
    val p = planOf(Similarity.covarianceMatrix(spark, sf))
    assert(!p.contains("Exchange hashpartitioning"), p.take(3000))
    assert(!p.contains("Join"), p.take(3000))
  }

  test("normalize and blocklist are zero-shuffle kernel projections") {
    // the test fixture loader round-robins the tiny corpus; the operators
    // themselves must add no hash shuffle, join, or broadcast
    val docs = graft.Tables.documents(spark, sf)
    Seq(TextOps.normalizeDocs(docs), TextOps.blocklistFilter(docs)).foreach { df =>
      val p = planOf(df)
      assert(!p.contains("Exchange hashpartitioning") &&
        !p.contains("BroadcastExchange") && !p.contains("Join"), p.take(3000))
    }
  }

  test("quantile bucketing: boundaries as literals, one bucket-count exchange") {
    val p = planOf(Relational.q41QuantileBucket(spark, sf))
    // quartiles resolved by the histogram-refinement kernel land as plan
    // literals — no join, no broadcast, no percentile aggregate state
    assert(!p.contains("Join") && !p.contains("percentile"), p.take(3000))
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1, p.take(3000))
  }

  test("triangles: intersect formulation — wedges never materialize as a join") {
    // the r5 rebuild: array_intersect closes wedges INSIDE one row, one
    // broadcast feeds the hi-side adjacency, and no sort-merge join
    // streams wedge rows
    val (plan, adj) = Graph.trianglesPlan(spark, sf)
    try {
      val p = planOf(plan)
      assert(p.contains("array_intersect"), p.take(2000))
      assert(p.contains("BroadcastHashJoin"), p.take(2000))
      assert(!p.contains("SortMergeJoin"),
        s"wedge-streaming join crept back:\n${p.take(2000)}")
    } finally adj.unpersist(false)
  }

  test("q59: date bounds reach the scans; top-10 is TakeOrdered, not a sort") {
    val p = planOf(Relational.q59ShippingPriority(spark, sf))
    // the cast(date) predicates must constant-fold into pushable
    // timestamp comparisons at the parquet scans
    assert(p.contains("PushedFilters"), p.take(2000))
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
    assert(!p.contains("CartesianProduct"))
  }

  test("q60: six-table join shuffles only the order/lineitem spine") {
    val p = planOf(Relational.q60LocalSupplier(spark, sf))
    // every dimension side broadcasts; the single shuffled join is
    // orders ⋈ lineitem plus the final aggregate exchange
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3, p.take(3000))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q55: runtime bloom filter is injected into the fact-side scan") {
    // under the operator's scoped confs the InjectRuntimeFilter rule must
    // compile the dim predicate into a bloom probe on the fact side —
    // visible as bloom_filter_might_contain in the optimized plan
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val df = Relational.q55RuntimeFilterPlan(spark, sf)
      val p = df.queryExecution.optimizedPlan.toString
      assert(p.contains("might_contain") && p.contains("bloom_filter_agg"),
        s"no runtime bloom injected:\n${p.take(3000)}")
    } finally saved.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  test("q55: runtime-filtered result equals the plain join") {
    val filtered = Relational.q55RuntimeFilter(spark, sf)
      .orderBy("l_partkey").collect()
    val plain = Relational.q55RuntimeFilterPlan(spark, sf)
      .orderBy("l_partkey").collect()
    assert(filtered.toSeq === plain.toSeq)
  }
}
