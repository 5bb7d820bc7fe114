package graft.operators

import org.apache.spark.sql.DataFrame

/** Persist-lifecycle helper for operators whose plan consumes a shared
  * intermediate more than once (self-joins, candidate-generate + verify).
  *
  * The round-2 lesson: a `.persist()` with no matching release pins
  * executor storage memory for the rest of the job — locally it shows up
  * as cache-eviction/GC churn taxing every later query; on a 1000-executor
  * cluster it is storage memory lost to the whole pipeline. So operators
  * that persist intermediates must bound their footprint to their RESULT:
  *
  *  1. persist the shared intermediates (working set, input-sized);
  *  2. eagerly materialize the result with `localCheckpoint` — this
  *     truncates lineage, so the released intermediates can never be
  *     silently recomputed by a downstream action;
  *  3. unpersist the intermediates before returning.
  *
  * The contract: `result` must be output-sized (near-dup pairs, top-k
  * lists, per-entity summaries — all vanishing fractions of the input by
  * construction), because the checkpoint keeps it in executor storage
  * until the DataFrame is garbage-collected.
  */
private[graft] object CacheLifecycle {

  def materialize(result: DataFrame, shared: DataFrame*): DataFrame = {
    shared.foreach(_.persist())
    try result.localCheckpoint(eager = true)
    finally shared.foreach(_.unpersist(blocking = false))
  }

  /** Storage level for the ITERATIVE families' per-round checkpoints
    * (pagerank / label-prop / k-core / CC contraction): DISK_ONLY, the
    * r11 three-arm A/B's winner (SCALE.md r11). At a heap sized to the
    * FAMILY caches (the r10 16 g rule) MEMORY_AND_DISK round blocks
    * compete with resident caches, so the iterative family pays
    * eviction churn that scales with its per-round state — at sf10 that
    * was graph_kcore 370 s (16 g ctrl) and 480 s at 24 g (the G1
    * pathology starts below the measured ≥30 g mark) vs 164 s
    * DISK_ONLY. A round block's only consumer is the NEXT round, so it
    * reads back once through the OS page cache; even at sf0.1 the disk
    * route measured at-or-faster (4.81 → 4.33 s kcore) because the
    * blocks skip the storage pool entirely.
    */
  private val roundLevel = org.apache.spark.storage.StorageLevel.DISK_ONLY

  /** RDD.doCheckpoint stops at the FIRST checkpoint-marked RDD it meets
    * unless `spark.checkpoint.checkpointAllMarkedAncestors` is set — so a
    * covering action over STACKED lazy checkpoints (k-core's lazy degree
    * frame over the lazy edge frame) would finalize only the top one: the
    * ancestor's lineage stays untruncated, its released upstream blocks
    * stay referenced by live lineage (block loss becomes a hard failure
    * instead of a recompute), and RDD retention grows with round count
    * (r11 ADVICE, medium). The flag is a thread-LOCAL property captured at
    * RDD CONSTRUCTION (verified against the 4.1.2 bytecode: a private
    * final field read from `sc.getLocalProperty` in the constructor), not
    * a SparkConf — so both helpers set it on the calling thread, which in
    * every loop is also the thread that builds and runs the covering
    * action. Idempotent and sticky per thread; it only affects RDDs that
    * were explicitly marked for checkpointing, i.e. exactly the round
    * frames routed through here.
    */
  private def markAllAncestors(df: DataFrame): Unit =
    df.sparkSession.sparkContext.setLocalProperty(
      "spark.checkpoint.checkpointAllMarkedAncestors", "true")

  /** Eager per-round checkpoint at the configured level — the drop-in
    * for `.localCheckpoint(true)` inside iterative loops. Results and
    * family caches keep the default level; only superseded-per-round
    * state routes through here.
    */
  def roundCheckpoint(df: DataFrame): DataFrame = {
    markAllAncestors(df)
    df.localCheckpoint(eager = true, storageLevel = roundLevel)
  }

  /** LAZY round checkpoint for loops whose very next statement runs an
    * aggregate action over the frame (k-core's per-round degree table,
    * the CC loops' per-round edge/label sets feeding their fixpoint
    * probes): that action's own job computes every partition and
    * persists it (LocalRDDCheckpointData materializes any partition the
    * job missed at job end), so the separate eager-materialization job —
    * one scheduler round-trip per round, ~0.1–0.3 s each at fixture
    * scale (r11 job counts) and a redundant cached read of the frame
    * at any scale — disappears, while lineage truncation and block
    * release work exactly as in [[roundCheckpoint]].
    *
    * CONTRACT (stricter than the eager form): the caller must run an
    * action covering the frame BEFORE (a) releasing any upstream
    * checkpoint the frame's plan still references, and (b) handing the
    * frame to consumers that scan it more than once concurrently
    * (parallel union branches would race to compute the same partitions
    * twice). Loops that release the superseded round right after
    * creating the next one (pagerank, label propagation) must keep the
    * eager form.
    *
    * Stacked lazy checkpoints (one lazy frame derived from another, one
    * covering action over both) finalize correctly because
    * [[markAllAncestors]] turns on ancestor finalization for the calling
    * thread — CacheLifecycleSpec pins the two-deep stack.
    */
  def roundCheckpointLazy(df: DataFrame): DataFrame = {
    markAllAncestors(df)
    df.localCheckpoint(eager = false, storageLevel = roundLevel)
  }

  /** Explicitly free the block storage behind a `localCheckpoint`ed
    * frame. `Dataset.unpersist` does NOT release checkpoint blocks —
    * they are RDD-persisted outside the cache manager — so without this
    * every superseded per-round checkpoint in an iterative loop
    * (pagerank / label-prop / k-core / CC contraction) lingers until the
    * weak-reference ContextCleaner happens to collect the RDD object.
    * Across a 200-query single-JVM sweep that is unbounded storage
    * churn: superseded rounds' blocks squeeze the storage pool and tax
    * every later query's GC (the r7 driver-bench pathology).
    *
    * CONTRACT: call only on a frame returned by `localCheckpoint` whose
    * every consumer has already materialized — a released local
    * checkpoint cannot be recomputed (lineage is truncated), so any
    * later action on it fails with missing blocks. Never call it on
    * family-cache frames (shared across queries).
    */
  def release(df: DataFrame): Unit =
    org.apache.spark.sql.GraftSqlShims.analyzed(df).foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }
}
