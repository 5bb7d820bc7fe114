package org.apache.spark.ml.tree.impl

import org.apache.spark.ml.feature.Instance
import org.apache.spark.ml.tree.{DecisionTreeModel, TreeConfig}
import org.apache.spark.ml.util.Instrumentation
import org.apache.spark.mllib.tree.configuration.{Strategy => OldStrategy}
import org.apache.spark.rdd.RDD
import org.apache.spark.storage.StorageLevel

/** `RandomForest.run` whose tree-level jobs use every task slot.
  *
  * The stock run keeps the input's partitioning through all training: a
  * training set of 2 partitions on 4 slots runs every level's statistics
  * job and its `reduceByKey` as 2 tasks. This run repeats
  * `RandomForest.run` (Spark 4.1.2) step by step on the input as
  * partitioned — metadata, split candidates, binning and the seeded
  * Poisson bagging all see what the stock run sees — and only then spreads
  * the bagged points over `defaultParallelism` partitions before
  * `RandomForest.runBagged`. The instances are persisted for the run: the
  * metadata scan, the split sample and the binning each read them, and
  * the stock run recomputes them from its input every time. Each point
  * carries its per-tree sample counts
  * through the shuffle. With unit instance weights (no weight column, as
  * in plasticc) the class statistics are sums of integer-valued doubles,
  * exact in any merge order, so the trees equal the stock run's
  * (`GraftRandomForestSpec` compares them); fractional weights can round
  * differently.
  *
  * Lives in Spark's package to reach `RandomForest.findSplits`
  * (`protected[tree]`) and the other `private[spark]` tree internals.
  */
private[spark] object GraftRandomForest {

  def run(
      input: RDD[Instance],
      strategy: OldStrategy,
      numTrees: Int,
      featureSubsetStrategy: String,
      seed: Long,
      instr: Option[Instrumentation]): Array[DecisionTreeModel] = {
    val retaggedInput = input.retag(classOf[Instance])
      .persist(StorageLevel.MEMORY_AND_DISK).setName("training instances")
    val metadata = DecisionTreeMetadata.buildMetadata(
      retaggedInput, strategy, numTrees, featureSubsetStrategy)
    val splits = RandomForest.findSplits(retaggedInput, metadata, seed)
    val treeInput = TreePoint.convertToTreeRDD(retaggedInput, splits, metadata)
    val bcSplits = input.sparkContext.broadcast(splits)
    val bagged = BaggedPoint.convertToBaggedRDD(treeInput, strategy.subsamplingRate,
      numTrees, strategy.bootstrap, (tp: TreePoint) => tp.weight, seed = seed)
    // the sample counts are drawn; now one partition per slot
    val slots = input.sparkContext.defaultParallelism
    val baggedInput =
      (if (bagged.getNumPartitions < slots) bagged.repartition(slots) else bagged)
        .persist(StorageLevel.MEMORY_AND_DISK).setName("bagged tree points")
    val trees = RandomForest.runBagged(baggedInput, metadata, bcSplits, strategy,
      numTrees, featureSubsetStrategy, seed, instr,
      earlyStopModelSizeThresholdInBytes = TreeConfig.trainingEarlyStopModelSizeThresholdInBytes)
    baggedInput.unpersist()
    retaggedInput.unpersist()
    bcSplits.destroy()
    trees
  }
}
