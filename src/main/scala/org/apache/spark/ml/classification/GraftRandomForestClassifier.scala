package org.apache.spark.ml.classification

import org.apache.spark.ml.tree.impl.GraftRandomForest
import org.apache.spark.ml.util.{DatasetUtils, Identifiable, MetadataUtils}
import org.apache.spark.ml.util.Instrumentation.instrumented
import org.apache.spark.mllib.tree.configuration.{Algo => OldAlgo}
import org.apache.spark.sql.Dataset

/** `RandomForestClassifier` trained by [[GraftRandomForest]], whose
  * tree-level jobs use every task slot; without a weight column the model
  * equals the stock fit's.
  * `train` repeats `RandomForestClassifier.train` (Spark 4.1.2) with that
  * call changed and no training summary: building one broadcasts the
  * model to transform the whole training set, and nothing reads it, so
  * `hasSummary` is false. Lives in Spark's package to reach the
  * `private[ml]` model constructor and instance extraction.
  */
class GraftRandomForestClassifier(override val uid: String)
    extends RandomForestClassifier(uid) {

  def this() = this(Identifiable.randomUID("rfc"))

  override protected def train(
      dataset: Dataset[_]): RandomForestClassificationModel = instrumented { instr =>
    instr.logPipelineStage(this)
    instr.logDataset(dataset)
    val categoricalFeatures =
      MetadataUtils.getCategoricalFeatures(dataset.schema($(featuresCol)))
    val numClasses = getNumClasses(dataset)
    if (isDefined(thresholds)) {
      require($(thresholds).length == numClasses, this.getClass.getSimpleName +
        ".train() called with non-matching numClasses and thresholds.length." +
        s" numClasses=$numClasses, but thresholds has length ${$(thresholds).length}")
    }
    val instances = DatasetUtils.extractInstances(this, dataset, Some(numClasses))
      .setName("training instances")
    val strategy =
      getOldStrategy(categoricalFeatures, numClasses, OldAlgo.Classification, getOldImpurity)
    strategy.bootstrap = $(bootstrap)
    instr.logParams(this, labelCol, featuresCol, weightCol, predictionCol, probabilityCol,
      rawPredictionCol, leafCol, impurity, numTrees, featureSubsetStrategy, maxDepth, maxBins,
      maxMemoryInMB, minInfoGain, minInstancesPerNode, minWeightFractionPerNode, seed,
      subsamplingRate, thresholds, cacheNodeIds, checkpointInterval, bootstrap)

    val trees = GraftRandomForest
      .run(instances, strategy, getNumTrees, getFeatureSubsetStrategy, getSeed, Some(instr))
      .map(_.asInstanceOf[DecisionTreeClassificationModel])
    trees.foreach(copyValues(_))

    val numFeatures = trees.head.numFeatures
    instr.logNumClasses(numClasses)
    instr.logNumFeatures(numFeatures)
    copyValues(new RandomForestClassificationModel(uid, trees, numFeatures, numClasses))
  }
}
