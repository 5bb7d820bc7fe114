package graft.benchmarks

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.ml.classification.{GraftRandomForestClassifier, RandomForestClassifier}
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerStageCompleted, StageInfo}
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.harness.Fixtures
import graft.operators.SparkTestSession.spark

/** `GraftRandomForestClassifier` against the stock `RandomForestClassifier`
  * with plasticc's `t_ml` parameters on plasticc's train and test sets:
  * every tree prints the same and every test-set probability is the same
  * double, whether the training input has fewer partitions than slots (the
  * bagged points are spread) or not (nothing moves). A listener shows the
  * tree-level stages run one task per slot either way, where stock runs
  * one per input partition.
  */
class GraftRandomForestSpec extends AnyFunSuite {
  private val b = new PlasticcBenchmark
  private lazy val slots = spark.sparkContext.defaultParallelism

  /** The result of `body` and the stages that completed while it ran. */
  private def stagesOf[T](body: => T): (T, Seq[StageInfo]) = {
    val sc = spark.sparkContext
    val stages = new ConcurrentLinkedQueue[StageInfo]
    val ended = ConcurrentHashMap.newKeySet[Int]()
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.add(e.stageInfo)
      override def onJobEnd(e: SparkListenerJobEnd): Unit = ended.add(e.jobId)
    }
    val group = s"forest-spec-${System.nanoTime}"
    sc.addSparkListener(listener)
    sc.setJobGroup(group, group)
    try {
      val result = body
      // a job's stage events reach the listener before its end event
      val jobs = sc.statusTracker.getJobIdsForGroup(group)
      val deadline = System.nanoTime + 60L * 1000000000L
      while (!jobs.forall(ended.contains) && System.nanoTime < deadline) Thread.sleep(10)
      assert(jobs.forall(ended.contains), "listener events did not arrive")
      (result, stages.asScala.toSeq)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  /** Trees as printed, test-set probabilities as bits, and the task count
    * of each tree-level stage: the stages over the bagged points (named
    * by RandomForest) and the `reduceByKey` stages after them.
    */
  private def fit(rf: RandomForestClassifier, train: DataFrame, test: DataFrame)
      : (Seq[String], Seq[Seq[Long]], Seq[Int]) = {
    val (model, stages) = stagesOf(b.forest(rf).fit(train))
    val bagged = stages.filter(_.rddInfos.exists(_.name == "bagged tree points"))
      .map(_.stageId).toSet
    val levelTasks = stages
      .filter(s => bagged(s.stageId) || s.parentIds.exists(bagged)).map(_.numTasks)
    val probs = model.transform(test).select("probability").collect().toSeq
      .map(_.getAs[Vector](0).toArray.toSeq.map(java.lang.Double.doubleToRawLongBits))
    // a tree's header names its random uid; the rest is the tree
    (model.trees.map(_.toDebugString.replaceFirst("uid=[^,]*, ", "")).toSeq, probs, levelTasks)
  }

  for (sf <- Seq("sf0.001", "sf0.01")) {
    /** Graft against stock on plasticc's `sf` train set laid out by
      * `layout`: the level stages' task counts, stock's then graft's.
      */
    def compare(layout: DataFrame => DataFrame): (Seq[Int], Seq[Int]) = {
      val dir = s"${Fixtures.root}/$sf"
      val joined = b.etl(b.observations(spark, dir), b.metadata(spark, dir)).persist()
      val (tr, te) = b.split(joined)
      val asm = b.assembler(tr)
      val (train, test) = (layout(asm.transform(tr)).persist(), asm.transform(te).persist())
      try {
        assert(train.count() > 0)
        val (stockTrees, stockProbs, stockTasks) = fit(new RandomForestClassifier, train, test)
        val (graftTrees, graftProbs, graftTasks) = fit(new GraftRandomForestClassifier, train, test)
        assert(graftTrees.size === 30)
        graftTrees.zip(stockTrees).zipWithIndex.foreach { case ((g, s), i) =>
          assert(g === s, s"tree $i differs") }
        assert(graftProbs.nonEmpty && graftProbs === stockProbs)
        // one statistics stage and its reduce per level, depth 8
        assert(graftTasks.size >= 2 * 8 && graftTasks.size === stockTasks.size)
        (stockTasks, graftTasks)
      } finally Seq(train, test, joined).foreach(_.unpersist())
    }

    test(s"on $sf a 1-partition input is spread over every slot and the forest equals stock's") {
      val (stockTasks, graftTasks) = compare(_.coalesce(1))
      assert(stockTasks.forall(_ == 1), stockTasks)
      assert(graftTasks.forall(_ == slots), graftTasks)
    }

    test(s"on $sf an input of one partition per slot is not moved and the forest equals stock's") {
      val (stockTasks, graftTasks) = compare(_.repartition(slots))
      assert(stockTasks.forall(_ == slots), stockTasks)
      assert(graftTasks === stockTasks)
    }
  }
}
