package graft.harness

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.benchmarks.NyTaxiBenchmark
import graft.operators.Lake

/** Each harness fence is one pass over the partitions: a load is one job,
  * a stage result costs its own stages plus one job, and each fence runs
  * inside one SQL execution. Lake reads take their schema from the
  * manifest and run no job.
  */
class FenceJobsSpec extends AnyFunSuite {
  private val fixtures = Fixtures.root
  private lazy val spark = SparkBackend.session(2, "fence-jobs-spec")

  /** The result of `body`, the SQL execution id of each job it ran, and
    * the ids of the SQL executions it started.
    */
  private def traced[T](body: => T): (T, Seq[String], Seq[Long]) = {
    val sc = spark.sparkContext
    val jobs = new ConcurrentLinkedQueue[String]
    val executions = new ConcurrentLinkedQueue[Long]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add(String.valueOf(e.properties.getProperty(SQLExecution.EXECUTION_ID_KEY)))
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => executions.add(s.executionId)
        case _ =>
      }
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try {
      val result = body
      ListenerBusDrain(sc)
      (result, jobs.asScala.toSeq, executions.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }

  test("triggerLoading runs one job and stores every partition of the cache") {
    val df = spark.range(0, 1000, 1, 3).select(col("id"), (col("id") % 7).as("m"))
    df.collect() // plans the frame before the persist
    val before = spark.sparkContext.getRDDStorageInfo.map(_.id).toSet
    val (cached, jobs, executions) = traced(SparkBackend.triggerLoading(df))
    try {
      assert(jobs.size === 1)
      assert(executions.size === 1 && jobs === executions.map(_.toString))
      val stored = spark.sparkContext.getRDDStorageInfo.filterNot(i => before(i.id))
      assert(stored.length === 1)
      assert(stored(0).numPartitions === 3)
      assert(stored(0).numCachedPartitions === 3)
    } finally cached.unpersist(blocking = true)
  }

  test("triggerExecution of ny_taxi Query2 runs 2 jobs inside 1 SQL execution") {
    val b = new NyTaxiBenchmark
    val trips = SparkBackend.triggerLoading(b.loadTrips(spark, s"$fixtures/sf0.001"))
    try {
      val q2 = b.queries(trips).toMap.apply("Query2")
      val ((rows, _), jobs, executions) = traced(SparkBackend.triggerExecution(q2))
      assert(rows > 0)
      assert(executions.size === 1)
      assert(jobs === Seq.fill(2)(executions.head.toString))
    } finally trips.unpersist(blocking = true)
  }

  test("Lake.readVersion runs no job") {
    import spark.implicits._
    val table = Files.createTempDirectory("graft_fence_jobs_lake_")
    try {
      Lake.commit(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), table, 1)
      val (df, jobs, _) = traced(Lake.readVersion(spark, table, 1))
      assert(jobs.isEmpty)
      assert(df.orderBy("k").as[(Long, String)].collect().toSeq === Seq((1L, "a"), (2L, "b")))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(table.toFile)
  }

  test("a map column's digest does not depend on the order of its entries") {
    val ab = spark.range(5).select(col("id"),
      map(lit("a"), col("id"), lit("b"), col("id") * 2).as("m"))
    val ba = spark.range(5).select(col("id"),
      map(lit("b"), col("id") * 2, lit("a"), col("id")).as("m"))
    val other = spark.range(5).select(col("id"),
      map(lit("a"), col("id"), lit("b"), col("id") * 3).as("m"))
    assert(SparkBackend.triggerExecution(ab) === SparkBackend.triggerExecution(ba))
    assert(SparkBackend.triggerExecution(ab)._1 === 5L)
    assert(SparkBackend.triggerExecution(ab) !== SparkBackend.triggerExecution(other))
  }
}
