package graft.streaming

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession
import graft.operators.SparkTestSession.{sf, spark}

/** Every streaming query runs in a clone of its session. With per-session
  * artifact isolation each clone has its own classloader, and the
  * compiled-class cache is keyed by classloader, so a repeat of the same
  * query recompiled everything. The engine conf turns isolation off; a
  * repeat then compiles nothing.
  */
class CodegenSharingSpec extends AnyFunSuite {

  private val isolation = "spark.sql.artifact.isolation.enabled"

  /** Rows of `StreamOps.streamingDedup` and the classes compiled meanwhile. */
  private def dedup(s: SparkSession): (Seq[String], Long) = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val rows = StreamOps.streamingDedup(s, sf).collect().map(_.toString).sorted.toSeq
    (rows, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before)
  }

  /** The classes the second of two identical runs compiles, on a session
    * built on the shared context with `conf`.
    */
  private def repeatCompiles(conf: Map[String, String]): Long = {
    spark // the shared context the session is built on
    val prevActive = SparkSession.getActiveSession
    val prevDefault = SparkSession.getDefaultSession
    try {
      val s = SparkSession.builder().config(conf).create()
      val (first, _) = dedup(s)
      val (second, compiled) = dedup(s)
      assert(first.nonEmpty)
      assert(second == first)
      compiled
    } finally {
      prevActive.fold(SparkSession.clearActiveSession())(SparkSession.setActiveSession)
      prevDefault.fold(SparkSession.clearDefaultSession())(SparkSession.setDefaultSession)
    }
  }

  test("with the engine's isolation entry a repeated streaming query compiles nothing") {
    assert(repeatCompiles(GraftSession.engineConf.filter(_._1 == isolation)) == 0)
  }

  test("with Spark's default isolation the repeat recompiles") {
    assert(repeatCompiles(Map.empty) > 0)
  }
}
