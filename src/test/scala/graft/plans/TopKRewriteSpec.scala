package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SparkTestSession.{sf, spark}

/** Pins the window-top-k → bounded-aggregate rewrite three ways: result
  * equality against the UNREWRITTEN window
  * form (same fixture, same query, plain session), plan shape (the
  * rewritten plan has no Window/sort of the input — the aggregate and
  * the explode are there instead), and scope (shapes the rule must NOT
  * touch keep their Window).
  */
class TopKRewriteSpec extends AnyFunSuite {

  /** Session with the rewrite registered; the shared `spark` stays
    * unregistered so every other suite keeps stock plans (newSession
    * shares the SparkContext but gets its own experimental methods).
    */
  private lazy val rw: SparkSession = {
    val s = spark.newSession()
    TopKRewrite.register(s)
    s
  }

  private def optimized(df: DataFrame): String =
    df.queryExecution.optimizedPlan.toString

  private def topk(s: SparkSession, k: Int): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    s.read.parquet(s"$sf/orders.parquet")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
  }

  test("rewritten top-k equals the window form, row for row") {
    val plain = topk(spark, 3)
    val rewritten = topk(rw, 3)
    assert(optimized(plain).contains("Window"),
      "control broken: the plain session should keep its Window")
    val p = optimized(rewritten)
    assert(!p.contains("Window"), s"rewrite did not fire:\n$p")
    assert(p.contains("graft_topk_rows"), s"expected the bounded aggregate:\n$p")
    assert(plain.count() > 0)
    assert(plain.exceptAll(rewritten).isEmpty &&
      rewritten.exceptAll(plain).isEmpty,
      "rewritten and window top-k disagree")
  }

  test("global top-k (empty partitionBy) rewrites and matches") {
    def global(s: SparkSession) = {
      val w = Window.orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      s.read.parquet(s"$sf/orders.parquet")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 7)
        .select("o_orderkey", "rn")
    }
    val p = optimized(global(rw))
    assert(!p.contains("Window") && p.contains("graft_topk_rows"),
      s"global form should rewrite:\n$p")
    assert(global(spark).exceptAll(global(rw)).isEmpty &&
      global(rw).exceptAll(global(spark)).isEmpty)
  }

  test("rank equality and residual conjuncts survive the rewrite") {
    def q(s: SparkSession) = {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      s.read.parquet(s"$sf/orders.parquet")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 2 && col("o_totalprice") > 1000.0)
        .select("o_custkey", "o_orderkey", "rn")
    }
    val p = optimized(q(rw))
    assert(!p.contains("Window"), s"rn = 2 should rewrite (bound 2):\n$p")
    assert(q(spark).exceptAll(q(rw)).isEmpty &&
      q(rw).exceptAll(q(spark)).isEmpty)
    assert(q(rw).count() > 0, "rn = 2 must keep second-ranked rows")
  }

  test("null order keys rank like the window form") {
    import rw.implicits._
    val df = Seq[(Int, java.lang.Double)](
      (1, 5.0), (1, null), (1, 3.0), (1, 8.0), (2, null), (2, 1.0))
      .toDF("g", "v")
    def q(s: SparkSession, d: DataFrame) = {
      val w = Window.partitionBy("g").orderBy(col("v").desc)
      d.withColumn("rn", row_number().over(w)).filter(col("rn") <= 2)
    }
    // desc => nulls LAST by default; top-2 of group 1 is (8.0, 5.0),
    // group 2 is (1.0, null)
    val out = q(rw, df).orderBy("g", "rn")
      .select("g", "v").collect().map(r => (r.getInt(0), Option(r.get(1))))
    assert(out.toSeq == Seq((1, Some(8.0)), (1, Some(5.0)),
      (2, Some(1.0)), (2, None)))
  }

  test("out-of-scope shapes keep their Window") {
    val orders = rw.read.parquet(s"$sf/orders.parquet")
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    // rank(): tie semantics differ — must not rewrite
    val ranked = orders.withColumn("r", rank().over(w)).filter(col("r") <= 3)
    assert(optimized(ranked).contains("Window"), "rank() must not rewrite")
    // no usable bound on rn
    val parity = orders.withColumn("rn", row_number().over(w))
      .filter(col("rn") % 2 === 0)
    assert(optimized(parity).contains("Window"), "rn % 2 has no bound")
    // k beyond MaxK: the window's sort is the better plan
    val huge = orders.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= (TopKRewrite.MaxK + 1))
    assert(optimized(huge).contains("Window"), "k > MaxK must not rewrite")
    // rank column projected but never bounded — no Filter(rn..), no match
    val unfiltered = orders.withColumn("rn", row_number().over(w)).limit(5)
    assert(optimized(unfiltered).contains("Window"))
  }

  test("the engine's own row_number ≤ k sites rewrite") {
    // committed operators written in the window idiom whose plans stay
    // LAZY (ann_ivf_pq also rewrites, but it materializes via
    // localCheckpoint, so its observable plan is already a LogicalRDD) —
    // the rewrite must catch both, incl. the cast-to-int variants, which
    // SimplifyCasts folds before the rule matches
    Seq("emb_cluster_topics", "emb_outliers").foreach { name =>
      val p = optimized(graft.SparkEntry.queries(name)(rw, sf))
      assert(p.contains("graft_topk_rows"), s"$name did not rewrite:\n$p")
      assert(!p.contains("Window"), s"$name kept a Window:\n$p")
    }
  }

  test("the oracle-gated native entry rewrites; the composed entry keeps its Window") {
    // q68_window_topk_native self-registers on a derived session, the composed form stays stock — on ANY session
    val pNative = optimized(
      graft.operators.Relational.q68WindowTopKNative(spark, sf))
    assert(!pNative.contains("Window") && pNative.contains("graft_topk_rows"))
    val pPlain = optimized(
      graft.operators.Relational.q68WindowTopK(spark, sf))
    assert(pPlain.contains("Window") && !pPlain.contains("graft_topk_rows"))
  }
}
