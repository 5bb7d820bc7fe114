package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.types.IntegerType

import graft.expressions.{BitmapAgg, BottomKAgg, CountMinAgg, DotProduct, HllAgg, MinHashAgg, ModeAgg, SimHashAgg, TopKAgg}

/** SparkSessionExtensions entry point: registers graft's native functions
  * at session build time, so a cluster deployment enables them with
  *
  *   spark.sql.extensions=graft.plans.GraftExtensions
  *
  * (no driver code changes, works from pure-SQL clients too). The
  * programmatic `DotProduct.register` path stays for embedded use; this is
  * the configuration-driven equivalent — injected functions land in every
  * session the builder creates, including Thrift/Connect sessions.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "graft_dot takes exactly 2 arguments")
        DotProduct(children.head, children(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_minhash"),
      new ExpressionInfo(classOf[MinHashAgg].getName, "graft_minhash"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "graft_minhash takes exactly 1 argument")
        MinHashAgg(children.head, numPerm = 32)
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_simhash"),
      new ExpressionInfo(classOf[SimHashAgg].getName, "graft_simhash"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "graft_simhash takes exactly 1 argument")
        SimHashAgg(children.head)
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_topk"),
      new ExpressionInfo(classOf[TopKAgg].getName, "graft_topk"),
      (children: Seq[Expression]) => {
        require(children.length == 3, "graft_topk takes (score, id, k)")
        val k = children(2) match {
          case Literal(v: Int, IntegerType) => v
          case other => throw new IllegalArgumentException(
            s"graft_topk k must be an int literal, got $other")
        }
        TopKAgg(children.head, children(1), k)
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_cms"),
      new ExpressionInfo(classOf[CountMinAgg].getName, "graft_cms"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "graft_cms takes exactly 1 argument")
        CountMinAgg(children.head, CountMinAgg.DefaultDepth, CountMinAgg.DefaultWidth)
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_hll"),
      new ExpressionInfo(classOf[HllAgg].getName, "graft_hll"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "graft_hll takes exactly 1 argument")
        HllAgg(children.head, HllAgg.DefaultP)
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_bitmap"),
      new ExpressionInfo(classOf[BitmapAgg].getName, "graft_bitmap"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "graft_bitmap takes exactly 1 argument")
        BitmapAgg(children.head)
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_mode"),
      new ExpressionInfo(classOf[ModeAgg].getName, "graft_mode"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "graft_mode takes exactly 1 argument")
        ModeAgg(children.head)
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_bottomk"),
      new ExpressionInfo(classOf[BottomKAgg].getName, "graft_bottomk"),
      (children: Seq[Expression]) => {
        require(children.length == 3, "graft_bottomk takes (key, id, k)")
        val k = children(2) match {
          case Literal(v: Int, IntegerType) => v
          case other => throw new IllegalArgumentException(
            s"graft_bottomk k must be an int literal, got $other")
        }
        BottomKAgg(children.head, children(1), k)
      }))
    // The window top-k → bounded aggregate rewrite is deliberately NOT
    // injected here: the r11 three-decade A/B (SCALE.md) measured the
    // stock WindowGroupLimit + codegen sort AHEAD of the object-aggregate
    // path at every local scale (sf0.1 0.49 vs 0.68 s, sf1 tie, sf10
    // 10.1 vs 12.2 s on q68) — the rewrite's win condition is sorts that
    // SPILL, which fixture-scale partitions never do. A session opts in
    // with TopKRewrite.register; the rewritten path stays oracle-gated
    // through q68_window_topk_native and spec-pinned equal
    // (TopKRewriteSpec).
  }
}
