package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** The `private[sql]` touch points graft's code needs: read a
  * DataFrame's resolved plan, add an optimizer rule to a live session,
  * and convert between a `Column` and the Catalyst expression it wraps
  * (the typed constructors of `graft.expressions` build their Columns
  * this way). Everything else in `graft.plans` uses public/DeveloperApi
  * Catalyst surfaces.
  */
object GraftSqlShims {

  /** The analyzed (resolved-attribute) plan of a DataFrame. */
  def analyzed(df: DataFrame): LogicalPlan =
    df.asInstanceOf[classic.Dataset[Row]].queryExecution.analyzed

  /** A Column over a Catalyst expression. */
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  /** The Catalyst expression a Column wraps. */
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Idempotently register an extra optimizer rule on a live session —
    * extraOptimizations run AFTER the built-in batches, so the rule sees
    * pruned, pushed-down, fixed-pointed plans.
    */
  def addOptimization(spark: SparkSession,
                      rule: org.apache.spark.sql.catalyst.rules.Rule[LogicalPlan]): Unit = {
    val exp = spark.asInstanceOf[classic.SparkSession].experimental
    exp.synchronized {
      if (!exp.extraOptimizations.contains(rule))
        exp.extraOptimizations = exp.extraOptimizations :+ rule
    }
  }
}
