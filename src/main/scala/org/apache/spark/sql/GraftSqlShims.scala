package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** The two `private[sql]` touch points graft's plan-level code needs:
  * read a DataFrame's resolved plan, and add an optimizer rule to a live
  * session. Everything else in `graft.plans` uses public/DeveloperApi
  * Catalyst surfaces.
  */
object GraftSqlShims {

  /** The analyzed (resolved-attribute) plan of a DataFrame. */
  def analyzed(df: DataFrame): LogicalPlan =
    df.asInstanceOf[classic.Dataset[Row]].queryExecution.analyzed

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
