package perfbench

import graft.{GraftSession, SparkEntry}

/** Shows what the fence evaluates, for the benchmark's tests: prints one
  * JSON line telling whether the physical plan of an op under `count()`
  * and under the [[Fence]] still contains a given expression.
  *
  * Usage: FenceCheck <data dir> <op> <expression name>
  */
object FenceCheck {
  def main(args: Array[String]): Unit = {
    val Array(data, op, expression) = args
    val spark = GraftSession.builder("perfbench-fence-check", "2", data).getOrCreate()
    try {
      val df = SparkEntry.queries(op)(spark, data)
      def has(plan: org.apache.spark.sql.DataFrame): Boolean =
        plan.queryExecution.executedPlan.toString.contains(expression)
      val (rows, _) = Fence(df)
      println(RecordFile.json(Map(
        "count_plan_has" -> has(df.groupBy().count()),
        "fence_plan_has" -> has(Fence.fenced(df)),
        "rows" -> rows,
        "count" -> df.count())))
    } finally spark.stop()
  }
}
