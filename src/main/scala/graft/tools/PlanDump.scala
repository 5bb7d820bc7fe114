package graft.tools

/** Dev probe: writes `.explain("formatted")` for suite queries to files —
  * the r11 optimization round's plan-evidence artifact
  * (`plans/r11/<query>_{before,after}.txt`). The session is built by the
  * same GraftSession builder as Bench, so the dumped plan is the plan the
  * bench executes (same partition regime, same extensions). The queries
  * are Bench's: every entry, or the SPARK_GRAFT_QUERIES selection.
  *
  * Usage: runMain graft.tools.PlanDump <sfDir> <outDir> <suffix>
  * e.g.   SPARK_GRAFT_QUERIES=graph_kcore runMain graft.tools.PlanDump <sf0.1 dir> plans/r11 before
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: PlanDump <sfDir> <outDir> <suffix>")
    val Array(dir, out, suffix) = args
    val selected = graft.SparkEntry.selected("plandump", graft.SparkEntry.entries)
    val outDir = java.nio.file.Paths.get(out)
    java.nio.file.Files.createDirectories(outDir)
    val spark = graft.GraftSession.builder("graft-plan-dump", graft.GraftSession.cpus, dir)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    selected.foreach { e =>
      val plan = e.run(spark, dir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val f = outDir.resolve(s"${e.name}_$suffix.txt")
      java.nio.file.Files.write(f, plan.getBytes("UTF-8"))
      println(s"[plandump] wrote $f (${plan.length} chars)")
    }
    spark.stop()
  }
}
