package graft.tools

/** Dev micro-benchmark (r12): graph_triangles' corner-credit emission —
  * struct rows via an interpreted per-edge-row `transform`
  * (CodegenFallback, the r5–r11 form) vs the all-codegen
  * concat/array_repeat unit-credit form. Interleaved reps in one JVM so
  * host noise hits both arms; equality asserted before timing; both
  * lazy plans dumped for the round's evidence (the public operator's
  * checkpoint hides the plan, same as the bucket-verify probe).
  *
  * Usage: runMain graft.tools.TrianglePerf <planDir> <sfDir> [reps]
  */
object TrianglePerf {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: TrianglePerf <planDir> <sfDir> [reps]")
    val Array(planDir, dir) = args.take(2)
    val reps = args.lift(2).map(_.toInt).getOrElse(3)
    val spark = graft.GraftSession.builder("graft-triangle-perf",
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"), dir).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def run(codegen: Boolean): org.apache.spark.sql.DataFrame = {
      val (out, adj) = graft.operators.Graph.trianglesPlan(
        spark, dir, codegenCorners = codegen)
      // time like the public operator: materialize, then drop the
      // intra-call adjacency persist
      try out.localCheckpoint(true) finally adj.unpersist(false)
    }

    // warm the family caches so timings attribute the triangle tail alone
    graft.operators.Graph.buildPairs(spark, dir).count()

    val a = run(false); val b = run(true)
    val diff = a.exceptAll(b).count() + b.exceptAll(a).count()
    println(s"[triperf] mismatches=$diff (must be 0)")
    require(diff == 0, "corner forms diverge — do not time")
    // release the checked results so the timed reps run without them
    graft.operators.CacheLifecycle.release(a); graft.operators.CacheLifecycle.release(b)

    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(planDir))
    def dump(name: String, codegen: Boolean): Unit = {
      val (out, adj) = graft.operators.Graph.trianglesPlan(
        spark, dir, codegenCorners = codegen)
      try java.nio.file.Files.write(java.nio.file.Paths.get(planDir, name),
        out.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode).getBytes("UTF-8"))
      finally adj.unpersist(false)
    }
    dump("graph_triangles_before.txt", codegen = false)
    dump("graph_triangles_after.txt", codegen = true)

    def time(tag: String, codegen: Boolean): Unit = {
      val t0 = System.nanoTime()
      val out = run(codegen)
      println(f"[triperf] $tag ${(System.nanoTime() - t0) / 1e9}%.3f s")
      graft.operators.CacheLifecycle.release(out)
    }
    for (_ <- 1 to reps) {
      time("transform-structs", codegen = false)
      time("codegen-repeat   ", codegen = true)
    }
    spark.stop()
  }
}
