package graft.harness

/** The fixture root the specs read: the parent of the harness CLI's
  * default data directory, which holds one directory per scale factor.
  */
object Fixtures {
  val root: String =
    new java.io.File(BenchmarkRun.parse(Array("example_benchmark"))._2.dataDir).getParent
}
