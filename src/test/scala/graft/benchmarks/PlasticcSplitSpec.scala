package graft.benchmarks

import org.scalatest.funsuite.AnyFunSuite

import graft.harness.{BenchmarkRegistry, Fixtures, RunParams, SparkBackend}

/** plasticc's train/test split: train is `sampleBy` over the persisted ETL
  * output, test is the complement filter over the same frame. The filter
  * must select exactly what `exceptAll` would, and train must equal the
  * `sampleBy` built on the class list collected from the data.
  */
class PlasticcSplitSpec extends AnyFunSuite {
  private val fixtures = Fixtures.root
  private lazy val spark = SparkBackend.session(2, "plasticc-split-spec")

  for (sf <- Seq("sf0.001", "sf0.01"))
    test(s"test set is the exact complement of the sampleBy train set on $sf") {
      val b = new PlasticcBenchmark
      val dir = s"$fixtures/$sf"
      val joined = b.etl(b.observations(spark, dir), b.metadata(spark, dir)).persist()
      try {
        val (tr, te) = b.split(joined)
        val rest = joined.exceptAll(tr)
        assert(te.exceptAll(rest).isEmpty && rest.exceptAll(te).isEmpty)
        assert(tr.intersect(te).isEmpty)
        val (n, nTr, nTe) = (joined.count(), tr.count(), te.count())
        assert(nTr > 0 && nTe > 0 && nTr + nTe === n)
        val classes = joined.select("target").distinct().collect().map(_.getInt(0))
        val ref = joined.stat.sampleBy("target", classes.map(c => (c, 0.9)).toMap, 126L)
        assert(tr.exceptAll(ref).isEmpty && ref.exceptAll(tr).isEmpty)
      } finally joined.unpersist()
    }

  test("validation_t_etl on sf0.01 is the pinned value") {
    val res = BenchmarkRegistry.create("plasticc").run(RunParams(
      dataDir = s"$fixtures/sf0.01", noMl = true, validation = true))
    assert(res.params("validation_t_etl") === "15000:-2279553081703905818")
  }
}
