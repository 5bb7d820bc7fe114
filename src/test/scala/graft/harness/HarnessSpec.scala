package graft.harness

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

class HarnessSpec extends AnyFunSuite {

  test("BenchmarkResults validates measurements") {
    intercept[IllegalArgumentException] { BenchmarkResults(Map.empty) }
    intercept[IllegalArgumentException] {
      BenchmarkResults(Map("x" -> Double.NaN))
    }
    intercept[IllegalArgumentException] {
      BenchmarkResults(Map("x" -> -1.0))
    }
    val ok = BenchmarkResults(Map("total" -> 1.5), Map("k" -> "v"))
    assert(ok.measurements("total") === 1.5)
  }

  test("registry knows all five benchmarks and rejects unknown") {
    assert(BenchmarkRegistry.all.keySet ===
      Set("example_benchmark", "ny_taxi", "ny_taxi_ml", "plasticc", "curation"))
    intercept[IllegalArgumentException] { BenchmarkRegistry.create("nope") }
    assert(BenchmarkRegistry.create("ny_taxi").name === "ny_taxi")
  }

  test("results JSONL round-trip preserves schema fields") {
    val it = Results.Iteration(
      benchmark = "b", backend = "spark", iterationNo = 1, runId = 42L,
      dateIso = "2026-01-01T00:00:00Z",
      hostInfo = Map("node" -> "n\"quote"),
      params = Map("tag" -> "line1\nline2", "ctl" -> "a\tb\u0001"),
      measurements = Seq(Results.Measurement("total", 1.25),
        Results.Measurement("total.load", 0.5)))
    val dir = java.nio.file.Files.createTempDirectory("graft-results")
    val path = dir.resolve("r.jsonl").toString
    Results.append(path, it)
    Results.append(path, it.copy(iterationNo = 2))
    val lines = java.nio.file.Files.readAllLines(java.nio.file.Paths.get(path))
    assert(lines.size === 2)
    // JSON escaping sanity: parse with a strict check for the escaped quote
    assert(lines.get(0).contains("n\\\"quote"))
    assert(lines.get(0).contains("line1\\nline2"))
    assert(lines.get(0).contains("\"duration_s\": 1.25"))
    assert(lines.get(1).contains("\"iteration_no\": 2"))
    // the whole record, byte for byte: sorted keys, escaped quote, newline,
    // tab and control character
    assert(lines.get(0) ===
      """{"benchmark": "b", "backend": "spark", "iteration_no": 1, "run_id": 42, """ +
      """"date": "2026-01-01T00:00:00Z", "host_info": {"node": "n\"quote"}, """ +
      "\"params\": {\"ctl\": \"a\\tb\\u0001\", \"tag\": \"line1\\nline2\"}, " +
      """"measurements": [{"name": "total", "duration_s": 1.25}, """ +
      """{"name": "total.load", "duration_s": 0.5}]}""")
  }

  test("CLI parse covers all flags") {
    val (name, p, save, tag) = BenchmarkRun.parse(Array(
      "ny_taxi", "-data_file", "/d", "-iterations", "3", "-no_ml",
      "-num_threads", "4", "-backend", "lab", "-save_results", "/tmp/x.jsonl",
      "-tag", "t1", "-validation"))
    assert(name === "ny_taxi")
    assert(p.dataDir === "/d" && p.iterations === 3 && p.noMl && p.validation)
    assert(p.numThreads === 4 && p.backend === "lab")
    assert(save.contains("/tmp/x.jsonl") && tag === "t1")
    intercept[IllegalArgumentException] {
      BenchmarkRun.parse(Array("x", "-bogus"))
    }
  }

  test("benchmark-specific flags parse into extra with defaults applied") {
    val (_, p1, _, _) = BenchmarkRun.parse(Array("ny_taxi", "-dfiles_num", "3"))
    assert(p1.extra === Map("dfiles_num" -> "3"))
    val (_, p2, _, _) = BenchmarkRun.parse(Array("ny_taxi"))
    assert(p2.extra === Map("dfiles_num" -> "1")) // declared default
    val (_, p3, _, _) = BenchmarkRun.parse(Array("plasticc", "-gpu_memory", "8"))
    assert(p3.extra === Map("gpu_memory" -> "8"))
    val (_, p4, _, _) = BenchmarkRun.parse(Array("plasticc"))
    assert(p4.extra === Map.empty[String, String]) // no default declared
    // a flag of one benchmark is unknown to another
    intercept[IllegalArgumentException] {
      BenchmarkRun.parse(Array("plasticc", "-dfiles_num", "3"))
    }
  }

  test("gpu_memory -> skip_rows follows the reference formula") {
    val b = new graft.benchmarks.PlasticcBenchmark
    // reference: int((1 - 16/38.4) * n)
    assert(b.computeSkipRows(16, 1000L) === 583L)
    assert(b.computeSkipRows(64, 1000L) === 0L) // budget exceeds data
  }

  test("weighted logloss reads each row's probability at its label") {
    val b = new graft.benchmarks.PlasticcBenchmark
    // classes 0, 2 and 3 present: a label's column is its value, not its
    // position among the present classes
    val probs = Array(
      Array(0.5, 0.1, 0.2, 0.1, 0.1),
      Array(0.1, 0.1, 0.5, 0.2, 0.1),
      Array(0.1, 0.1, 0.1, 0.5, 0.2))
    assert(math.abs(b.weightedLogLoss(Array(0, 2, 3), probs) - math.log(2)) < 1e-12)
  }

  test("SparkBackend.session carries every GraftSession.engineConf entry") {
    // in a fresh JVM: static confs bind at a JVM's first session, and this
    // suite's JVM may hold one a plain builder made
    val jvm = java.lang.management.ManagementFactory.getRuntimeMXBean
    val cmd = Seq(s"${sys.props("java.home")}/bin/java") ++
      jvm.getInputArguments.asScala.filterNot(_.startsWith("-Xmx")) ++
      Seq("-Xmx1g", "-cp", jvm.getClassPath, "graft.harness.SessionConfDump")
    val out = new StringBuilder
    val exit = scala.sys.process.Process(cmd).!(scala.sys.process.ProcessLogger(
      line => out.append(line).append('\n'), _ => ()))
    assert(exit === 0, out)
    val seen = out.toString.linesIterator.collect {
      case l if l.startsWith("conf ") => val Array(k, v) = l.drop(5).split("=", 2); k -> v
    }.toMap
    assert(seen === graft.GraftSession.engineConf)
  }

  test("dfiles_num caps the number of trips CSV files loaded") {
    import graft.operators.SparkTestSession.spark
    val dir = java.nio.file.Files.createTempDirectory("graft-trips")
    // 51 fields in NyTaxiSchema order; trailing empties parse as nulls
    def row(id: Long): String =
      (Seq(id.toString, "VTS", "2020-01-01 00:00:00", "2020-01-01 00:10:00", "N", "1") ++
        Seq.fill(4)("0.0") ++ Seq("2", "1.5") ++ Seq.fill(7)("1.0") ++
        Seq("10.5", "cash", "1.0", "p", "d", "green") ++
        Seq.fill(26)("")).mkString(",")
    java.nio.file.Files.writeString(dir.resolve("trips_xaa.csv"), row(1) + "\n" + row(2) + "\n")
    java.nio.file.Files.writeString(dir.resolve("trips_xab.csv"), row(3) + "\n")
    val bench = new graft.benchmarks.NyTaxiBenchmark
    assert(bench.loadTrips(spark, dir.toString, dfilesNum = 1).count() === 2)
    assert(bench.loadTrips(spark, dir.toString, dfilesNum = 2).count() === 3)
  }

  test("example benchmark runs end-to-end with expected stage names") {
    val res = BenchmarkRegistry.create("example_benchmark")
      .run(RunParams(dataDir = "/root/testdata/sf0.001"))
    assert(res.measurements.keySet ===
      Set("total", "total.load_data", "total.feature_1", "total.feature_2"))
    assert(res.measurements("total") >=
      res.measurements("total.load_data"))
  }

  test("ny_taxi benchmark produces stable validation digests across runs") {
    val params = RunParams(dataDir = "/root/testdata/sf0.001", validation = true)
    val bench = BenchmarkRegistry.create("ny_taxi")
    def digests(r: BenchmarkResults) =
      r.params.filter(_._1.startsWith("validation_"))
    val a = digests(bench.run(params))
    val b = digests(bench.run(params))
    assert(a.keySet === Set("validation_Query1", "validation_Query2",
      "validation_Query3", "validation_Query4"))
    assert(a === b)
  }

  test("embedded-Derby DB sink round-trips iterations and measurements") {
    val dbDir = java.nio.file.Files.createTempDirectory("graft-db")
      .resolve("resultsdb").toString
    val it = Results.Iteration(
      benchmark = "b", backend = "spark", iterationNo = 1, runId = 42L,
      dateIso = "2026-01-01T00:00:00Z",
      hostInfo = Map("node" -> "n1"), params = Map("tag" -> "t"),
      measurements = Seq(Results.Measurement("total", 1.25),
        Results.Measurement("total.load", 0.5)))
    val db = new BenchmarkDb(BenchmarkDb.embeddedUrl(dbDir))
    try {
      db.report(it)
      db.report(it.copy(iterationNo = 2))
      assert(db.count("iteration") === 2L)
      assert(db.count("measurement") === 4L)
    } finally db.close()
    // reopening finds the existing schema and appends
    val db2 = new BenchmarkDb(BenchmarkDb.embeddedUrl(dbDir))
    try {
      db2.report(it.copy(iterationNo = 3))
      assert(db2.count("iteration") === 3L)
    } finally db2.close()
  }

  test("loadData stages fixture files and a benchmark runs from the staged dir") {
    val target = java.nio.file.Files.createTempDirectory("graft-staged").toString
    val bench = BenchmarkRegistry.create("ny_taxi")
    bench.loadData(target, reload = false)
    assert(new java.io.File(target, "lineitem.parquet").exists())
    // second call skips existing files (reference reload semantics)
    bench.loadData(target, reload = false)
    val res = bench.run(RunParams(dataDir = target))
    assert(res.measurements.contains("total.Query1"))
    // example_benchmark declares no data files -> unsupported, as reference
    intercept[UnsupportedOperationException] {
      BenchmarkRegistry.create("example_benchmark").loadData(target, reload = false)
    }
  }

  test("extractTarGz restores archive contents and rejects path traversal") {
    import java.nio.file.{Files, Paths}
    import org.apache.commons.compress.archivers.tar.{TarArchiveEntry, TarArchiveOutputStream}
    def writeArchive(path: String, entries: Seq[(String, String)]): Unit = {
      val out = new TarArchiveOutputStream(new java.util.zip.GZIPOutputStream(
        Files.newOutputStream(Paths.get(path))))
      entries.foreach { case (name, content) =>
        val e = new TarArchiveEntry(name)
        val bytes = content.getBytes("UTF-8")
        e.setSize(bytes.length.toLong)
        out.putArchiveEntry(e)
        out.write(bytes)
        out.closeArchiveEntry()
      }
      out.close()
    }
    val dir = Files.createTempDirectory("graft-tar").toString
    writeArchive(s"$dir/ok.tar.gz",
      Seq("data/2014/trips.csv" -> "a,b\n1,2\n", "readme.txt" -> "hi"))
    val names = DataStaging.extractTarGz(s"$dir/ok.tar.gz", s"$dir/out")
    assert(names === Seq("data/2014/trips.csv", "readme.txt"))
    assert(Files.readString(Paths.get(s"$dir/out/data/2014/trips.csv")) ===
      "a,b\n1,2\n")
    // the reference's guard (ny_taxi_ml.py:314-322): an entry escaping the
    // target dir fails the whole extraction
    writeArchive(s"$dir/evil.tar.gz", Seq("../escape.txt" -> "pwned"))
    val err = intercept[IllegalArgumentException] {
      DataStaging.extractTarGz(s"$dir/evil.tar.gz", s"$dir/out2")
    }
    assert(err.getMessage.contains("Unsafe tar archive"))
    assert(!Files.exists(Paths.get(s"$dir/escape.txt")))
  }

  test("KaggleLoad stages a competition zip, skips when present, guards zip-slip") {
    import java.nio.file.{Files, Paths}
    def writeZip(path: String, entries: Seq[(String, String)]): Unit = {
      val out = new java.util.zip.ZipOutputStream(Files.newOutputStream(Paths.get(path)))
      entries.foreach { case (name, content) =>
        out.putNextEntry(new java.util.zip.ZipEntry(name))
        out.write(content.getBytes("UTF-8"))
        out.closeEntry()
      }
      out.close()
    }
    val src = Files.createTempDirectory("graft-kaggle-src").toString
    val tgt = Files.createTempDirectory("graft-kaggle-tgt").toString
    writeZip(s"$src/plasticc.zip",
      Seq("training_set.csv" -> "id,flux\n1,0.5\n", "meta/test_set_metadata.csv" -> "id\n1\n"))
    val files = KaggleLoad.load("plasticc", tgt, src, reload = false)
    assert(files === Seq("training_set.csv", "meta/test_set_metadata.csv"))
    assert(Files.readString(Paths.get(s"$tgt/training_set.csv")) === "id,flux\n1,0.5\n")
    // second load skips the transfer (reference force=False semantics)
    KaggleLoad.load("plasticc", tgt, "/nonexistent-source", reload = false)
    // zip-slip rejected whole-archive
    writeZip(s"$src/evil.zip", Seq("../escape.txt" -> "pwned"))
    intercept[IllegalArgumentException] {
      KaggleLoad.load("evil", Files.createTempDirectory("graft-evil").toString, src, reload = false)
    }
  }

  test("hostInfo reports basic facts") {
    val h = Results.hostInfo()
    assert(h("cpu_count").toInt > 0)
    assert(h.contains("os"))
  }

  test("memory tracker observes nonzero peak") {
    val mt = new MemoryTracker(sampleIntervalMs = 5)
    mt.start()
    Thread.sleep(30)
    assert(mt.stop() > 0)
  }
}

/** Prints `conf key=value` for each engine conf key as the session
  * `SparkBackend.session` returns sees it; `HarnessSpec` runs it in a
  * fresh JVM.
  */
object SessionConfDump {
  def main(args: Array[String]): Unit = {
    val s = SparkBackend.session(2, "session-conf-dump")
    try graft.GraftSession.engineConf.keys.foreach { k =>
      println(s"conf $k=${s.conf.getOption(k).getOrElse("<unset>")}")
    } finally s.stop()
  }
}
