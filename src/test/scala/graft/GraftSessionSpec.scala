package graft

import java.io.RandomAccessFile
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** Spec-pin of the r10 partition regime (SCALE.md "partitions ∝ data"):
  * the session policy that closed the decade-2 superlinear set must not
  * silently revert, and neither may the engine conf every graft session
  * gets. Pure-function checks on the conf maps — no session is built (building one in a shared-JVM suite would leak conf
  * into every other spec via getOrCreate).
  *
  * Fixture sizes come from sparse files (setLength without writing), so
  * the "sf10-shaped" directory costs no disk.
  */
class GraftSessionSpec extends AnyFunSuite {

  private def dirWithParquetBytes(bytes: Long*): String = {
    val d = Files.createTempDirectory("graft_gs_spec").toFile
    d.deleteOnExit()
    bytes.zipWithIndex.foreach { case (b, i) =>
      val f = new java.io.File(d, s"t$i.parquet")
      val raf = new RandomAccessFile(f, "rw")
      try raf.setLength(b) finally raf.close()
      f.deleteOnExit()
    }
    d.getAbsolutePath
  }

  test("at ≤ cores the overlay is partitions=cores only — byte-identical to the r9 regime") {
    // 64 MB of fixture => 12 data partitions < 32 cores => floor at cores
    val conf = GraftSession.scaledConf("32", dirWithParquetBytes(64L << 20))
    assert(conf == Map("spark.sql.shuffle.partitions" -> "32"),
      s"small-fixture overlay must not touch coalescing or scale partitions: $conf")
  }

  test("past cores, partitions scale with fixture bytes at 5 MB per partition") {
    // 2 GiB across two files => 2048 MB / 5 MB = 409 partitions
    val dir = dirWithParquetBytes(1L << 30, 1L << 30)
    val conf = GraftSession.scaledConf("32", dir)
    assert(conf("spark.sql.shuffle.partitions") ==
      ((2048L << 20) / (5L << 20)).toString)
    assert(conf("spark.sql.adaptive.coalescePartitions.enabled") == "false",
      "scaled sessions must disable AQE partition coalescing " +
        "(its floor re-starves fan-out stages — SCALE.md r10 configs C/D)")
  }

  test("the scaling boundary sits exactly at cores") {
    // 160 MB / 5 MB = 32 = cores: NOT past cores, coalescing untouched
    val atCores = GraftSession.scaledConf("32", dirWithParquetBytes(160L << 20))
    assert(atCores == Map("spark.sql.shuffle.partitions" -> "32"))
    // one partition more: coalescing must flip off
    val past = GraftSession.scaledConf("32", dirWithParquetBytes(165L << 20))
    assert(past("spark.sql.shuffle.partitions") == "33")
    assert(past("spark.sql.adaptive.coalescePartitions.enabled") == "false")
  }

  test("non-parquet files do not count toward the sizing") {
    val dir = dirWithParquetBytes(64L << 20)
    val stray = new java.io.File(dir, "notes.txt")
    val raf = new RandomAccessFile(stray, "rw")
    try raf.setLength(4L << 30) finally raf.close()
    stray.deleteOnExit()
    assert(GraftSession.scaledConf("32", dir)
      .apply("spark.sql.shuffle.partitions") == "32")
  }

  test("cpus='*' resolves to the machine's cores instead of throwing") {
    val cores = Runtime.getRuntime.availableProcessors()
    val conf = GraftSession.scaledConf("*", dirWithParquetBytes(1L << 20))
    assert(conf("spark.sql.shuffle.partitions") == cores.toString)
  }

  test("a missing data dir falls back to cores (dev convenience, never a crash)") {
    val conf = GraftSession.scaledConf("32", "/nonexistent/graft/dir")
    assert(conf == Map("spark.sql.shuffle.partitions" -> "32"))
  }

  test("the engine conf is pinned entry by entry") {
    assert(GraftSession.engineConf == Map(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "500000",
      // no fork per chmod/readlink on file: paths
      "spark.hadoop.fs.file.impl" -> classOf[graft.fs.NioLocalFileSystem].getName,
      "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[graft.fs.NioLocalFs].getName,
      // one classloader, so one compiled class per plan across query sessions
      "spark.sql.artifact.isolation.enabled" -> "false",
      "spark.sql.codegen.cache.maxEntries" -> "512",
      // broadcast chunks below G1's humongous threshold (half a 2 MB region)
      "spark.broadcast.blockSize" -> "512k"))
  }
}
