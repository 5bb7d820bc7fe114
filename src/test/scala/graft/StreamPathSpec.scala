package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.{col, lit}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SparkTestSession.spark

/** Streaming has one source, one drain and one fixture-file writer. How a
  * finite fixture becomes a stream is `Tables.stream` (and
  * `StreamOps.stagedStream` for staged batch files); which sink a query
  * drains into is `StreamOps.drain`, except for the three drains that
  * state their reason beside them. A second hand-built copy of either
  * would let the two policies drift apart entry by entry.
  */
class StreamPathSpec extends AnyFunSuite {

  private val memberDef = "^  (?:private(?:\\[\\w+\\])? |override )?def (\\w+)".r.unanchored
  private val topLevel =
    "^(?:private\\[\\w+\\] )?(?:case )?(?:object|class|trait) (\\w+)".r.unanchored

  /** `Object.member` of every src/main code line holding `token`, one per
    * line (comment lines skipped).
    */
  private def sites(token: String): Seq[String] = {
    val sources = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(sources.nonEmpty, "src/main not found from the working directory")
    sources.flatMap { p =>
      var owner = ""
      var member = ""
      Files.readAllLines(p).asScala.flatMap { line =>
        line match {
          case topLevel(o) => owner = o; member = ""
          case memberDef(d) => member = d
          case _ =>
        }
        val t = line.trim
        val comment = t.startsWith("*") || t.startsWith("/*") || t.startsWith("//")
        if (!comment && line.contains(token)) Some(s"$owner.$member") else None
      }
    }.sorted
  }

  private val declaredDrains = Seq(
    "Sessionize.streaming", "StreamOps.drain",
    "StreamOps.streamLakeUpsert", "StreamOps.streamSegmentSource")

  test("src/main starts a stream only in StreamOps.drain and the three declared drains") {
    assert(sites("writeStream") == declaredDrains)
    val drained = sites("processAllAvailable")
    assert(drained.nonEmpty && drained.toSet.subsetOf(declaredDrains.toSet),
      drained.mkString(", "))
  }

  test("src/main builds a fixture file stream only in Tables.stream") {
    assert(sites("\"pathGlobFilter\"") == Seq("Tables.stream"))
  }

  test("Tables.writeFile leaves one <t>.parquet file and no staging dir, 0 rows too") {
    val dir = Files.createTempDirectory("graft_writefile_")
    def listing(): Seq[String] = {
      val l = Files.list(dir)
      try l.iterator().asScala.map(_.getFileName.toString).toSeq.sorted
      finally l.close()
    }
    try {
      val df = spark.range(7).select(col("id"), (col("id") * 1.5).as("v"),
        lit("x").as("s"))
      for ((frame, n) <- Seq(df -> 7L, df.limit(0) -> 0L)) {
        val target: Path = dir.resolve("t.parquet")
        Tables.writeFile(frame, target)
        assert(Files.isRegularFile(target))
        assert(listing() == Seq("t.parquet"))
        val back = spark.read.parquet(target.toString)
        assert(back.schema.map(f => f.name -> f.dataType) ==
          df.schema.map(f => f.name -> f.dataType))
        assert(back.count() == n)
        assert(back.exceptAll(frame).isEmpty && frame.exceptAll(back).isEmpty)
      }
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }
}
