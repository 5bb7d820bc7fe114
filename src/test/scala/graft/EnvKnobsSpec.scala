package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Inventory of the environment variables the product code reads. Each
  * knob is a behaviour switch nothing else records, so the set is pinned
  * exactly: a new knob has to be added here on purpose, and a removed one
  * taken out.
  */
class EnvKnobsSpec extends AnyFunSuite {

  private val expected = Set(
    "SPARK_GRAFT_CPUS", "SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_QUERIES",
    "SPARK_GRAFT_BENCH_SWEEPS", "SPARK_GRAFT_BENCH_OUT",
    "SPARK_GRAFT_EXTRA_CONF")

  private val read = """(?:sys\.env|System\.getenv)""".r
  private val named = """(?:sys\.env|System\.getenv)[^"\n]*"([A-Za-z0-9_]+)"""".r

  private lazy val reads: Seq[String] = {
    val sources = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(sources.nonEmpty, "src/main not found from the working directory")
    for {
      p <- sources
      (line, i) <- Files.readAllLines(p).asScala.zipWithIndex
      names = named.findAllMatchIn(line).map(_.group(1)).toSeq
      unnamed = read.findAllIn(line).size - names.size
      knob <- names ++ Seq.fill(unnamed)(s"<unnamed read at $p:${i + 1}>")
    } yield knob
  }

  test("src/main reads exactly the 6 inventoried env vars, each by a literal name") {
    assert(reads.toSet === expected)
  }

  test("the core count and the query selection each have one reader, so one default") {
    assert(reads.count(_ == "SPARK_GRAFT_CPUS") === 1)
    assert(reads.count(_ == "SPARK_GRAFT_QUERIES") === 1)
  }
}
