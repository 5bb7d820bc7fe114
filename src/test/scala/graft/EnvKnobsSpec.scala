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
    "SPARK_GRAFT_INCLUDE", "SPARK_GRAFT_EXCLUDE",
    "SPARK_GRAFT_BENCH_SWEEPS", "SPARK_GRAFT_BENCH_OUT",
    "SPARK_GRAFT_EXTRA_CONF", "GRAFT_SMOKE_ALL")

  private val read = """(?:sys\.env|System\.getenv)""".r
  private val named = """(?:sys\.env|System\.getenv)[^"\n]*"([A-Za-z0-9_]+)"""".r

  test("src/main reads exactly the 9 inventoried env vars, each by a literal name") {
    val sources = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(sources.nonEmpty, "src/main not found from the working directory")
    val reads = for {
      p <- sources
      (line, i) <- Files.readAllLines(p).asScala.zipWithIndex
      names = named.findAllMatchIn(line).map(_.group(1)).toSeq
      unnamed = read.findAllIn(line).size - names.size
      knob <- names ++ Seq.fill(unnamed)(s"<unnamed read at $p:${i + 1}>")
    } yield knob
    assert(reads.toSet === expected)
  }
}
