package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The custom Catalyst expressions have one path into a plan: the typed
  * Column constructors on their companions (`DotProduct.dot`,
  * `HllAgg.hll`, ...). A name bound in a session function registry means
  * whatever the last binding said, so src/main binds none and calls none
  * by name.
  */
class ExpressionPathSpec extends AnyFunSuite {

  private val banned = Seq(
    "call_function(\"graft_", "createOrReplaceTempFunction", "injectFunction")

  test("src/main neither registers nor calls a custom expression by name") {
    val sources = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(sources.nonEmpty, "src/main not found from the working directory")
    val hits = for {
      p <- sources
      (line, i) <- Files.readAllLines(p).asScala.zipWithIndex
      b <- banned if line.contains(b)
    } yield s"$p:${i + 1}: $b"
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
