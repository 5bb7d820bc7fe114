package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** Pins graph_triangles' all-codegen unit-credit corner emission
  * (explode concat(array_repeat(lo, |third|), array_repeat(hi, |third|),
  * third), count(*)) against an independent formulation on the fixture
  * corpus: [[TriangleReference]]'s wedge-join, the oracle's algorithm
  * with its own edge and degree build. Same (part, triangles, deg) rows
  * as a multiset — a miscounted credit, a dropped zero-triangle node or
  * a wrong degree all show.
  */
class TriangleCornersSpec extends AnyFunSuite {
  import SparkTestSession._

  test("codegen unit-credit corners == wedge-join reference on fixtures") {
    val ref = TriangleReference.wedgeJoin(spark, sf)
    val (out, adj) = Graph.trianglesPlan(spark, sf)
    try {
      val extra = out.exceptAll(ref).count()
      val missing = ref.exceptAll(out).count()
      assert(extra == 0 && missing == 0,
        s"triangle counts diverged: extra=$extra missing=$missing")
      assert(ref.count() === out.count())
    } finally adj.unpersist(false)
  }
}
