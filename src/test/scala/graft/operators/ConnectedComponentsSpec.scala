package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SparkTestSession.spark

/** Randomized (seeded, deterministic) check of the distributed
  * connected-components algorithms against a reference union-find, over
  * generated edge lists — the adversarial shapes (long chains, stars,
  * parallel edges, merged components) that fixture data never produces.
  */
class ConnectedComponentsSpec extends AnyFunSuite {

  private def referenceComponents(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x0: Long): Long = {
      var x = x0
      parent.getOrElseUpdate(x, x)
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(v => v -> find(v)).toMap
  }

  private def sparkLabels(algo: String, edges: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    val pairs = edges.toDF("id_a", "id_b")
    val df = algo match {
      // driverFinishCap=0 keeps the PURE distributed loop under test —
      // these tiny graphs would otherwise driver-finish after round 0
      // and never exercise the star-forest fixpoint
      case "star" =>
        Dedup.ccStarContraction(pairs, maxRounds = 30, driverFinishCap = 0L)
      case "star-hybrid" =>
        Dedup.ccStarContraction(pairs, maxRounds = 30)
    }
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  /** Random graph: a chain segment (worst case for label propagation) plus
    * random cross edges that merge components, plus duplicated edges
    * (parallel edges must be harmless). Seeded → reproducible failures.
    */
  private def randomEdges(rnd: scala.util.Random): Seq[(Long, Long)] = {
    val n = 2 + rnd.nextInt(39)
    val chain = (0L until n.toLong).sliding(2).map(s => (s(0), s(1))).toSeq
    val extra = Seq.fill(8) {
      val a = rnd.nextInt(61).toLong
      var b = rnd.nextInt(61).toLong
      if (a == b) b = (b + 1) % 61
      (a, b)
    }
    val dupes = chain.filter(_ => rnd.nextBoolean())
    chain ++ extra ++ dupes
  }

  test("star contraction matches union-find on random adversarial graphs") {
    val rnd = new scala.util.Random(126L)
    (1 to 6).foreach { i =>
      val edges = randomEdges(rnd)
      assert(sparkLabels("star", edges) === referenceComponents(edges),
        s"case $i edges=$edges")
    }
  }

  test("star contraction handles a pure long chain (diameter stress)") {
    val chain = (0L until 64L).sliding(2).map(s => (s(0), s(1))).toSeq
    assert(sparkLabels("star", chain) === referenceComponents(chain))
    assert(referenceComponents(chain).values.toSet === Set(0L))
  }

  test("hybrid driver finish equals the pure distributed fixpoint") {
    // default driverFinishCap collects after the first round shrinks the
    // edge set under the guard; labels must equal both the cap=0 pure
    // loop and the reference union-find on every adversarial shape
    val rnd = new scala.util.Random(128L)
    (1 to 4).foreach { i =>
      val edges = randomEdges(rnd)
      val ref = referenceComponents(edges)
      assert(sparkLabels("star-hybrid", edges) === ref, s"case $i edges=$edges")
      assert(sparkLabels("star", edges) === ref, s"case $i edges=$edges")
    }
  }
}
