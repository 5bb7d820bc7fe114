package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins graph_common_neighbors' grouped-suffix wedge exchange (one
  * (w, a, suffix-array) row per watchlist edge, exploded AFTER the
  * shuffle) equal to the r6–r11 per-wedge-row exchange on the fixture
  * corpus — same pairs, same cn, same aa, same ranks. ns is
  * sorted-distinct, so suffix pairs are the in-order a < c pairs by
  * construction; this spec guards the construction.
  */
class WedgeSuffixSpec extends AnyFunSuite {
  import SparkTestSession._

  /** The r6–r11 wedge step: explode every (w, a, c) wedge of each
    * center BEFORE the exchange, one shuffled row per wedge.
    */
  private def perWedgeRows(byCenter: DataFrame): DataFrame =
    byCenter
      .select(col("w"), col("ns"), explode(col("ns")).as("a"))
      .select(col("w"), col("a"), explode(col("ns")).as("c"))
      .filter(col("a") < col("c"))
      .repartition(col("a"))

  test("grouped-suffix wedge exchange == per-wedge-row exchange on fixtures") {
    for (mod <- Seq(4, 1)) { // the default watchlist and the full graph
      val centers = Graph.wedgeCenters(spark, sf, mod)
      val old = Graph.rankLinks(spark, sf, perWedgeRows(centers), 5)
      val sfx = Graph.rankLinks(spark, sf, Graph.suffixWedges(centers), 5)
      val extra = sfx.exceptAll(old).count()
      val missing = old.exceptAll(sfx).count()
      assert(extra == 0 && missing == 0,
        s"mod=$mod diverged: extra=$extra missing=$missing")
      assert(old.count() === sfx.count())
    }
  }
}
