package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The operator family an entry belongs to. Bench keys its warm-ups off
  * it, and every family has a member in `tools.Smoke.slice`.
  */
sealed trait Family

object Family {
  case object Relational extends Family
  case object Dedup extends Family
  case object Similarity extends Family
  case object Text extends Family
  case object Multimodal extends Family
  case object Graph extends Family
  case object Lake extends Family
  case object Streaming extends Family
  case object Features extends Family
}

/** How an entry's result is checked (`tools/check.py`). */
sealed trait Oracle

object Oracle {
  /** DuckDB SQL over the fixture tables that yields the same rows. */
  final case class Sql(text: String) extends Oracle
  /** No SQL engine can replay the result; the check is rows > 0, and
    * `reason` names what no oracle can replay and which spec pins it.
    */
  final case class RowsOnly(reason: String) extends Oracle
}

/** One query of the registry (`SparkEntry.entries`). The oracle is by-name
  * and built on first use, so building the query map evaluates no SQL.
  */
final class Entry(val name: String, val family: Family,
                  val run: (SparkSession, String) => DataFrame,
                  oracleDecl: => Oracle, val inDefaultSweep: Boolean = true) {
  lazy val oracle: Oracle = oracleDecl
}

object Entry {
  def apply(name: String, family: Family, run: (SparkSession, String) => DataFrame,
            oracle: => Oracle, inDefaultSweep: Boolean = true): Entry =
    new Entry(name, family, run, oracle, inDefaultSweep)
}
