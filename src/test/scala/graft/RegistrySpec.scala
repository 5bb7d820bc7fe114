package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.Oracle.{RowsOnly, Sql}

/** The query registry's declarations and the one selector every main
  * uses. Pure: no session is built.
  */
class RegistrySpec extends AnyFunSuite {

  private val names = SparkEntry.entries.map(_.name)

  test("entry names are unique") {
    val dupes = names.groupBy(identity).collect { case (n, ns) if ns.size > 1 => n }
    assert(dupes.isEmpty, s"duplicate entry names: $dupes")
    assert(SparkEntry.queries.size === names.size)
  }

  test("every rows-only entry gives a reason, and the rows-only set is pinned") {
    val rowsOnly = SparkEntry.entries.collect { case e if e.oracle.isInstanceOf[RowsOnly] =>
      e.name -> e.oracle.asInstanceOf[RowsOnly].reason }
    rowsOnly.foreach { case (n, reason) => assert(reason.trim.nonEmpty, s"$n has no reason") }
    assert(rowsOnly.map(_._1).toSet === Set("dedup_simhash", "emb_pca_project",
      "mm_dedup_phash_fast", "q20_approx_agg", "sketch_hll_users", "stream_hll_users"))
    assert(SparkEntry.oracleSql.keySet === names.toSet -- rowsOnly.map(_._1))
    SparkEntry.entries.foreach(e => e.oracle match {
      case Sql(text) => assert(text.trim.nonEmpty, s"${e.name} has empty oracle SQL")
      case RowsOnly(_) =>
    })
  }

  test("the default sweep is every entry except q25_range_join_binned") {
    assert(SparkEntry.defaultSweep.map(_.name).toSet === names.toSet - "q25_range_join_binned")
    assert(names.contains("q25_range_join_binned"))
  }

  test("every family has a Smoke.slice member, and every slice name is an entry") {
    assert(tools.Smoke.slice.toSet.subsetOf(names.toSet),
      s"unknown slice names: ${tools.Smoke.slice.filterNot(names.contains)}")
    val covered = SparkEntry.entries.filter(e => tools.Smoke.slice.contains(e.name))
      .map(_.family).toSet
    assert(SparkEntry.entries.map(_.family).toSet -- covered === Set.empty[Family])
  }

  test("the selector: unset or blank keeps the default, `all` is every entry, a list keeps its order") {
    val default = SparkEntry.entries.take(2)
    assert(SparkEntry.select(None, default) === Right(default))
    assert(SparkEntry.select(Some(" "), default) === Right(default))
    assert(SparkEntry.select(Some("all"), default) === Right(SparkEntry.entries))
    assert(SparkEntry.select(Some("q12_topk, q01_group_count,q12_topk"), default)
      .map(_.map(_.name)) === Right(Seq("q12_topk", "q01_group_count")))
    assert(SparkEntry.select(Some("q25_range_join_binned"), SparkEntry.defaultSweep)
      .map(_.map(_.name)) === Right(Seq("q25_range_join_binned")))
  }

  test("the selector rejects unknown names instead of dropping them") {
    assert(SparkEntry.select(Some("q01_group_count,q01_grup_count,nope"), Nil) ===
      Left(Seq("q01_grup_count", "nope")))
  }

  test("Bench and Verify exit non-zero on an unknown name, before any session or record") {
    val jvm = java.lang.management.ManagementFactory.getRuntimeMXBean
    val out = java.nio.file.Files.createTempDirectory("graft-select").toString
    for (main <- Seq(Seq("graft.Bench"), Seq("graft.Verify", operators.SparkTestSession.sf, out))) {
      val cmd = Seq(s"${sys.props("java.home")}/bin/java", "-Xmx256m",
        "-cp", jvm.getClassPath) ++ main
      val stdout, stderr = new StringBuilder
      val exit = scala.sys.process.Process(cmd, None,
        "SPARK_GRAFT_QUERIES" -> "q01_group_count,q01_grup_count").!(
        scala.sys.process.ProcessLogger(stdout.append(_), l => stderr.append(l).append('\n')))
      assert(exit === 1, s"$main: $stderr")
      assert(stderr.toString.contains("unknown queries: q01_grup_count"), stderr)
      assert(stdout.isEmpty, stdout)
    }
    new java.io.File(out).delete()
  }
}
