package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main: times every `SparkEntry.entries` entry (or
  * the SPARK_GRAFT_QUERIES selection) on SPARK_GRAFT_SF_DIR and prints ONE
  * JSON line
  * {"metric":"total","value":N,"unit":"sec","queries":{...},"failed":[...],"sf":...}.
  *
  * Each query is fenced with a full count() action (plan + execution, no
  * result materialization on the driver). A query that throws is named on
  * stderr and listed in `failed`, never in `queries` or the total.
  * Queries run in name order; a small generic warm-up (range + one-row
  * parquet read) runs first so the first measured query doesn't absorb
  * JVM/codegen cold-start — table data itself is NOT pre-read, so scan
  * cost stays inside the measurement.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val selected = SparkEntry.selected("bench", SparkEntry.entries)
    val cpus = GraftSession.cpus
    val spark = GraftSession.builder("graft-bench", cpus, sfDir).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // generic warm-up: JVM/codegen/parquet-reader init, not table data
    spark.range(1000000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/region.parquet").count()
    // Shuffle/join/agg machinery warm-up (same contract: literal rows, no
    // table data). The first queries in a fresh JVM to exercise the
    // exchange writers/readers, SMJ/BHJ operators, explode and distinct
    // paths pay ~1-3 s of JIT that belongs to the ENGINE, not the query —
    // measured r9: dedup_fuzzy_names 3.5 s cold-alone vs 0.6 s in-suite,
    // with a preceding shuffling query absorbing ~1.2 s of that gap. One
    // tiny query touching each path keeps cold-sweep per-query numbers
    // attributable to the queries themselves.
    locally {
      import org.apache.spark.sql.functions._
      val w = spark.range(256).select(col("id"), (col("id") % 16).as("k"))
      val exploded = w.select(col("k"),
        explode(sequence(lit(1), (col("id") % 3 + 1).cast("int"))).as("e"))
      val agg = exploded.groupBy("k").agg(count(lit(1)).as("c"),
        sum("e").as("s"))
      w.join(agg.hint("merge"), Seq("k")) // force SMJ + exchanges
        .join(w.select(col("k"), col("id").as("id2")), Seq("k")) // BHJ
        .select(col("k"), col("c"), col("id2")).distinct()
        .unionByName(spark.range(4).select(lit(0L).as("k"), lit(0L).as("c"),
          col("id").as("id2")))
        .groupBy("k").agg(max("c")).collect()
      // window + string-split paths (row_number ranking and tokenize
      // explodes appear across most of the suite)
      val win = org.apache.spark.sql.expressions.Window
        .partitionBy("k").orderBy(col("s").desc)
      exploded.select(col("k"), col("e").cast("string").as("t"))
        .select(col("k"), explode(split(concat(col("t"), lit(" a b")), "\\s+")).as("w"))
        .groupBy("k", "w").agg(count(lit(1)).as("s"))
        .withColumn("rank", row_number().over(win))
        .filter(col("rank") <= 2).collect()
    }

    // Custom-expression warm-up (same contract as above: engine init, not
    // table data): the vector/aggregate expressions compile and JIT on
    // first use — ~2 s measured — which otherwise lands entirely on
    // whichever similarity query sorts first. One-row literal data only.
    if (selected.exists(_.family == Family.Similarity)) {
      import org.apache.spark.sql.functions._
      graft.expressions.DotProduct.register(spark)
      graft.expressions.TopKAgg.register(spark)
      spark.range(2)
        .select(col("id"),
          call_function("graft_dot",
            array(lit(1f), lit(2f)), array(lit(3f), lit(4f))).as("d"))
        .groupBy(lit(1))
        .agg(call_function("graft_topk", col("d"), col("id"), lit(1)))
        .collect()
      // ARRAY<float> parquet decode + localCheckpoint write machinery:
      // the similarity family's first query otherwise pays the first
      // array-column vectorized-reader init and the first checkpoint
      // block write of the JVM (r9 cold-sweep attribution: the ann_*
      // family sat 2.8-3.6x over its matched medians with only the
      // literal-row kernel warm-up above). Two literal rows round-tripped
      // through a temp file — engine init, not table data.
      val wuDir = java.nio.file.Files.createTempDirectory("graft_warmup_arr")
      val wuPath = wuDir.resolve("arr.parquet").toString
      spark.range(2)
        .select(col("id"), array(lit(1f), lit(2f)).as("embedding"))
        .write.mode("overwrite").parquet(wuPath)
      spark.read.parquet(wuPath)
        .filter(col("embedding").isNotNull)
        .withColumn("nrm",
          sqrt(call_function("graft_dot", col("embedding"), col("embedding"))))
        .localCheckpoint(true).count()
      org.apache.commons.io.FileUtils.deleteDirectory(wuDir.toFile)
    }

    // Streaming warm-up (same contract as above: engine init, not data):
    // the first streaming query otherwise absorbs micro-batch machinery
    // and state-store init — measured at ~4-5 s on a 5-row table — which
    // mis-attributes engine cold-start to whichever streaming query sorts
    // first. It warms the code generator, not the queries' own classes
    // (its plan is not theirs); compiled classes carry from one streaming
    // session to the next only because GraftSession turns per-session
    // artifact isolation off.
    if (selected.exists(_.family == Family.Streaming)) {
      val ss = spark.newSession()
      ss.conf.set("spark.sql.shuffle.partitions", "4")
      val rSchema = ss.read.parquet(s"$sfDir/region.parquet").schema
      val q = ss.readStream.schema(rSchema)
        .option("pathGlobFilter", "region.parquet").parquet(sfDir)
        .dropDuplicates("r_regionkey")
        .writeStream.outputMode("append").format("memory")
        .queryName("graft_warmup_stream").start()
      q.processAllAvailable(); q.stop()
    }
    // SPARK_GRAFT_BENCH_SWEEPS=N (default 1): repeat the WHOLE suite N
    // times and keep each query's median. Sweeping whole suites (with the
    // family caches released between sweeps) preserves in-suite semantics
    // — first-toucher attribution, shared-intermediate reuse — where
    // per-query repetition would measure warm memoized state instead.
    // The driver runs the default single sweep.
    val sweeps = sys.env.get("SPARK_GRAFT_BENCH_SWEEPS").map(_.toInt).getOrElse(1)
    val sweepResults = (1 to sweeps).map { _ =>
      val r = selected.sortBy(_.name).map(e =>
        e.name -> timeQuery(spark, sfDir, e.name, e.run))
      // drop memoized pairs + family-shared corpus intermediates so the
      // next sweep pays the builds again (and the JVM exits clean)
      graft.operators.Dedup.releasePairs()
      // reclaim this sweep's file-sink scratch outputs: every query in
      // the sweep has fully counted its result by now, and the next sweep
      // re-runs each stream into a fresh dir — without this a sweeps=N
      // run leaves N copies of every sink output on disk until exit
      graft.streaming.StreamOps.clearScratchDirs()
      r
    }
    val (results, failed) = summarize(sweepResults)
    val fields = resultFields(results, failed)
    val sweepNote = if (sweeps > 1) s""","sweeps":$sweeps""" else ""
    val sfJson = jstr(sfDir)
    // Per-run detail record: a UNIQUE timestamped file under bench_runs/,
    // never overwritten — the r11 postmortem found the driver's 8-core run
    // destroying the 32-core per-query record because every run wrote the
    // same bench_out.json. The committed bench_out.json stays as the last
    // r11 quiet-host record; Bench no longer writes it (r11 verdict item 1).
    // SPARK_GRAFT_BENCH_OUT still overrides for scripted A/Bs. A run of
    // any other selection than every entry is labelled `_subset` in the
    // filename so it can never masquerade as a canonical record.
    val subset = selected.toSet != SparkEntry.entries.toSet
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", {
      val ts = java.time.format.DateTimeFormatter
        .ofPattern("yyyyMMdd'T'HHmmss").withZone(java.time.ZoneOffset.UTC)
        .format(java.time.Instant.now())
      val tag = s"c${GraftSession.coreCount(cpus)}_sw$sweeps" +
        (if (subset) "_subset" else "")
      val dir = java.nio.file.Paths.get("/root/repo/bench_runs")
      java.nio.file.Files.createDirectories(dir)
      dir.resolve(s"bench_${ts}_$tag.json").toString
    })
    // advertise `detail` only if the record actually landed — a parser
    // must not be pointed at a stale or missing file
    val detailNote =
      try {
        java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
          s"""{$fields,"sf":"$sfJson"$sweepNote}""".getBytes("UTF-8"))
        s""","detail":"${jstr(outPath)}""""
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] could not write $outPath: ${e.getMessage}")
          s""","detail_error":"write failed""""
      }
    // THE driver contract line — the ONLY stdout line this main prints:
    // one bare JSON object with the total AND the full per-query map, as
    // the doc comment always promised. Through r11 the map was omitted
    // here (it only went to the detail file) and the line arrived
    // "[info]"-prefixed via sbt's logger, so the driver parsed null in
    // every round (r11 verdict item 1). build.sbt now sets
    // outputStrategy := StdoutOutput so this line reaches stdout verbatim;
    // the human-readable summary goes to stderr. Timing methodology is
    // UNCHANGED — this is output plumbing only.
    println(s"""{$fields,"n":${results.size},"sf":"$sfJson"$sweepNote$detailNote}""")
    System.err.println(
      s"""[bench] total=${results.map(_._2).sum} sec n=${results.size} failed=${failed.size} sf=$sfDir sweeps=$sweeps detail=$outPath""")
    spark.stop()
  }

  /** One query's step of a sweep: Some(seconds) for plan + full count()
    * when the entry returns, None — named on stderr — when it throws. A
    * failed query is never recorded as a time.
    */
  private[graft] def timeQuery(spark: SparkSession, sfDir: String, name: String,
                               fn: (SparkSession, String) => DataFrame): Option[Double] = {
    val t0 = System.nanoTime()
    try {
      fn(spark, sfDir).count()
      Some((System.nanoTime() - t0) / 1e9)
    } catch {
      case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        None
    }
  }

  /** Per-query medians over the sweeps (each sweep in the same query
    * order) and the queries that failed in ANY sweep, which get no
    * median.
    */
  private[graft] def summarize(sweeps: Seq[Seq[(String, Option[Double])]])
  : (Seq[(String, Double)], Seq[String]) = {
    val byName = sweeps.map(_.toMap)
    val (ok, failed) = sweeps.head.map(_._1).partition(n => byName.forall(_(n).isDefined))
    val results = ok.map { name =>
      val samples = byName.map(_(name).get).sorted
      name -> samples(samples.length / 2)
    }
    (results, failed)
  }

  /** The fields the stdout contract line and the detail file share: the
    * total and per-query map over the queries that ran, and the failed
    * names.
    */
  private[graft] def resultFields(results: Seq[(String, Double)],
                                  failed: Seq[String]): String = {
    val qs = results.map { case (k, v) => "\"" + jstr(k) + "\":" + v }
      .mkString("{", ",", "}")
    val fs = failed.map(n => "\"" + jstr(n) + "\"").mkString("[", ",", "]")
    s""""metric":"total","value":${results.map(_._2).sum},"unit":"sec","queries":$qs,"failed":$fs"""
  }

  /** JSON string-literal body: env-supplied paths and the oracle SQL are
    * interpolated into JSON, so a quote, backslash or control character
    * (newline, tab) in them cannot emit an invalid record. Verify's
    * oracle_sql.json goes through it too.
    */
  private[graft] def jstr(raw: String): String =
    raw.flatMap {
      case '\\' => "\\\\"
      case '"'  => "\\\""
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < 0x20 => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
}
