package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkEntry
import graft.functions.StatFunctions.skewSample
import graft.functions.TextFunctions

object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf: String = "/root/testdata/sf0.001"
}

class OperatorSpec extends AnyFunSuite {
  import SparkTestSession._

  test("every declared query runs and returns rows on sf0.001") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, sf).count()
      assert(n > 0, s"query $name returned no rows")
    }
  }

  test("every entry name is unique and declares one oracle decision") {
    val names = SparkEntry.entries.map(_.name)
    assert(names.distinct.size === names.size, "duplicate entry names")
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle entries without queries: $missing")
    SparkEntry.entries.foreach(e => e.oracle match {
      case graft.Oracle.Sql(text) => assert(text.nonEmpty, e.name)
      case graft.Oracle.RowsOnly(reason) => assert(reason.nonEmpty, e.name)
    })
  }

  test("entry flagship returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("bias-corrected sample skewness matches the closed form") {
    import spark.implicits._
    // skew of [1.0, 2.0, 4.0, 8.0]: known G1 (pandas/DuckDB convention)
    val df = Seq(1.0, 2.0, 4.0, 8.0).toDF("x")
    val got = df.agg(skewSample(col("x"))).collect()(0).getDouble(0)
    // closed form: n=4, mean=3.75, m2=7.1875, m3=12.65625
    // g1 = m3/m2^1.5 = 0.656764; G1 = g1*sqrt(n(n-1))/(n-2) = 1.1376244
    // (DuckDB skewness() on the same vector: 1.1376243669576889)
    assert(math.abs(got - 1.1376243669576889) < 1e-9, s"got $got")
    // n <= 2 → null
    val tiny = Seq(1.0, 2.0).toDF("x")
    assert(tiny.agg(skewSample(col("x"))).collect()(0).isNullAt(0))
  }

  test("minhash-LSH finds exactly the exact-jaccard pairs on fixtures") {
    val exact = Dedup.ngramJaccard(spark, sf)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashLsh(spark, sf)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh === exact)
    assert(exact.nonEmpty)
  }

  test("cluster paths agree: driver union-find vs propagation vs star contraction") {
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaUnionFind = asMap(Dedup.clusters(spark, sf))
    val viaPropagation = asMap(Dedup.clusters(spark, sf, driverMaxPairs = 0L,
      distributedAlgo = "propagation"))
    val viaStar = asMap(Dedup.clusters(spark, sf, driverMaxPairs = 0L))
    assert(viaUnionFind === viaPropagation)
    assert(viaUnionFind === viaStar)
    assert(viaUnionFind.nonEmpty)
  }

  test("df-capped ngram index: no-op above max df, subset below, precision exact") {
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairSet(Dedup.ngramJaccard(spark, sf))
    // a cap above every shingle's document frequency changes nothing
    assert(pairSet(Dedup.ngramJaccardCapped(spark, sf, Long.MaxValue >> 1)) === exact)
    // an aggressive cap can only LOSE pairs (verification keeps precision
    // exact), never invent them
    val capped = pairSet(Dedup.ngramJaccardCapped(spark, sf, 2L))
    assert(capped.subsetOf(exact), s"capped produced non-exact pairs: ${capped -- exact}")
  }

  test("shingles: short and empty documents yield empty sets") {
    import spark.implicits._
    val df = Seq("", "one two", "a b c d").toDF("text")
      .select(TextFunctions.shingles(col("text"), 3).as("sh"))
    val sizes = df.select(size(col("sh"))).collect().map(_.getInt(0))
    assert(sizes.toSeq === Seq(0, 0, 2))
  }

  test("simhash of identical token multisets is identical; pairs are verified by hamming") {
    val pairs = Dedup.simhashPairs(spark, sf).collect()
    pairs.foreach(r => assert(r.getAs[Int]("hamming") <= 3))
  }

  test("simhash prod/portable variants share the pipeline modulo the hash") {
    // the portable entry IS the parameterized pipeline with the md5 hash:
    // injecting portableTokenHash into the production entry point must
    // reproduce it row-for-row (pins that the two oracle/bench entries
    // can never drift apart structurally)
    val injected = Dedup.simhashPairs(spark, sf,
        tokenHash = TextFunctions.portableTokenHash)
      .collect().map(_.toSeq).toSet
    val portable = Dedup.simhashPairsPortable(spark, sf)
      .collect().map(_.toSeq).toSet
    assert(injected === portable)
    // both variants detect the fixture's planted near-dups (different
    // hashes may disagree on borderline pairs, but each must return a
    // non-empty verified set, and every pair verifies hamming ≤ 3)
    val prodRows = Dedup.simhashPairs(spark, sf).collect()
    assert(prodRows.nonEmpty && portable.nonEmpty)
    prodRows.foreach(r => assert(r.getAs[Int]("hamming") <= 3))
  }

  test("sampling invariants hold under both prod and portable doc-id hashes") {
    // the doc-id hash only permutes WHICH uniform sample is kept; the
    // structural invariants must be hash-invariant
    val docs = graft.Tables.documents(spark, sf)
    for (hash <- Seq(TextOps.prodDocIdHash, TextOps.portableDocIdHash)) {
      val bal = TextOps.sampleBalancedOf(docs, hash)
        .filter(col("keep")).groupBy("source").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val counts = docs.groupBy("source").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val minCount = counts.values.min
      // the smallest source keeps every doc (h % m < m is vacuous), and
      // every source keeps a positive sample concentrated around min_count
      val smallest = counts.minBy(_._2)._1
      assert(bal(smallest) === minCount)
      counts.keys.foreach(src => assert(bal.getOrElse(src, 0L) > 0,
        s"source $src sampled to zero under $hash"))
      // budget: the admitted prefix stops at the budget boundary — tokens
      // admitted BEFORE every kept doc stay under budget, and at least one
      // doc per source is kept (the hash-first doc always fits)
      val bud = TextOps.sampleBudgetOf(docs, 500L, hash)
      val keptSources = bud.filter(col("keep")).select("source").distinct().count()
      assert(keptSources === counts.size.toLong)
    }
  }

  test("temperature sampling up-weights small sources and honors quotas") {
    // skew the fixture: keep one source whole, shrink another to a tenth —
    // temperature mixing is only observable on skewed source sizes
    val base = graft.Tables.documents(spark, sf)
    val srcs = base.select("source").distinct().collect().map(_.getString(0)).sorted
    // (doc_id < 100 is uncorrelated with source = doc_id % 20: every other
    // source keeps its ~5 low ids, the head source keeps all 25)
    val docs = base.filter(col("source") === srcs.head)
      .union(base.filter(col("source") =!= srcs.head && col("doc_id") < 100))
    // target must sit under the corpus size or every quota saturates and
    // the near-target invariant is vacuous
    val target = 60L
    for (hash <- Seq(TextOps.prodDocIdHash, TextOps.portableDocIdHash)) {
      val rows = TextOps.sampleTemperatureOf(docs, target, hash).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
          r.getBoolean(4)))
      // kept per source = min(quota, n_source), exactly
      rows.groupBy(_._2).foreach { case (src, rs) =>
        val quota = rs.head._4
        val n = rs.head._3
        assert(rs.count(_._5) === math.min(quota, n), s"source $src")
      }
      // quotas track √n: the keep RATE of the smallest source must beat
      // the largest source's (the whole point of temperature mixing) —
      // quota_s/n_s ∝ 1/√n_s is monotone decreasing in n_s
      val bySrc = rows.groupBy(_._2).map { case (src, rs) =>
        (src, rs.head._3, rs.head._4.toDouble / rs.head._3) }.toSeq
      val small = bySrc.minBy(_._2)
      val large = bySrc.maxBy(_._2)
      assert(small._2 < large._2, "fixture needs skewed sources")
      assert(small._3 > large._3,
        s"temperature did not up-weight: small ${small._3} <= large ${large._3}")
      // total kept lands near the target (rounding drift only, one ulp of
      // a doc per source)
      val kept = rows.count(_._5).toLong
      assert(math.abs(kept - target) <= bySrc.size.toLong,
        s"kept $kept vs target $target")
    }
  }

  test("knn graph replays exactly: bucket membership, top-k, tie-breaks") {
    import graft.functions.VectorFunctions
    val dim = VectorFunctions.Dim
    val planes = VectorFunctions.hyperplanesFlat(8, dim)
    val vecs = graft.Tables.embeddings(spark, sf)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0d; var i = 0
      while (i < math.min(a.length, b.length)) { s += a(i).toDouble * b(i).toDouble; i += 1 }
      s
    }
    def bucket(v: Array[Float]): Long = (0 until 8).map { p =>
      var s = 0.0d; var i = 0
      while (i < dim) { s += planes(p * dim + i) * v(i); i += 1 }
      if (s > 0) 1L << p else 0L
    }.sum
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val byBucket = vecs.groupBy(v => bucket(v._2))
    val expected = byBucket.values.toList.flatMap { members =>
      members.toList.flatMap { case (id, v) =>
        val nrm = math.sqrt(dot(v, v))
        members.toList.filter(_._1 != id)
          .map { case (nid, nv) => (nid, r6(dot(v, nv) / (nrm * math.sqrt(dot(nv, nv))))) }
          .sortBy { case (nid, c) => (-c, nid) }.take(5).zipWithIndex
          .map { case ((nid, c), i) => (id, nid, c, i + 1) }
      }
    }.toSet
    val got = Similarity.knnGraph(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(got === expected)
    assert(got.nonEmpty && got.groupBy(_._1).forall(_._2.size <= 5))
  }

  test("maxsim replays exactly and rewards term-level matches") {
    val vecs = graft.Tables.embeddings(spark, sf)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0d; var i = 0
      while (i < math.min(a.length, b.length)) { s += a(i).toDouble * b(i).toDouble; i += 1 }
      s
    }
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val nrm = vecs.map { case (id, v) => id -> math.sqrt(dot(v, v)) }.toMap
    val queries = vecs.filter(_._1 < 8).groupBy(_._1 / 4)
    val docs = vecs.filter(_._1 >= 8).groupBy(_._1 / 4)
    val expected = queries.toList.flatMap { case (qid, qvs) =>
      docs.toList.map { case (did, dvs) =>
        // per query vector: max rounded cosine over the doc's vectors;
        // score: fixed left-to-right sum, rounded — as the engine computes
        val maxes = qvs.sortBy(_._1).map { case (qv_id, qv) =>
          dvs.map { case (dv_id, dv) =>
            r6(dot(dv, qv) / (nrm(dv_id) * nrm(qv_id))) }.max
        }
        (qid, did, r6(maxes.reduceLeft(_ + _)))
      }.sortBy { case (_, did, m) => (-m, did) }.take(5).zipWithIndex
        .map { case ((q, d, m), i) => (q, d, m, i + 1) }
    }.toSet
    val got = Similarity.maxSim(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(got === expected)
    // every score is bounded by |Q| and at least |Q| * min cosine (= -4)
    assert(got.forall { case (_, _, m, _) => m <= 4.0 + 1e-9 && m >= -4.0 - 1e-9 })
    assert(got.groupBy(_._1).forall(_._2.size == 5))
  }

  test("incremental curation admits exactly quality ∩ ¬contaminated ∩ ¬near-dup") {
    val accepted = TextOps.curateIncremental(spark, sf)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // recompose from the stand-alone verified operators
    val t = graft.functions.TextFunctions.tokens(col("text"))
    val docs = graft.Tables.documents(spark, sf)
    val quality = docs.filter(col("doc_id") % 2 === 1)
      .select(col("doc_id"), size(t).as("n"),
        (size(array_distinct(t)) / size(t).cast("double")).as("r"))
      .filter(col("n") >= 20 && col("r") >= 0.3)
      .collect().map(_.getLong(0)).toSet
    val contaminated = TextOps.decontaminateOf(
        docs.filter(col("doc_id") % 2 === 1),
        docs.filter(col("doc_id") % 10 === 0), 5)
      .filter(col("contaminated")).collect().map(_.getLong(0)).toSet
    val nearDup = Dedup.incremental(spark, sf)
      .select("id_new").collect().map(_.getLong(0)).toSet
    assert(accepted == quality -- contaminated -- nearDup)
    assert(accepted.nonEmpty)
    assert(accepted.forall(_ % 2 == 1), "only new-batch docs are admitted")
  }

  test("funnel stages are strictly ordered and flags match timestamp presence") {
    val rows = Relational.q34Funnel(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val tv = r.getTimestamp(1)
      val tc = if (r.isNullAt(2)) null else r.getTimestamp(2)
      val tp = if (r.isNullAt(3)) null else r.getTimestamp(3)
      val stages = r.getInt(4)
      assert(tv != null)
      if (tp != null) assert(tc != null, "purchase stage requires click stage")
      if (tc != null) assert(tv.before(tc))
      if (tp != null) assert(tc.before(tp))
      assert(stages == 1 + (if (tc != null) 1 else 0) + (if (tp != null) 1 else 0))
    }
    // at least one user converts fully on the fixture (every sf0.001
    // view-user happens to convert; partial funnels are exercised above
    // whenever timestamps are absent, and at sf0.01+ by the oracle gate)
    assert(rows.exists(_.getInt(4) == 3))
  }

  test("unpivot round-trips the pivot back to long form") {
    import spark.implicits._
    val melted = Relational.q35Unpivot(spark, sf)
      .collect().map(r => ((r.getLong(0), r.getString(1)), r.getLong(2))).toMap
    // direct long-form counts; melted zeros appear for absent combos
    val direct = graft.Tables.events(spark, sf)
      .groupBy("user_id", "event_type").count()
      .collect().map(r => ((r.getLong(0), r.getString(1)), r.getLong(2))).toMap
    direct.foreach { case (k, v) => assert(melted(k) == v, s"$k") }
    melted.foreach { case (k, v) => if (!direct.contains(k)) assert(v == 0L, s"$k") }
    val users = direct.keySet.map(_._1).size
    assert(melted.size == users * 5)
  }

  test("adaptive plane count restores bounded buckets as the corpus grows") {
    import graft.functions.VectorFunctions
    // unit values: the fixture geometries
    assert(VectorFunctions.adaptivePlaneCount(2000) == 8)    // sf0.1: floor
    assert(VectorFunctions.adaptivePlaneCount(20000) == 10)  // sf1: 1024 buckets
    assert(VectorFunctions.adaptivePlaneCount(2000000) == 16)
    // behavior: on a deterministic pseudo-random corpus, re-derived planes
    // shrink both the hottest bucket and the candidate-pair volume (sumSq)
    import spark.implicits._
    val dim = VectorFunctions.Dim
    val vecs = (0 until 4096).map { i =>
      val v = new Array[Float](dim)
      var z = i.toLong * 0x9E3779B97F4A7C15L + 1
      var c = 0
      while (c < dim) {
        z = z * 6364136223846793005L + 1442695040888963407L
        v(c) = (z >>> 40).toFloat / (1L << 24).toFloat - 0.5f
        c += 1
      }
      (i.toLong, v.toSeq)
    }.toDF("vec_id", "embedding")
    def pairStats(planes: Int): (Long, Long) = {
      val b = vecs.select(VectorFunctions.bucketKernel(
          VectorFunctions.hyperplanesFlat(planes, dim), dim)(col("embedding")).as("b"))
        .groupBy("b").count()
        .agg(max("count"), sum(col("count") * col("count"))).collect()(0)
      (b.getLong(0), b.getLong(1))
    }
    val (max8, sq8) = pairStats(8)
    val adaptive = VectorFunctions.adaptivePlaneCount(4096, targetBucketSize = 8)
    assert(adaptive == 9)
    val (maxA, sqA) = pairStats(adaptive)
    assert(maxA < max8, s"hottest bucket did not shrink: $maxA vs $max8")
    assert(sqA * 3 < sq8 * 2, s"candidate volume did not shrink: $sqA vs $sq8")
  }

  test("quality calibration standardizes within each source") {
    val rows = TextOps.qualityCalibrate(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getDouble(3),
        r.getBoolean(4)))
    assert(rows.nonEmpty)
    rows.groupBy(_._2).foreach { case (src, rs) =>
      val zs = rs.map(_._4)
      val n = zs.length.toDouble
      val mean = zs.sum / n
      // z-scores standardize: mean 0, sample stddev 1 (per source).
      // z is rounded to 6 decimals for the exact-hash oracle (r7), so
      // each value carries ≤5e-7 rounding error — tolerances follow.
      assert(math.abs(mean) < 1e-6, s"$src z-mean $mean")
      if (n > 1 && zs.exists(_ != 0.0)) {
        val sd = math.sqrt(zs.map(z => (z - mean) * (z - mean)).sum / (n - 1))
        assert(math.abs(sd - 1.0) < 1e-6, s"$src z-sd $sd")
      }
      // the keep rule is exactly z > -1, and a calibrated cut keeps the
      // large majority of every source (that's the point vs a global cut)
      rs.foreach(r => assert(r._5 === (r._4 > -1.0)))
      assert(rs.count(_._5).toDouble / n > 0.5, s"$src keep rate")
    }
    // replay one source's z exactly from the raw ratios
    val bySrc = rows.groupBy(_._2).head._2
    val qs = bySrc.map(_._3)
    val mu = qs.sum / qs.length
    val sigma = math.sqrt(qs.map(q => (q - mu) * (q - mu)).sum / (qs.length - 1))
    bySrc.foreach { r =>
      assert(math.abs(r._4 - (r._3 - mu) / sigma) < 5.1e-7, s"z replay doc ${r._1}")
    }
  }

  test("incremental knn scores new-batch against corpus only, consistent with the full graph") {
    val full = Similarity.knnGraph(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val inc = Similarity.knnIncremental(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    assert(inc.nonEmpty)
    // only new (odd) queries, only existing (even) neighbors
    assert(inc.forall(e => e._1 % 2 == 1 && e._2 % 2 == 0))
    // every incremental edge carries the same exact cosine as the full
    // graph computes for that pair when the pair survives the full
    // graph's top-k (the incremental list can rank deeper because odd
    // competitors are absent — so containment, not equality)
    val fullEdges = full.map(e => (e._1, e._2) -> e._3).toMap
    inc.foreach { case (q, n, c, _) =>
      fullEdges.get((q, n)).foreach(fc => assert(fc === c, s"cosine drift $q->$n"))
    }
    // within each query, ranks are 1..m ordered by (cosine desc, id)
    inc.groupBy(_._1).foreach { case (q, es) =>
      val sorted = es.sortBy(e => (-e._3, e._2)).map(_._4).toSeq
      assert(sorted === (1 to es.length).toSeq, s"rank order for $q")
      assert(es.length <= 5)
    }
  }

  test("mixture repetition materializes exact per-mille epoch counts") {
    import spark.implicits._
    // driver replay of the portable 60-bit md5-prefix hash
    def h60(s: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(15), 16)
    }
    // explicit recipe: srcA 2.4 epochs (2 full + 40% coin), srcB 0.4
    // (downsample to a 40% subset) — the up- and down-sampling branches
    val docs = (0L until 200L)
      .map(i => (i, if (i % 2 == 0) "srcA" else "srcB", s"text $i"))
      .toDF("doc_id", "source", "text")
    val recipe = Map("srcA" -> 2400, "srcB" -> 400)
    val rows = TextOps.repeatMixtureOf(docs, recipe,
        TextOps.portableDocIdHash).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getLong(3),
        r.getLong(4), r.getInt(5)))
    // exact replay: n_copies = w_pm div 1000 + (h % 1000 < w_pm % 1000)
    val expected = (0L until 200L).map { i =>
      val w = if (i % 2 == 0) 2400 else 400
      i -> (w / 1000 + (if (h60(i.toString) % 1000 < w % 1000) 1 else 0)).toLong
    }.toMap
    val byDoc = rows.groupBy(_._1)
    expected.foreach { case (id, n) =>
      val copies = byDoc.getOrElse(id, Array.empty)
      assert(copies.length.toLong === n, s"doc $id copy count")
      // copy_idx is exactly 1..n and each copy's shard replays the hash
      assert(copies.map(_._5).sorted.toSeq === (1L to n).toSeq, s"doc $id idx")
      copies.foreach { c =>
        assert(c._6 === (h60(s"${c._1}:${c._5}") % TextOps.RepeatShards).toInt)
      }
    }
    // srcA docs all appear ≥ 2 times; srcB only ever 0 or 1
    rows.filter(_._2 == "srcA").groupBy(_._1).foreach(g => assert(g._2.length >= 2))
    assert(rows.filter(_._2 == "srcB").groupBy(_._1).forall(_._2.length == 1))
    // the coin is a uniform per-mille cut: kept srcB fraction within a
    // loose binomial band around 40% (the count is deterministic, the
    // band only guards the hash's uniformity)
    val keptB = rows.count(_._2 == "srcB")
    assert(keptB > 20 && keptB < 60, s"srcB kept $keptB of 100 at 400 per-mille")
    // derived-weight default runs and stays within [0.4, 2.8] epochs
    val derived = TextOps.repeatMixtureOf(docs.drop("text"),
      idHash = TextOps.portableDocIdHash)
    val ws = derived.select("w_pm").distinct().collect().map(_.getInt(0))
    assert(ws.forall(w => w >= 400 && w <= 2800))
  }

  test("bm25 ranks by relevance, length norm, and idf rarity") {
    import spark.implicits._
    // 6 padding docs pin the corpus stats; probe docs isolate one BM25
    // property each against them
    val docs = Seq(
      (0L, "hash join vector stream"),            // all query terms, short
      (1L, "hash join vector stream pad pad pad pad pad pad pad pad"), // same tf, longer
      (2L, "pad pad pad pad"),                    // no query terms
      (3L, "hash hash hash hash"),                // tf saturation probe
      (4L, "pad pad"), (5L, "pad qux"), (6L, "qux pad"),
      (7L, "pad qux pad"), (8L, "qux qux"))
      .toDF("doc_id", "text")
    val top = TextOps.bm25TopKOf(docs, TextOps.Bm25Query, k = 9).collect()
      .map(r => r.getLong(0) -> (r.getDouble(2), r.getInt(3))).toMap
    // relevance: any doc containing query terms beats the no-term docs
    assert(top(0L)._1 > top(2L)._1)
    // length normalization: identical tf vector, shorter doc wins
    assert(top(0L)._1 > top(1L)._1)
    // ranks are the descending-score order with doc_id tie-break
    val byRank = top.toSeq.sortBy(_._2._2).map(_._2._1)
    assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b })
  }

  test("lm score matches the closed-form add-one bigram model") {
    import spark.implicits._
    // corpus: bigram (a b) twice, (a c) once; c1(a)=3, V=3.
    // Default model pruning (LmMinCount=2) drops the hapax (a c) from
    // the MODEL but not from the denominators: p(b|a) = (2+1)/(3+3) =
    // 0.5; (a c) scores as unseen, p(c|a) = (0+1)/(3+3) = 1/6.
    val docs = Seq((0L, "a b"), (1L, "a b"), (2L, "a c"))
      .toDF("doc_id", "text")
    val rows = TextOps.lmScoreOf(docs).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).sortBy(_._1)
    assert(rows.map(_._2).toSeq === Seq(1, 1, 1))
    assert(rows(0)._3 === 0.5 && rows(1)._3 === 0.5)
    assert(rows(2)._3 === 0.166667)
    // the corpus-typical documents outscore the outlier — the filter's
    // ranking contract (pruning can only widen this gap)
    assert(rows(0)._3 > rows(2)._3)
    // minCount=1 disables pruning and reproduces the full add-one
    // closed form: p(c|a) = (1+1)/(3+3) = 1/3
    val unpruned = TextOps.lmScoreOf(docs, minCount = 1).collect()
      .map(r => (r.getLong(0), r.getDouble(2))).sortBy(_._1)
    assert(unpruned(2)._2 === 0.333333)
  }

  test("source overlap finds identical sources at jaccard 1 and omits disjoint pairs") {
    import spark.implicits._
    val docs = Seq(
      ("srcA", "x y z w"), ("srcB", "x y z w"),   // identical shingle sets
      ("srcC", "p q r s t"))                      // disjoint vocabulary
      .toDF("source", "text")
    val rows = TextOps.sourceOverlapOf(docs).collect()
      .map(r => ((r.getString(1), r.getString(0)),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))))
    // srcA/srcB share both 3-shingles exactly; srcC pairs are absent
    assert(rows.length === 1)
    val ((a, b), (na, nb, ni, j)) = rows.head
    assert(Set(a, b) === Set("srcA", "srcB"))
    assert(na === 2L && nb === 2L && ni === 2L && j === 1.0)
  }

  test("hybrid RRF fuses exactly the two arm rankings") {
    val t = TextOps.bm25TopKOf(graft.Tables.documents(spark, sf),
        TextOps.Bm25Query, 20)
      .collect().map(r => r.getLong(0) -> r.getInt(3)).toMap
    val v = Similarity.bruteForceTopK(spark, sf, numQueries = 1, k = 20)
      .collect().map(r => r.getLong(1) -> r.getInt(3)).toMap
    // driver-side replay: text-then-vector term order, 1/(60+rank)
    val expected = (t.keySet ++ v.keySet).toSeq.map { id =>
      val s = t.get(id).map(r => 1.0 / (60.0 + r)).getOrElse(0.0) +
        v.get(id).map(r => 1.0 / (60.0 + r)).getOrElse(0.0)
      (id, s)
    }.sortBy { case (id, s) => (-s, id) }.take(10)
    val got = Similarity.hybridRrf(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(3), r.getInt(4)))
    assert(got.map(_._1).toSeq === expected.map(_._1))
    got.zip(expected).foreach { case ((id, rs, _), (_, es)) =>
      val er = BigDecimal(es).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(rs - er) < 1e-9, s"doc $id rrf $rs != $er")
    }
    assert(got.map(_._3).toSeq === (1 to 10))
  }

  test("diversity sample emits exactly each cell's medoid-toward-centroid") {
    val emb = graft.Tables.embeddings(spark, sf)
      .select("vec_id", "embedding").orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getAs[scala.collection.Seq[Float]](1).toArray))
    val numCells = math.ceil(math.sqrt(emb.length.toDouble)).toInt
    val cents = emb.take(numCells).map(_._2.map(_.toDouble))
    // independent driver-side replay of assignment + representative rule
    val expected = emb.map { case (id, v) =>
      val c = Similarity.nearestCell(cents, v)
      val ct = cents(c)
      var d = 0.0; var i = 0
      while (i < v.length) { val t = v(i) - ct(i); d += t * t; i += 1 }
      (c.toLong, id, d)
    }.groupBy(_._1).map { case (cell, xs) =>
      val best = xs.minBy(x => (x._3, x._2))
      cell -> (best._2, xs.length.toLong,
        BigDecimal(best._3).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    val got = Similarity.sampleDiverse(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(got.keySet === expected.keySet)
    expected.foreach { case (cell, (id, sz, dist)) =>
      assert(got(cell)._1 === id, s"cell $cell rep")
      assert(got(cell)._2 === sz, s"cell $cell size")
      assert(math.abs(got(cell)._3 - dist) < 1e-9, s"cell $cell dist")
    }
  }

  test("winnowing pairs documents sharing a long run and caps boilerplate prints") {
    import spark.implicits._
    val shared = (0 until 20).map(i => s"run$i").mkString(" ")
    val docs0 = Seq(
      (0L, s"alpha beta gamma $shared delta epsilon"),
      (1L, s"zeta eta theta iota $shared kappa"),
      (2L, "lone words that never repeat anywhere else at all here now"))
    val pairs = TextOps.winnowPairsOf(docs0.toDF("doc_id", "text")).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    // the winnowing guarantee: a shared ≥ k+w−1 token run yields shared
    // selected prints; 20 tokens → ≥3, clearing minShared
    assert(pairs.contains((0L, 1L)), s"missing shared-run pair: $pairs")
    assert(pairs((0L, 1L)) >= 2)
    assert(pairs.keySet === Set((0L, 1L)), "unrelated doc must not pair")
    // df-cap: the same boilerplate across 40 docs exceeds dfCap=32, so
    // its prints leave candidate generation entirely
    val boiler = (0 until 40).map(i =>
      (i.toLong, s"u${i}a u${i}b common boiler plate text repeated verbatim everywhere u${i}c"))
    val capped = TextOps.winnowPairsOf(boiler.toDF("doc_id", "text")).collect()
    assert(capped.isEmpty, s"boilerplate prints must be df-capped, got ${capped.length}")
  }

  test("offset query returns rows 1001..1500 of the defined total order") {
    val rows = Relational.q13Offset(spark, sf).collect()
    assert(rows.length === 500)
    val all = graft.Tables.lineitem(spark, sf)
      .orderBy("l_orderkey", "l_linenumber")
      .select("l_orderkey", "l_linenumber").collect()
    assert(rows.head.getLong(0) === all(1000).getLong(0))
    assert(rows.head.getInt(1) === all(1000).getInt(1))
  }

  test("topk is deterministic under ties (id tiebreak)") {
    val a = Relational.q12TopK(spark, sf).collect().map(_.getLong(0)).toSeq
    val b = Relational.q12TopK(spark, sf).collect().map(_.getLong(0)).toSeq
    assert(a === b)
  }

  test("ann brute-force rank 1 neighbor has the max cosine") {
    val rows = Similarity.bruteForceTopK(spark, sf, numQueries = 3, k = 5).collect()
    val byQuery = rows.groupBy(_.getLong(0))
    byQuery.foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getInt(3))
      assert(sorted.map(_.getDouble(2)).toSeq ===
        sorted.map(_.getDouble(2)).sortBy(-(_: Double)).toSeq)
    }
  }

  test("language id prediction is a known language or und") {
    val langs = Set("de", "en", "es", "fr", "zh", "und")
    TextOps.langId(spark, sf).select("lang_pred").distinct()
      .collect().foreach(r => assert(langs.contains(r.getString(0))))
  }

  test("batched multimodal decode is deterministic and covers every record") {
    val payload = Multimodal.asBinaryPayload(spark, sf)
    val a = Multimodal.decodeBatched(payload, batchSize = 64).collect()
      .map(r => (r.getLong(0), r.getLong(2))).sorted.toSeq
    val b = Multimodal.decodeBatched(payload, batchSize = 7).collect()
      .map(r => (r.getLong(0), r.getLong(2))).sorted.toSeq
    assert(a === b) // batch shape must not affect results
    assert(a.length === graft.Tables.documents(spark, sf).count())
  }

  test("phash signatures are local: equal payloads collide, edits stay near") {
    import org.apache.spark.sql.functions._
    val base = "the quick brown fox jumps over the lazy dog " * 8
    val perturbed = base.updated(10, 'X') // one-byte edit
    val unrelated = "zqvx9 entirely different content stream 0x7f " * 8
    import spark.implicits._
    val payload = Seq((1L, base), (2L, base), (3L, perturbed), (4L, unrelated))
      .toDF("doc_id", "text")
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
    for (h <- Seq[org.apache.spark.sql.Column => org.apache.spark.sql.Column](
        xxhash64(_), graft.functions.TextFunctions.portableTokenHash)) {
      val sigs = Multimodal.phashSignatures(payload, h)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(sigs(1L) === sigs(2L), "identical payloads must collide")
      def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
      assert(ham(sigs(1L), sigs(3L)) <= 3,
        s"one-byte edit drifted ${ham(sigs(1L), sigs(3L))} bits")
      assert(ham(sigs(1L), sigs(4L)) > 3,
        "unrelated payloads must not sit inside the verify threshold")
    }
    // and the fixture-level pipeline respects the verify threshold in
    // both hash variants
    for (df <- Seq(Multimodal.phashPairsPortable(spark, sf),
                   Multimodal.phashPairs(spark, sf))) {
      assert(df.collect().forall(_.getInt(2) <= 3))
    }
  }

  test("phash signature kernel is bit-equal to the declarative pipeline, both hashes") {
    // r11: the bench entries compute signatures through the one-pass
    // per-payload kernel (phashSignaturesKernel); the exploded
    // gram-hash + graft_simhash pipeline stays the reference. The two
    // must agree per doc on BOTH shipped hashes, across the fixture
    // corpus AND the length edges (0..5 bytes: below/at/just past the
    // 4-byte gram width), or the kernel is silently re-deriving
    // different candidates.
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val edges = Seq((9001L, ""), (9002L, "abc"), (9003L, "abcd"),
      (9004L, "abcde"), (9005L, "aaaaaaaa"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), col("text").cast("binary").as("payload"),
        struct(lit("text/plain").as("mime"),
          length(col("text").cast("binary")).as("n_bytes")).as("meta"))
    val payload = Multimodal.asBinaryPayload(spark, sf).unionByName(edges)
    for ((h, portable) <- Seq[(org.apache.spark.sql.Column => org.apache.spark.sql.Column, Boolean)](
        (xxhash64(_), false),
        (graft.functions.TextFunctions.portableTokenHash, true))) {
      val pipe = Multimodal.phashSignatures(payload, h)
      val kern = Multimodal.phashSignaturesKernel(payload, portable)
      assert(pipe.exceptAll(kern).isEmpty && kern.exceptAll(pipe).isEmpty,
        s"kernel/pipeline signature divergence (portable=$portable)")
    }
  }

  test("token simhash kernel is bit-equal to the declarative pipeline, both hashes") {
    // r11: dedup_simhash{,_portable} compute signatures through the
    // one-pass kernel; the explode → tokenHash → graft_simhash pipeline
    // stays the reference. Edge corpus exercises the tokenizer contract
    // the kernel must replicate: Spark trim strips ASCII spaces only,
    // split("\\s+", -1) keeps leading AND trailing empty tokens (tabs/
    // newlines survive trim), empty-after-trim docs are absent.
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val edges = Seq((9001L, ""), (9002L, "   "), (9003L, "\t"),
      (9004L, "ab\t"), (9005L, " \tab cd\n"), (9006L, "one"),
      (9007L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val docs = graft.Tables.documents(spark, sf)
      .select("doc_id", "text").unionByName(edges)
    for ((h, portable) <- Seq[(org.apache.spark.sql.Column => org.apache.spark.sql.Column, Boolean)](
        (xxhash64(_), false),
        (TextFunctions.portableTokenHash(_), true))) {
      val pipe = Dedup.simhashSignatures(docs, h)
      val kern = Dedup.simhashSignaturesKernel(docs, portable)
      assert(pipe.exceptAll(kern).isEmpty && kern.exceptAll(pipe).isEmpty,
        s"kernel/pipeline token-simhash divergence (portable=$portable)")
    }
  }

  test("phash xxhash64 path matches the portable twin on a dup-structured corpus") {
    // VERDICT r6 item 7: the production (xxhash64-gram) path is exactly
    // the one no oracle value-checks — pin its pairing decisions against
    // the portable twin on a synthetic corpus where the right answer is
    // hash-independent: exact copies pair at hamming 0 under ANY gram
    // hash, and unrelated payloads must pair under NEITHER. A refactor
    // that breaks phashPairs(portableHash=false) turns this red.
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog " * 8,
      "pack my box with five dozen liquor jugs today " * 8,
      "zqvx9 entirely different content stream 0x7f!! " * 8)
    val corpus = texts.zipWithIndex.flatMap { case (t, i) =>
      Seq((i * 10L + 1, t), (i * 10L + 2, t), (i * 10L + 3, t)) // 3 copies
    }
    val payload = corpus.toDF("doc_id", "text")
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
    def pairSet(gh: org.apache.spark.sql.Column => org.apache.spark.sql.Column) =
      Multimodal.phashPairsOf(payload, gh)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val fast = pairSet(xxhash64(_))
    val portable = pairSet(graft.functions.TextFunctions.portableTokenHash)
    val expected = (0 until 3).flatMap { i =>
      val ids = Seq(i * 10L + 1, i * 10L + 2, i * 10L + 3)
      for (a <- ids; b <- ids if a < b) yield (a, b)
    }.toSet
    assert(fast === expected, "xxhash64 path missed/invented pairs")
    assert(portable === expected, "portable path missed/invented pairs")
  }

  test("phash clusters: exact-copy pre-collapse matches the naive pairing") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // fixture docs plus REPLICATED copies (the scaled-fixture shape that
    // made the uncollapsed path go super-linear): every payload appears
    // 3×; the collapsed path must produce the exact clusters the naive
    // all-copies pairing does
    val base = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
      .limit(200)
    val n = 1000000L // offset past any fixture doc_id so copies get fresh ids
    val replicated = (0 until 3).map { r =>
      base.select((col("doc_id") + lit(r * n)).as("doc_id"),
        col("payload"),
        struct(lit("text/plain").as("mime"),
          length(col("payload")).as("n_bytes")).as("meta"))
    }.reduce(_ unionByName _)
    val h = graft.functions.TextFunctions.portableTokenHash(_)
    val naive = Dedup.componentsOf(spark,
        Dedup.simhashBucketVerify(
            Multimodal.phashSignatures(replicated, h), 100000)
          .select(col("id_a"), col("id_b")))
      .groupBy("cluster_id").agg(count(lit(1)).as("n_members"))
    val collapsed = Multimodal.phashClustersOf(spark, replicated)
    assert(naive.exceptAll(collapsed).isEmpty &&
      collapsed.exceptAll(naive).isEmpty,
      "pre-collapsed clusters diverged from the naive pairing")
    // every copy group must land in one cluster of size ≥ 3
    assert(collapsed.filter(col("n_members") < 3).count() === 0)
  }

  test("IVF ANN recall vs brute force clears the nprobe/cells floor") {
    def topSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = topSet(Similarity.bruteForceTopK(spark, sf, numQueries = 10, k = 5))
    val ivf = topSet(Similarity.annIvf(spark, sf, numQueries = 10, k = 5))
    val recall = (brute & ivf).size.toDouble / brute.size
    // nprobe=3 of 16 cells scans ~19% of the corpus; near-neighbors
    // concentrate in the probed cells, so recall must beat that floor
    // comfortably (observed ~0.9 on fixtures; 0.5 guards regressions)
    assert(recall >= 0.5, s"IVF recall $recall")
  }

  test("IVF-PQ ANN refines with exact cosines and clears a recall floor") {
    val brute = Similarity.bruteForceTopK(spark, sf, numQueries = 10, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val pq = Similarity.annIvfPq(spark, sf, numQueries = 10, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val recall = (brute.keySet & pq.keySet).size.toDouble / brute.size
    // same probed cells as annIvf (nprobe=3 of 16); PQ only mis-ranks
    // candidates INSIDE those cells, and the rerank=32 exact refinement
    // recovers almost all of it (observed ≈ the plain-IVF recall on
    // fixtures; 0.5 guards regressions)
    assert(recall >= 0.5, s"IVF-PQ recall $recall")
    // refinement contract: emitted cosines are EXACT (the ADC
    // approximation may only choose candidates, never score survivors)
    (brute.keySet & pq.keySet).foreach { key =>
      assert(pq(key) === brute(key), s"pair $key cosine ${pq(key)} != ${brute(key)}")
    }
  }

  test("stratified split is deterministic and splits every label near the rate") {
    val rows = Similarity.stratifiedSplit(spark, sf).collect()
      .map(r => (r.getLong(0), String.valueOf(r.get(1)), r.getString(3)))
    val again = Similarity.stratifiedSplit(spark, sf).collect()
      .map(r => (r.getLong(0), String.valueOf(r.get(1)), r.getString(3)))
    assert(rows.sortBy(_._1).toSeq === again.sortBy(_._1).toSeq) // pure function of the key
    val byLabel = rows.groupBy(_._2)
    assert(byLabel.size > 1)
    byLabel.foreach { case (label, rs) =>
      val frac = rs.count(_._3 == "train").toDouble / rs.length
      // binomial noise at ~50 rows/label: generous band around 0.8
      assert(frac > 0.55 && frac < 0.95, s"label $label train fraction $frac")
    }
    val global = rows.count(_._3 == "train").toDouble / rows.length
    assert(global > 0.72 && global < 0.88, s"global train fraction $global")
  }

  test("multi-probe LSH recall dominates single-probe and clears a floor") {
    def topSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = topSet(Similarity.bruteForceTopK(spark, sf, numQueries = 10, k = 5))
    val single = topSet(Similarity.annLsh(spark, sf, numQueries = 10, k = 5))
    val multi = topSet(Similarity.annLshMultiProbe(spark, sf, numQueries = 10, k = 5))
    val rSingle = (brute & single).size.toDouble / brute.size
    val rMulti = (brute & multi).size.toDouble / brute.size
    // radius-1 probing scans a strict superset of the single-probe
    // candidates, so recall can only improve
    assert(rMulti >= rSingle, s"multi $rMulti < single $rSingle")
    // 5 of 16 buckets probed (~31% of an isotropic corpus) — near
    // neighbors concentrate in the probed ball, so recall must beat the
    // floor comfortably (observed ~0.9+ on fixtures; 0.5 guards)
    assert(rMulti >= 0.5, s"multi-probe recall $rMulti")
  }

  test("dedup/ANN operators release persisted intermediates") {
    // the CacheLifecycle contract: each operator may retain its
    // checkpointed (output-sized) result, never its working set — a leak
    // shows up as extra persistent RDD entries beyond one per operator
    Dedup.releasePairs()
    val before = spark.sparkContext.getPersistentRDDs.size
    val ops: Seq[() => org.apache.spark.sql.DataFrame] = Seq(
      () => Dedup.minhashLsh(spark, sf),
      () => Dedup.simhashPairs(spark, sf),
      () => Dedup.simhashPairsPortable(spark, sf),
      () => Dedup.fuzzyNames(spark, sf),
      () => Dedup.embeddingCosine(spark, sf),
      () => Dedup.containment(spark, sf), // pre-persists sh for the cap probe
      () => Similarity.annIvf(spark, sf),
      () => graft.streaming.StreamOps.streamingMinhashNearDup(spark, sf))
    ops.foreach(op => assert(op().count() > 0))
    val after = spark.sparkContext.getPersistentRDDs.size
    // the family-shared corpus intermediates (shingles, docFreq, arrays,
    // vectors) stay persisted BY DESIGN until releasePairs(); allow them
    // on top of the per-op checkpoint budget
    val familyBudget = 6
    assert(after - before <= ops.length + familyBudget,
      s"leaked persisted intermediates: $before -> $after for ${ops.length} ops")
    // and the explicit release drops the family set (the lifecycle contract)
    Dedup.releasePairs()
    val released = spark.sparkContext.getPersistentRDDs.size
    assert(released - before <= ops.length,
      s"releasePairs left family intermediates persisted: $before -> $released")
  }

  test("approximate aggregates stay within tolerance of exact values") {
    val approx = Relational.q20ApproxAgg(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val exact = graft.Tables.events(spark, sf)
      .groupBy("event_type")
      .agg(countDistinct("user_id").as("u"),
        expr("percentile(value, 0.5)").as("p50"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    exact.foreach { case (k, (u, p50)) =>
      val (au, ap50) = approx(k)
      assert(math.abs(au - u).toDouble / u <= 0.05, s"$k HLL count $au vs $u")
      // KLL-style quantile sketch with accuracy 1000: tight on this data
      assert(math.abs(ap50 - p50) / math.max(p50, 1.0) <= 0.05,
        s"$k p50 $ap50 vs $p50")
    }
  }

  test("IVF ANN returns at most k ranked neighbors per query with descending scores") {
    val rows = Similarity.annIvf(spark, sf, numQueries = 5, k = 5).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      assert(rs.length <= 5)
      val sorted = rs.sortBy(_.getInt(3)).map(_.getDouble(2)).toSeq
      assert(sorted === sorted.sortBy(-(_: Double)))
    }
  }

  test("chunking covers every token with the declared overlap") {
    val docs = graft.Tables.documents(spark, sf)
    val chunks = TextOps.chunk(spark, sf, chunkSize = 50, stride = 40).collect()
    val byDoc = chunks.groupBy(_.getLong(0))
    val tokenCounts = docs.select(col("doc_id"),
      size(graft.functions.TextFunctions.tokens(col("text"))).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    byDoc.foreach { case (docId, rows) =>
      val n = tokenCounts(docId)
      val sorted = rows.sortBy(_.getInt(1))
      // starts advance by exactly the stride from 1, and the windows
      // cover [1, n]: last start + its chunk length reaches n
      sorted.zipWithIndex.foreach { case (r, i) =>
        assert(r.getInt(2) === 1 + i * 40, s"doc $docId start")
      }
      val last = sorted.last
      assert(last.getInt(2) + last.getInt(3) - 1 === n, s"doc $docId tail")
      // every chunk is exactly min(chunkSize, tokens remaining at start)
      sorted.foreach(r =>
        assert(r.getInt(3) === math.min(50, n - r.getInt(2) + 1), s"doc $docId len"))
    }
    assert(byDoc.nonEmpty)
  }

  test("int8 quantization bounds the roundtrip error by half a step") {
    // reconstruct x ≈ q/scale and compare against the original component
    // (0.51/scale margin absorbs the 6-dp rounding of the emitted scale)
    val err = Similarity.quantizeInt8(spark, sf).as("qz")
      .join(graft.Tables.embeddings(spark, sf).select(col("vec_id"),
        posexplode(col("embedding")).as(Seq("dim_idx", "x"))), Seq("vec_id", "dim_idx"))
      .select((abs(col("q") / col("scale") - col("x").cast("double"))
        - lit(0.51) / col("scale")).as("over"))
      .filter(col("over") > 0).count()
    assert(err === 0)
    // quantized values stay in the int8 range
    val out = Similarity.quantizeInt8(spark, sf)
      .filter(col("q") > 127 || col("q") < -127).count()
    assert(out === 0)
  }

  test("decontamination excludes the eval slice and flags consistently") {
    val rows = TextOps.decontaminate(spark, sf).collect()
    val nTrain = graft.Tables.documents(spark, sf)
      .filter(col("doc_id") % 10 =!= 0).count()
    assert(rows.length.toLong === nTrain) // every training doc, exactly once
    rows.foreach { r =>
      assert(r.getLong(0) % 10 != 0, "eval doc leaked into training output")
      assert(r.getBoolean(2) === (r.getLong(1) > 0), "flag inconsistent with count")
    }
    // an exact copy of an eval doc must be flagged (fixture has exact dups;
    // guard only when such a cross-slice pair exists at this sf)
    val texts = graft.Tables.documents(spark, sf)
      .select("doc_id", "text").collect().map(r => r.getLong(0) -> r.getString(1))
    val evalTexts = texts.filter(_._1 % 10 == 0).map(_._2).toSet
    val copies = texts.filter { case (id, t) =>
      id % 10 != 0 && evalTexts.contains(t) && t.trim.split("\\s+").length >= 3 }
    val flagged = rows.filter(_.getBoolean(2)).map(_.getLong(0)).toSet
    copies.foreach { case (id, _) =>
      assert(flagged.contains(id), s"doc $id copies an eval doc but is not flagged")
    }
  }

  test("sequence packing matches hand-computed boundaries and fixture invariants") {
    import spark.implicits._
    // budget 10: src0 docs of 4, 7, 3 tokens → cum-before 0, 4, 11 →
    // seqs 0,0,1 at offsets 0,4,1 (doc 2 straddles the seq-0/1 boundary);
    // src1 packs independently from zero
    val tiny = Seq(
      (1L, "src0", "a b c d"),
      (2L, "src0", "a b c d e f g"),
      (3L, "src0", "x y z"),
      (4L, "src1", "p q")).toDF("doc_id", "source", "text")
    val packed = TextOps.packSequencesOf(tiny, budget = 10).collect()
      .map(r => r.getLong(0) -> (r.getInt(2), r.getLong(3), r.getLong(4))).toMap
    assert(packed(1L) === ((4, 0L, 0L)))
    assert(packed(2L) === ((7, 0L, 4L)))
    assert(packed(3L) === ((3, 1L, 1L)))
    assert(packed(4L) === ((2, 0L, 0L)))
    // fixture invariants: offsets stay inside the budget; within a source
    // the token stream is gapless (next offset = prev offset + prev
    // tokens, mod budget, carried across sequences)
    val rows = TextOps.packSequences(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    assert(rows.forall(r => r._5 >= 0 && r._5 < 2048))
    rows.groupBy(_._2).values.foreach { docs =>
      docs.sortBy(_._1).foldLeft(0L) { case (cum, (_, _, n, seqId, off)) =>
        assert(seqId === cum / 2048, s"seq_id mismatch at cum $cum")
        assert(off === cum % 2048, s"offset mismatch at cum $cum")
        cum + n
      }
    }
  }

  test("semantic dedup drops are valid within-cell pairs of the global near-dup set") {
    val drops = Dedup.semanticDedup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(drops.nonEmpty, "fixture lost its semantic duplicates")
    // survivor rule: keeper precedes the dropped id, similarity clears τ
    drops.foreach { case (vecId, _, keepId, cosine) =>
      assert(keepId < vecId, s"keeper $keepId does not precede $vecId")
      assert(cosine >= 0.45, s"pair ($keepId,$vecId) below threshold: $cosine")
    }
    // one drop decision per vector
    assert(drops.map(_._1).distinct.length === drops.length)
    // cluster-scoped search trades recall, never precision: every emitted
    // pair must appear in the exact-recall global pipeline with the same
    // rounded cosine
    val global = Dedup.embeddingCosine(spark, sf).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    drops.foreach { case (vecId, _, keepId, cosine) =>
      assert(global.get((keepId, vecId)).contains(cosine),
        s"semantic pair ($keepId,$vecId,$cosine) missing from the global near-dup set")
    }
  }

  test("repetition metrics match hand-computed values and stay in [0,1]") {
    import spark.implicits._
    // "a a a b": top unigram a=3/4; bigrams [a a, a a, a b] → 2/3;
    // 3-grams [a a a, a a b] distinct=2 of 2 → dup frac 0
    val crafted = Seq((1L, "a a a b"), (2L, "x y")).toDF("doc_id", "text")
    val m = TextOps.repetitionOf(crafted).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(m(1L).getInt(1) === 4)
    assert(m(1L).getDouble(2) === 0.75)
    assert(m(1L).getDouble(3) === 0.666667)
    assert(m(1L).getDouble(4) === 0.0)
    assert(m(2L).getInt(1) === 2)
    assert(m(2L).getDouble(3) === 1.0) // "x y": its only bigram fills the doc
    assert(m(2L).isNullAt(4)) // no 3-grams → null, not a fake 0
    TextOps.repetition(spark, sf).collect().foreach { r =>
      Seq(2, 3, 4).filterNot(r.isNullAt).foreach { i =>
        val v = r.getDouble(i)
        assert(v >= 0.0 && v <= 1.0, s"metric $i out of range: $v")
      }
    }
  }

  test("balanced sampling is deterministic and respects the per-source census") {
    val a = TextOps.sampleBalanced(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getBoolean(3)))
    val b = TextOps.sampleBalanced(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getBoolean(3)))
    assert(a.sortBy(_._1).toSeq === b.sortBy(_._1).toSeq)
    val docs = graft.Tables.documents(spark, sf)
    assert(a.length.toLong === docs.count()) // decision emitted per doc
    val census = docs.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    a.groupBy(_._2).foreach { case (src, rows) =>
      assert(rows.head._3 === census(src), s"n_source wrong for $src")
      assert(rows.map(_._1).distinct.length === rows.length)
    }
    // the smallest source is always kept whole: h mod min < min is a tautology
    val minSrc = census.minBy(_._2)._1
    assert(a.filter(_._2 == minSrc).forall(_._4), "smallest source must survive intact")
  }

  test("training manifest excludes eval, contaminated, and purged docs") {
    val rows = TextOps.trainingManifest(spark, sf).collect()
    assert(rows.nonEmpty)
    val ids = rows.map(_.getLong(0)).toSet
    assert(ids.size === rows.length) // one manifest row per doc
    rows.foreach(r => assert(r.getInt(3) >= 20, "quality gate violated"))
    assert(ids.forall(_ % 10 != 0), "eval doc in manifest")
    val contaminated = TextOps.decontaminate(spark, sf)
      .filter(col("contaminated")).collect().map(_.getLong(0)).toSet
    val purged = Dedup.purge(spark, sf)
      .filter(col("purge")).collect().map(_.getLong(0)).toSet
    assert((ids & contaminated).isEmpty, "contaminated doc in manifest")
    assert((ids & purged).isEmpty, "purged near-dup in manifest")
  }

  test("containment dominates jaccard: every j≥0.8 pair appears both ways") {
    // |A∩B|/|A| ≥ |A∩B|/|A∪B|, so a jaccard-τ pair is a containment-τ
    // pair in BOTH directions — the jaccard pairs give ground truth
    val jac = Dedup.ngramJaccard(spark, sf).collect()
      .filter(_.getDouble(2) >= 0.8)
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
    assert(jac.nonEmpty, "fixture lost its high-jaccard near-dup pairs")
    val got = Dedup.containment(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    jac.foreach { case ((a, b), j) =>
      Seq((a, b), (b, a)).foreach { p =>
        assert(got.contains(p), s"jaccard-$j pair $p missing from containment")
        assert(got(p) >= j - 1e-6, s"containment ${got(p)} below jaccard $j for $p")
      }
    }
    got.values.foreach(c => assert(c >= 0.8 && c <= 1.0 + 1e-9))
  }

  test("dedup spans finds exactly the planted repeated substrings") {
    import spark.implicits._
    // two docs share one 30-char block at different offsets; everything
    // else is unique → exactly one maximal span per doc, at the block
    // boundary chars DIFFER on both sides so the maximal shared span is
    // exactly the block (shared adjacent chars would rightly extend it)
    val block = "ABCDEFGHIJKLMNOPQRSTUVWXYZ0123" // 30 chars
    val t1 = s"unique-head-one(${block}]tail-one-unique-suffix-x"
    val docs = Seq(
      (1L, t1),
      (2L, s"completely-different-prefix-two[$block)other-tail-two"),
      (3L, "no repeats here at all, nothing shared with any other doc")
    ).toDF("doc_id", "text")
    val spans = TextOps.dedupSpansOf(docs, minLen = 20).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).sortBy(_._1)
    // doc 3 is clean; docs 1 and 2 each carry ONE span covering the
    // shared 30-char block (merged from its 11 repeated 20-grams)
    assert(spans.map(_._1).toSeq === Seq(1L, 2L))
    val s1 = spans(0); val s2 = spans(1)
    assert(s1._3 === 30 && s2._3 === 30, s"span lengths ${s1._3}/${s2._3}")
    assert(t1.substring(s1._2 - 1, s1._2 - 1 + s1._3) === block)
    // a doc repeating a block INTERNALLY is also caught (self-repeat)
    val selfRep = Seq((9L, s"$block middle filler text $block")).toDF("doc_id", "text")
    val self = TextOps.dedupSpansOf(selfRep, minLen = 20).collect()
    assert(self.length === 2, "internal repeat must yield two spans")
    // dirty input: null text and docs shorter than minLen drop out
    // silently instead of failing the scan
    val dirty = Seq((10L, null.asInstanceOf[String]), (11L, "short"),
      (12L, ""), (13L, s"ok $block"), (14L, s"ok $block"))
      .toDF("doc_id", "text")
    val ds = TextOps.dedupSpansOf(dirty, minLen = 20).collect()
    assert(ds.map(_.getLong(0)).toSet === Set(13L, 14L))

    // span application: cutting the detected spans leaves exactly the
    // unique remainder; clean docs pass through untouched
    val cut = TextOps.spanCutOf(docs, minLen = 20).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2), r.getString(3))).toMap
    assert(cut(1L) === ((1, 30L, "unique-head-one(]tail-one-unique-suffix-x")))
    assert(cut(3L)._1 === 0)
    assert(cut(3L)._3 === "no repeats here at all, nothing shared with any other doc")
    // internal repeat: both copies excised
    val cutSelf = TextOps.spanCutOf(selfRep, minLen = 20).collect()(0)
    assert(cutSelf.getInt(1) === 2 && cutSelf.getLong(2) === 60L)
    assert(cutSelf.getString(3) === " middle filler text ")
  }

  test("pair pipeline verify strategies (corpus-wide vs candidate-proportional) agree") {
    // the 100 TB shape (arrays only for candidate docs) must be
    // result-identical to the overlap-friendly local default
    val full = Dedup.ngramJaccardPlan(spark, sf)._1.collect().map(_.toSeq).toSet
    val prop = Dedup.ngramJaccardPlan(spark, sf,
      candidateProportionalVerify = true)._1.collect().map(_.toSeq).toSet
    assert(full === prop)
    assert(full.nonEmpty, "fixture lost its near-dup pairs")
  }

  test("containment df-cap bounds candidate volume under duplication skew") {
    import spark.implicits._
    // skew corpus: 40 docs share ONLY a boilerplate phrase (each with a
    // long unique tail), plus one true near-superset pair with unique
    // shared content. The boilerplate shingles have df=40.
    val boiler = "terms of service apply to all content here"
    val docs = ((1 to 40).map { i =>
      (i.toLong, s"$boiler unique$i filler$i body$i tail$i pad$i end$i")
    } ++ Seq(
      (41L, "alpha beta gamma delta epsilon"),
      (42L, "alpha beta gamma delta epsilon extra closing tail"))).toDF("doc_id", "text")
    val sh = Dedup.shinglePairsOf(docs)
    // uncapped run takes the direct-count plan (shared = Seq(sh) only)
    val (resU, sharedU) = Dedup.containmentPlanOf(sh, 0.8, Long.MaxValue)
    assert(sharedU.size === 1, "uncapped must use the direct-count plan")
    val resUncapped = resU.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // capped run engages the candidate/verify plan; the hot boilerplate
    // shingles (df=40 > 10) leave candidate generation, so the bucket's
    // 40·39 = 1560 ordered pairs never form — only df≤cap shingle matches
    // survive as candidates
    val (resC, sharedC) = Dedup.containmentPlanOf(sh, 0.8, 10L)
    assert(sharedC.size === 3, "capped must use the candidate/verify plan")
    val candsCapped = sharedC(1).count()
    assert(candsCapped <= 10L, s"capped candidates $candsCapped not bounded")
    val resCapped = resC.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // precision is exact across BOTH plans: the true near-superset pair
    // (41→42, containment 1.0 via df=2 shingles) survives the cap; the
    // boilerplate pairs score below τ in the uncapped run, so the two
    // plans produce identical results on this corpus
    assert(resCapped.contains((41L, 42L)))
    assert(resCapped === resUncapped)
    // and on the real fixture the default cap is far above every df, so
    // the capped entry point resolves to the same direct plan as uncapped
    val fix = Dedup.shinglePairsOf(graft.Tables.documents(spark, sf))
    val a = Dedup.containmentPlanOf(fix, 0.8, 100000)._1.collect()
      .map(_.toSeq).toSet
    val b = Dedup.containmentPlanOf(fix, 0.8, Long.MaxValue)._1.collect()
      .map(_.toSeq).toSet
    assert(a === b)
    // force the candidate/verify plan on the REAL fixture too (cap = 1
    // engages on every repeated shingle): near-superset pairs found by
    // the direct plan through rare shingles must survive
    val c = Dedup.containmentPlanOf(fix, 0.8, 1L)
    assert(c._2.size === 3)
  }

  test("dim reduce is a deterministic linear map: zero in, zero out; additive") {
    val a = Similarity.dimReduce(spark, sf).collect().sortBy(_.getLong(0))
    val b = Similarity.dimReduce(spark, sf).collect().sortBy(_.getLong(0))
    assert(a.map(_.toSeq).toSeq === b.map(_.toSeq).toSeq)
    assert(a.nonEmpty && a.head.length === 9) // vec_id + 8 projections
    // projections are bounded by |R|∞·Σ|x| — sanity that no column is
    // degenerate (all-zero output would mean a broken matrix slice)
    (1 to 8).foreach { j =>
      assert(a.exists(r => math.abs(r.getDouble(j)) > 1e-9), s"column y${j - 1} all zero")
    }
  }

  test("repetition metrics survive degenerate documents") {
    import spark.implicits._
    val crafted = Seq(
      (1L, "solo"), // one token: no bigrams, no 3-grams
      (2L, "a a"), // repeated-token bigram
      (3L, "b b b b b b")) // fully degenerate
      .toDF("doc_id", "text")
    val m = TextOps.repetitionOf(crafted).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(m(1L).getInt(1) === 1)
    assert(m(1L).getDouble(2) === 1.0) // the lone token is the top unigram
    assert(m(1L).isNullAt(3) && m(1L).isNullAt(4)) // no n-grams → null
    assert(m(2L).getDouble(3) === 1.0)
    assert(m(3L).getDouble(2) === 1.0)
    assert(m(3L).getDouble(3) === 1.0)
    // "b b b b b b": 4 total 3-grams, 1 distinct → dup frac 0.75
    assert(m(3L).getDouble(4) === 0.75)
  }

  test("token-budget sampling admits under budget and overshoots at most once") {
    val budget = 120L
    val rows = TextOps.sampleBudget(spark, sf, budget).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getBoolean(3)))
    assert(rows.length.toLong === graft.Tables.documents(spark, sf).count())
    rows.groupBy(_._2).foreach { case (src, docs) =>
      val kept = docs.filter(_._4)
      assert(kept.nonEmpty, s"source $src admitted nothing") // first doc always fits
      val keptTokens = kept.map(_._3).sum
      val maxDoc = docs.map(_._3).max
      // prefix-sum admission: total ≤ budget + one boundary doc
      assert(keptTokens <= budget + maxDoc, s"$src kept $keptTokens tokens")
      // and if anything was rejected, the budget really was exhausted
      if (kept.length < docs.length)
        assert(keptTokens >= budget, s"$src rejected docs below budget")
    }
    val again = TextOps.sampleBudget(spark, sf, budget).collect()
      .map(r => (r.getLong(0), r.getBoolean(3))).sortBy(_._1).toSeq
    assert(again === rows.map(r => (r._1, r._4)).sortBy(_._1).toSeq)
  }

  test("governance ops tolerate null and empty text without crashing") {
    import spark.implicits._
    val dirty = Seq(
      (1L, "src0", "normal words here and more of them"),
      (2L, "src0", null.asInstanceOf[String]),
      (3L, "src1", ""),
      (4L, "src1", "   ")).toDF("doc_id", "source", "text")
    val evalSet = Seq((9L, "eval", "normal words here")).toDF("doc_id", "source", "text")
    // decontamination: null/empty docs have no shingles → clean, not a crash
    val dec = TextOps.decontaminateOf(dirty, evalSet).collect()
      .map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(dec.keySet === Set(1L, 2L, 3L, 4L))
    assert(dec(1L)) // shares "normal words here"
    assert(!dec(2L) && !dec(3L) && !dec(4L))
    // repetition: metrics are null for token-less docs, present for doc 1
    val rep = TextOps.repetitionOf(dirty).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(rep.keySet === Set(1L, 2L, 3L, 4L))
    assert(rep(1L).getDouble(2) > 0)
    // heavy hitters simply skip token-less docs
    val hh = TextOps.heavyHittersOf(dirty, k = 5).collect()
    assert(hh.nonEmpty && hh.forall(_.getLong(1) >= 1))
    // budget sampling: token-less docs contribute nothing to the budget
    val sb = TextOps.sampleBudgetOf(dirty, 100L).collect()
      .map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(sb.keySet === Set(1L, 2L, 3L, 4L))
    assert(sb(1L)) // first real doc fits a 100-token budget
  }

  test("salted join returns exactly the plain join result and spreads the hot key") {
    import org.apache.spark.sql.functions.{col, xxhash64}
    val events = graft.Tables.events(spark, sf)
      .select(col("event_id"), col("event_type"), col("value"))
    val dim = events.select("event_type").distinct()
      .withColumn("type_tag", xxhash64(col("event_type")))
    val plain = events.join(dim, Seq("event_type"))
      .select("event_id", "type_tag").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val salted = Relational.saltedJoin(events, dim, "event_type",
      numSalts = 8, saltSource = col("event_id"))
      .select("event_id", "type_tag").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(salted === plain)
    // the salt really spreads one key's rows over the full salt range
    val spread = events.withColumn("__salt",
      org.apache.spark.sql.functions.pmod(xxhash64(col("event_id")),
        org.apache.spark.sql.functions.lit(8)).cast("int"))
      .filter(col("event_type") === "click")
      .select("__salt").distinct().count()
    assert(spread === 8L)
  }

  test("incremental dedup equals the parity-crossing slice of the full pair set") {
    val full = Dedup.ngramJaccard(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // orient each full pair as (new=odd, old=even); same-parity pairs are
    // out of scope for an incremental run by construction
    val expected = full.flatMap { case (a, b, j) =>
      (a % 2, b % 2) match {
        case (1, 0) => Some((a, b, j))
        case (0, 1) => Some((b, a, j))
        case _ => None
      }
    }.toSet
    val got = Dedup.incremental(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got === expected)
    assert(got.nonEmpty, "fixture lost its cross-parity near-dup pairs")
  }

  test("portable token hash kernel is bit-equal to its oracle column form") {
    // the kernel (digest-byte assembly) replaced the declarative
    // conv(substring(md5)) chain on every call site in r11 — the oracle
    // replays the COLUMN form, so the two must agree on every value,
    // including nulls, empties, unicode and long strings
    import spark.implicits._
    val probes = spark.range(20000)
      .select(concat(lit("tok_"), col("id") % 3000).as("t"))
      .unionByName(Seq("", " ", "é€𐍈", "a" * 5000, null)
        .toDF("t").select(col("t")))
    // the declarative column form — the definition the DuckDB oracle
    // replays: md5 hex, first 15 chars, base-16 reparse
    val columnForm =
      conv(substring(md5(col("t").cast("binary")), 1, 15), 16, 10).cast("long")
    val bad = probes.select(
        TextFunctions.portableTokenHash(col("t")).as("k"), columnForm.as("c"))
      .filter(!(col("k") <=> col("c")))
      .count()
    assert(bad === 0)
  }

  test("multimodal pipeline preserves byte length through binary payload") {
    val out = Multimodal.pipeline(spark, sf)
    val bad = out.join(graft.Tables.documents(spark, sf), Seq("doc_id"))
      .filter(col("n_bytes") =!= length(col("text"))) // ascii fixture: bytes == chars
      .count()
    assert(bad === 0)
  }
}
