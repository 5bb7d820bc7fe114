package graft.operators

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

import graft.Tables

/** Minimal lakehouse table format — the transaction-log pattern behind
  * Delta/Iceberg, reduced to its two load-bearing ideas and built on plain
  * parquet plus JSON manifests:
  *
  *   - a COMMIT writes immutable data files then atomically publishes a
  *     version manifest listing the table's live files — readers never see
  *     a half-written version, and historical versions stay readable
  *     (time travel) because commits only ADD files and manifests;
  *   - a READ resolves one manifest and loads exactly its files — O(1)
  *     metadata, no directory listing race, version pinning for free. The
  *     manifest also records the table's schema, as Delta's `metaData`
  *     action does, so a read opens no footer to infer it.
  *
  * At 100 TB the same structure holds (manifests list thousands of files;
  * the manifest itself becomes a parquet file — a detail, not a design
  * change). Upserts are copy-on-write at file granularity here (SCD-1 by
  * key), matching `q33_merge_upsert`'s semantics through the storage
  * layer instead of a query.
  */
object Lake {

  private def manifestPath(table: Path, version: Int): Path =
    table.resolve(s"_manifest_v$version.json")

  private val json = new ObjectMapper()

  /** The published manifest of `version`: `{"schema": …, "files": […]}`. */
  private def manifest(table: Path, version: Int): JsonNode =
    json.readTree(manifestPath(table, version).toFile)

  /** Output-file target for fixture-sized commits (guide §6: size output
    * files sensibly — the default layout inherited one file per session
    * partition, i.e. 32 KB-sized files per version locally, and every
    * read-back then paid a 32-path listing job and 32 tiny footer/scan
    * opens; r12 jobtrace attributed most of the lake family's warm time
    * to exactly that). 4 files keeps the fixture tables (KB–MB) in
    * sanely sized files while preserving write parallelism headroom; a
    * production committer sizes by BYTES (128 MB–1 GB targets via
    * maxRecordsPerFile / rebalance) — this constant is the local stand-in,
    * not a tuning knob to carry to a cluster.
    */
  private[graft] val FixtureWriteFiles = 4

  /** Commit `df` as `version`: data lands under files/v<version>/, then
    * the manifest publishes `df`'s schema and the live files (previous
    * live files ∓ replaced keys is the CALLER's contract — this layer only
    * publishes file lists).
    *
    * `fileTarget > 0` coalesces the write to that many files (no
    * shuffle); 0 leaves the caller's layout alone — snapshotExpire pins
    * its file accounting with explicit repartition literals and must
    * stay byte-identical.
    */
  def commit(df: DataFrame, table: Path, version: Int,
             carryForward: Seq[String] = Nil,
             fileTarget: Int = 0): Unit = {
    val dataDir = table.resolve(s"files/v$version")
    val sized = if (fileTarget > 0) df.coalesce(fileTarget) else df
    sized.write.mode(SaveMode.Overwrite).parquet(dataDir.toString)
    val listing = Files.list(dataDir) // must close: fd leak otherwise
    val names = scala.collection.mutable.ArrayBuffer.empty[String]
    try {
      val newFiles = listing.iterator()
      while (newFiles.hasNext) {
        val p = newFiles.next()
        if (p.getFileName.toString.endsWith(".parquet"))
          names += table.relativize(p).toString
      }
    } finally listing.close()
    val m = json.createObjectNode()
    m.set[JsonNode]("schema", json.readTree(df.schema.json))
    val live = m.putArray("files")
    (carryForward ++ names.sorted).distinct.foreach(live.add)
    val tmp = Files.createTempFile(table, s"_manifest_v$version", ".tmp")
    Files.write(tmp, json.writeValueAsBytes(m))
    // atomic publish: the manifest appears complete or not at all
    Files.move(tmp, manifestPath(table, version),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** Live files of `version` (what a newer commit must carry forward for
    * the keys it does not replace).
    */
  def liveFiles(table: Path, version: Int): Seq[String] = files(manifest(table, version))

  private def files(manifest: JsonNode): Seq[String] =
    manifest.get("files").elements().asScala.map(_.asText).toSeq

  /** Every published version: the manifest files present on disk. A
    * manifest is published atomically (tmp + move in [[commit]]), so its
    * presence IS the publication — aborted commits leave data files but
    * never a manifest.
    */
  def publishedVersions(table: Path): Seq[Int] = {
    val stream = Files.list(table)
    try {
      val Pat = "_manifest_v(\\d+)\\.json".r
      val out = scala.collection.mutable.ArrayBuffer.empty[Int]
      val it = stream.iterator()
      while (it.hasNext) it.next().getFileName.toString match {
        case Pat(v) => out += v.toInt
        case _      =>
      }
      out.toSeq.sorted
    } finally stream.close()
  }

  /** Read the table AS OF `version`: exactly the manifest's files, under
    * the manifest's schema, so the read runs no job.
    */
  def readVersion(s: SparkSession, table: Path, version: Int): DataFrame = {
    val m = manifest(table, version)
    val schema = DataType.fromJson(m.get("schema").toString).asInstanceOf[StructType]
    s.read.schema(schema).parquet(files(m).map(f => table.resolve(f).toString): _*)
  }

  /** Run `body` over the documents corpus staged once and a fresh temp
    * table dir. ONE scan+exchange of the corpus (`localCheckpoint`) serves
    * every derivation — the uncheckpointed form re-scanned and
    * re-repartitioned documents once per reference (r12 jobtrace). Both
    * are released after `body`, so `body` must drain what it returns.
    */
  private def withCorpus[T](s: SparkSession, dir: String, cols: String*)
                           (body: (DataFrame, Path) => T): T = {
    val docs = Tables.documents(s, dir).select(cols.head, cols.tail: _*)
      .localCheckpoint(true)
    val table = Files.createTempDirectory("graft_lake_")
    try body(docs, table)
    finally {
      CacheLifecycle.release(docs)
      org.apache.commons.io.FileUtils.deleteDirectory(table.toFile)
    }
  }

  /** Time-travel demo over the fixtures, end-to-end through disk:
    * v1 = even-id documents; v2 = SCD-1 upsert of the id%3 slice with
    * rewritten (uppercased) text. File-granularity copy-on-write: only
    * files containing a replaced key rewrite (here the hash-distributed
    * fixture puts replaced keys in every file, so v2 rewrites all of
    * them — key-clustered layouts shrink that to the touched files;
    * `carryForward` publishes the untouched ones). v1's files and
    * manifest are never modified, so reading AS OF v1 after the v2
    * commit still returns the ORIGINAL content — the output pins
    * exactly that.
    */
  def timeTravel(s: SparkSession, dir: String): DataFrame =
    withCorpus(s, dir, "doc_id", "text") { (docs, table) =>
      val v1 = docs.filter(col("doc_id") % 2 === 0)
      commit(v1, table, 1, fileTarget = FixtureWriteFiles)
      val replaced = docs.filter(col("doc_id") % 3 === 0)
        .withColumn("text", upper(col("text")))
      // copy-on-write: keep v1 rows whose key is NOT replaced, add the
      // rewritten slice; v1's manifest (and files) remain untouched
      val v2 = readVersion(s, table, 1)
        .join(replaced.select("doc_id"), Seq("doc_id"), "left_anti")
        .unionByName(replaced)
      commit(v2, table, 2, fileTarget = FixtureWriteFiles)
      // both versions in one action: a union tagged by version
      val out = Seq(1, 2).map(v => readVersion(s, table, v).withColumn("version", lit(v)))
        .reduce(_ unionByName _)
        .groupBy("version")
        .agg(count(lit(1)).as("n_docs"),
          count(when(col("text") === upper(col("text")) &&
            col("text") =!= lower(col("text")), 1)).as("n_rewritten"))
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
      import s.implicits._
      out.toDF("version", "n_docs", "n_rewritten")
    }

  /** Schema evolution through the files — the other lakehouse staple: an
    * OLD file generation lacks a column later generations carry; a
    * merged-schema read surfaces the union schema with NULLs for the old
    * files. Two generations write from the fixtures (gen1 without
    * `lang`), one `mergeSchema` read unions them; output = per-lang
    * counts where gen1 rows land in the NULL-lang bucket.
    */
  def schemaEvolution(s: SparkSession, dir: String): DataFrame =
    withCorpus(s, dir, "doc_id", "n_chars", "lang") { (docs, table) =>
      docs.filter(col("doc_id") % 2 === 0).select("doc_id", "n_chars")
        .coalesce(FixtureWriteFiles).write.mode(SaveMode.Overwrite)
        .parquet(table.resolve("gen=1").toString)
      docs.filter(col("doc_id") % 2 =!= 0).select("doc_id", "n_chars", "lang")
        .coalesce(FixtureWriteFiles).write.mode(SaveMode.Overwrite)
        .parquet(table.resolve("gen=2").toString)
      val merged = s.read.option("mergeSchema", "true")
        .parquet(table.toString)
      val out = merged.groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
        .collect()
      import s.implicits._
      out.map(r => (Option(r.getString(0)).orNull, r.getLong(1), r.getLong(2)))
        .toSeq.toDF("lang", "n_docs", "sum_chars")
    }

  /** Change data feed — the CDC read every downstream incremental
    * consumer of a lakehouse table needs (Delta CDF / Iceberg
    * changelog shape): the row-level diff between two committed
    * versions, classified as insert / delete / update_preimage /
    * update_postimage (updates emit BOTH images, the changelog contract
    * that lets a consumer maintain any derived state).
    *
    * The versions go through REAL storage: v1 = even-id documents;
    * v2 = SCD-1 upsert of the id%3 slice (uppercased text) plus a
    * delete of the (id%10==4, id%3≠0) slice — commit, manifest publish,
    * then both versions read back via [[readVersion]] and diffed with
    * ONE full-outer join on the key. Unchanged rows emit nothing, so
    * the feed is delta-sized, not table-sized; at 100 TB the same diff
    * prunes to the files the two manifests do NOT share (file-level
    * carry-forward means untouched files can't contain changes —
    * metadata pruning before any data read).
    */
  def changeFeed(s: SparkSession, dir: String): DataFrame =
    withCorpus(s, dir, "doc_id", "text") { (docs, table) =>
      val v1 = docs.filter(col("doc_id") % 2 === 0)
      commit(v1, table, 1, fileTarget = FixtureWriteFiles)
      val replaced = docs.filter(col("doc_id") % 3 === 0)
        .withColumn("text", upper(col("text")))
      val v2 = readVersion(s, table, 1)
        .filter(!(col("doc_id") % 10 === 4 && col("doc_id") % 3 =!= 0))
        .join(replaced.select("doc_id"), Seq("doc_id"), "left_anti")
        .unionByName(replaced)
      commit(v2, table, 2, fileTarget = FixtureWriteFiles)
      val a = readVersion(s, table, 1).select(col("doc_id"), col("text").as("t1"))
      val b = readVersion(s, table, 2).select(col("doc_id"), col("text").as("t2"))
      val j = a.join(b, Seq("doc_id"), "full_outer")
      // ONE pass over the version join: each row conditionally expands to
      // its 0/1/2 change rows through an array+explode projection — the
      // union-of-filters form re-computed the full-outer join once per
      // change type (4 scans of both versions)
      val feed = j.select(col("doc_id"), explode(
          when(col("t1").isNull,
            array(struct(lit("insert").as("change_type"), col("t2").as("text"))))
          .when(col("t2").isNull,
            array(struct(lit("delete").as("change_type"), col("t1").as("text"))))
          .when(col("t1") =!= col("t2"), array(
            struct(lit("update_preimage").as("change_type"), col("t1").as("text")),
            struct(lit("update_postimage").as("change_type"), col("t2").as("text"))))
          .otherwise(array().cast("array<struct<change_type:string,text:string>>")))
          .as("c"))
        .select(col("doc_id"), col("c.change_type"), col("c.text"))
      // materialize before the temp table is deleted
      CacheLifecycle.materialize(feed)
    }

  /** End-to-end scan through the custom DataSourceV2 connector
    * (`sources/SegmentSource`, format `graft-segments`): the corpus is
    * written as doc_id-range-clustered segment files with a min/max
    * stats sidecar, then read back with a range predicate — the
    * connector's `SupportsPushDownFilters` prunes non-intersecting
    * files at PLANNING time (skipped files are never opened) and
    * `SupportsPushDownRequiredColumns` narrows the decode to the
    * requested columns. The oracle replays the same range aggregate on
    * the source table; SegmentSourceSpec pins that pruning actually
    * skipped files and stayed sound.
    */
  def segmentScan(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.SegmentSource
    val docs = Tables.documents(s, dir).select("doc_id", "text")
    val tmp = Files.createTempDirectory("graft_segments_")
    try {
      SegmentSource.write(docs, tmp, 8)
      val n = docs.count()
      val lo = n / 4
      val hi = n / 2
      val seg = s.read.format("graft-segments").load(tmp.toString)
      val out = seg
        .filter(col("doc_id") >= lo && col("doc_id") <= hi)
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("text"))).as("sum_chars"),
          min("doc_id").as("min_id"), max("doc_id").as("max_id"))
      CacheLifecycle.materialize(out)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    }
  }

  /** Orphan-file vacuum — the GC pass every transaction-log table needs:
    * a crashed or aborted writer leaves data files on disk that no
    * published manifest references (the commit protocol makes this the
    * ONLY failure residue — the manifest publishes atomically last), and
    * they accumulate until a vacuum reconciles the physical inventory
    * against the manifest-referenced set. Orphans = walk(files/) −
    * ∪ liveFiles(v); deletion touches exactly that difference, so every
    * published version stays byte-identical — the output PROVES it by
    * re-reading v1 through its manifest AFTER the deletion (a vacuum
    * that ate referenced data would change the count and fail the
    * oracle). The staged scenario: one published commit of the full
    * corpus, then an aborted retry of the id%5 slice whose manifest
    * never lands. At scale the inventory walk is the only part that
    * grows — a distributed file listing feeding the same set-difference,
    * with the manifest union still metadata-sized.
    */
  def vacuumOrphans(s: SparkSession, dir: String): DataFrame =
    withCorpus(s, dir, "doc_id", "text") { (docs, table) =>
      commit(docs, table, 1, fileTarget = FixtureWriteFiles)
      // aborted commit: data files land under files/v2, no manifest
      docs.filter(col("doc_id") % 5 === 0)
        .withColumn("text", concat(col("text"), lit(" [retry]")))
        .coalesce(FixtureWriteFiles).write.mode(SaveMode.Overwrite)
        .parquet(table.resolve("files/v2").toString)
      def inventory(): Set[String] = {
        val stream = Files.walk(table.resolve("files"))
        try {
          val out = scala.collection.mutable.Set.empty[String]
          val it = stream.iterator()
          while (it.hasNext) {
            val p = it.next()
            if (p.getFileName.toString.endsWith(".parquet"))
              out += table.relativize(p).toString
          }
          out.toSet
        } finally stream.close()
      }
      // referenced = union over ALL published manifests, not just v1 —
      // a file referenced only by a later version must survive the
      // vacuum (ADVICE r6; here only v1 exists, but the helper must not
      // bake that in)
      val referenced = publishedVersions(table)
        .flatMap(v => liveFiles(table, v)).toSet
      val orphans = inventory() -- referenced
      // audit the doomed rows BEFORE deletion (what a production vacuum
      // logs); explicit-path read, never through a manifest
      val (orphanRows, orphanChars) =
        if (orphans.isEmpty) (0L, 0L)
        else {
          val r = s.read
            .parquet(orphans.map(f => table.resolve(f).toString).toSeq: _*)
            .agg(count(lit(1)), sum(length(col("text")))).collect()(0)
          (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
        }
      orphans.foreach(f => Files.deleteIfExists(table.resolve(f)))
      val liveAfter = readVersion(s, table, 1).count()
      import s.implicits._
      Seq((liveAfter, orphanRows, orphanChars))
        .toDF("n_live_rows", "n_orphan_rows", "orphan_chars")
    }

  /** Compaction planner — the small-file maintenance pass every
    * streaming-ingested lakehouse table needs: given the file inventory
    * (here a pseudo-inventory derived deterministically from events —
    * one "file" per ingest hour, sized by row count), bin-pack
    * consecutive files of each day-partition into target-sized output
    * groups by running-sum bucketing: target_file = ⌊(bytes written
    * before this file within its partition) / targetBytes⌋.
    *
    * Consecutive (hour-ordered) packing is deliberate — it preserves the
    * ingest-time clustering that makes time-range predicates prune, where
    * size-sorted first-fit-decreasing would destroy it for a ~few-%
    * packing gain. The window partitions BY DAY (local sorts of per-day
    * hour lists); planning cost is inventory-sized — metadata work,
    * independent of data volume, exactly how a real OPTIMIZE job
    * schedules its rewrite groups.
    */
  def compactionPlan(s: SparkSession, dir: String,
                     targetBytes: Long = 4096): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val files = Tables.events(s, dir)
      .groupBy(to_date(col("ts")).as("day"), hour(col("ts")).as("hr"))
      .agg(count(lit(1)).as("n_rows"))
      .withColumn("bytes", col("n_rows") * 64L)
    val w = Window.partitionBy("day").orderBy("hr")
    files
      .withColumn("cum_before", coalesce(
        sum("bytes").over(w.rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .withColumn("target_file",
        expr(s"cum_before div ${targetBytes}L").cast("int"))
      .select("day", "hr", "n_rows", "bytes", "target_file")
  }

  /** Snapshot expiration with a safe-delete plan — the lakehouse
    * retention staple (Delta VACUUM / Iceberg expire_snapshots): expired
    * versions' manifests stop being readable, but a file is only
    * DELETABLE if no RETAINED manifest references it. Exercised
    * end-to-end through disk on a three-commit history that covers both
    * sharing regimes:
    *
    *   v1 = even-id docs (4 files) · v2 = APPEND of the odd ids
    *   (carryForward keeps all v1 files — shared references) · v3 =
    *   copy-on-write upsert of the id%3 slice (hash-distributed keys put
    *   replaced ids in every file, so v3 rewrites the table — zero
    *   sharing with v1/v2).
    *
    * Keep-last-1 retention then expires v1 and v2: the deletion plan is
    * exactly ∪files(expired) − ∪files(retained) (v1's files appear in
    * v2's manifest too — set algebra, not per-version lists, is what
    * makes the plan safe), the files are ACTUALLY DELETED, and the
    * output's last column re-reads the retained version from disk
    * afterwards — proof the expiry touched nothing live. All file
    * counts are pinned by the explicit repartition literals, so the
    * oracle checks the engine's file accounting against the design and
    * the post-delete row count against the logical table content.
    */
  def snapshotExpire(s: SparkSession, dir: String,
                     keepLast: Int = 1): DataFrame =
    // the commits keep their explicit repartition(4) literals and NO
    // fileTarget — the file accounting below is pinned to them
    withCorpus(s, dir, "doc_id", "text") { (docs, table) =>
      commit(docs.filter(col("doc_id") % 2 === 0).repartition(4), table, 1)
      commit(docs.filter(col("doc_id") % 2 === 1).repartition(4), table, 2,
        carryForward = liveFiles(table, 1))
      val replaced = docs.filter(col("doc_id") % 3 === 0)
        .withColumn("text", upper(col("text")))
      val v3 = readVersion(s, table, 2)
        .join(replaced.select("doc_id"), Seq("doc_id"), "left_anti")
        .unionByName(replaced)
        .repartition(4)
      commit(v3, table, 3)

      val versions = Seq(1, 2, 3)
      val retained = versions.takeRight(keepLast).toSet
      val retainedFiles = retained.flatMap(v => liveFiles(table, v).toSet)
      val perVersion = versions.map { v =>
        val fs = liveFiles(table, v).toSet
        (v, retained(v), fs.size.toLong, (fs -- retainedFiles).size.toLong)
      }
      val toDelete = versions.filterNot(retained)
        .flatMap(v => liveFiles(table, v)).toSet -- retainedFiles
      toDelete.foreach(f => Files.deleteIfExists(table.resolve(f)))
      // the proof obligation: every retained version still reads whole
      val rows = perVersion.map { case (v, keep, nf, nsafe) =>
        val after = if (keep) Some(readVersion(s, table, v).count()) else None
        (v, keep, nf, nsafe, after)
      }
      import s.implicits._
      rows.toDF("version", "retained", "n_files", "n_safe_deleted",
        "n_rows_after")
    }
}
