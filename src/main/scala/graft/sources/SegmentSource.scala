package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSourceV2 connector for "segment" corpora: a directory of
  * TSV-encoded immutable segment files plus a `_stats.tsv` sidecar
  * holding each file's doc_id min/max — the minimal shape of every
  * stats-pruned table format (Delta add-file stats, Iceberg manifests).
  * The connector implements the full V2 read stack the built-in formats
  * use, through PUBLIC interfaces only:
  *
  *  - `SupportsPushDownFilters`: doc_id range/equality predicates are
  *    consulted at PLANNING time to prune whole files against the
  *    sidecar stats — a skipped file is never opened, the 100 TB lever.
  *    Pruning is advisory (pushed filters are also returned as
  *    post-scan filters), so correctness never depends on stats;
  *  - `SupportsPushDownRequiredColumns`: the reader materializes only
  *    requested columns (a text-free projection never decodes text);
  *  - one `InputPartition` per surviving file — split granularity and
  *    locality mirror file-based sources.
  *
  * Segment files are written by [[SegmentSource.write]]; schema is the
  * fixed (doc_id BIGINT, text STRING) corpus projection. TSV keeps the
  * reader dependency-free; the format contract (immutable segments +
  * stats sidecar + pruned planning) is the load-bearing part, not the
  * encoding.
  */
class SegmentSource extends TableProvider
  with org.apache.spark.sql.sources.DataSourceRegister {

  override def shortName(): String = "graft-segments"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    SegmentSource.Schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: JMap[String, String]): Table =
    new SegmentTable(properties.get("path"))
}

class SegmentTable(path: String) extends Table with SupportsRead
  with org.apache.spark.sql.connector.catalog.SupportsWrite {
  override def name(): String = s"graft-segments:$path"
  override def schema(): StructType = SegmentSource.Schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new SegmentScanBuilder(path)
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
  : org.apache.spark.sql.connector.write.WriteBuilder =
    new SegmentWriteBuilder(path, info.schema())
}

/** Streaming read of the segment table — each committed write is one
  * GENERATION (`_stats_v<N>.tsv`), and the stream's offset IS the
  * generation number: micro-batch (start, end] reads exactly the files
  * generation `end` added over `start` (segments are immutable, appends
  * only add files — the Delta/Iceberg streaming-table contract). File
  * sets per batch are a pure function of the committed sidecars, so
  * restarts replay identically from the checkpointed offset — no
  * listing races, no mtime heuristics.
  */
class SegmentMicroBatchStream(path: String)
  extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream {
  import org.apache.spark.sql.connector.read.streaming.Offset

  private case class GenOffset(v: Int) extends Offset {
    override def json(): String = v.toString
  }

  override def initialOffset(): Offset = GenOffset(0)
  override def latestOffset(): Offset =
    GenOffset(SegmentSource.generations(Paths.get(path)).lastOption.getOrElse(0))
  override def deserializeOffset(json: String): Offset = GenOffset(json.toInt)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val dir = Paths.get(path)
    val s = start.asInstanceOf[GenOffset].v
    val e = end.asInstanceOf[GenOffset].v
    val before =
      if (s == 0) Set.empty[String]
      else SegmentSource.readStatsGen(dir, s).map(_._1).toSet
    val after =
      if (e == 0) Array.empty[(String, Long, Long)]
      else SegmentSource.readStatsGen(dir, e)
    after.collect { case (f, _, _) if !before.contains(f) =>
      SegmentPartition(dir.resolve(f).toString)
    }.toArray[InputPartition]
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new SegmentReaderFactory(SegmentSource.Schema)
}

/** V2 write path — the transactional two-phase protocol every file-based
  * sink uses: each TASK writes its own uniquely-named segment file and
  * returns (file, min, max) as its commit message; the DRIVER's
  * `commit` publishes the `_stats.tsv` sidecar from the messages
  * atomically (readers resolve files ONLY through the sidecar, so
  * half-written tasks are invisible and `abort` just deletes strays).
  * Overwrite = truncate: the new sidecar lists only the new files and
  * the orphaned old ones are removed at commit. Data never moves
  * through the driver — range-cluster with `repartitionByRange` +
  * `sortWithinPartitions` before writing and the per-file stats become
  * selective (the OPTIMIZE-orders-by-the-skip-key rule).
  */
class SegmentWriteBuilder(path: String, schema: StructType)
  extends org.apache.spark.sql.connector.write.WriteBuilder
  with org.apache.spark.sql.connector.write.SupportsTruncate {
  private var doTruncate = false
  override def truncate(): org.apache.spark.sql.connector.write.WriteBuilder = {
    doTruncate = true; this
  }
  override def build(): org.apache.spark.sql.connector.write.Write = {
    require(schema.fieldNames.toSeq == Seq("doc_id", "text"),
      s"graft-segments writes (doc_id, text), got ${schema.fieldNames.mkString(",")}")
    new org.apache.spark.sql.connector.write.Write {
      override def toBatch: org.apache.spark.sql.connector.write.BatchWrite =
        new SegmentBatchWrite(path, doTruncate)
    }
  }
}

class SegmentBatchWrite(path: String, truncate: Boolean)
  extends org.apache.spark.sql.connector.write.BatchWrite {
  import org.apache.spark.sql.connector.write._

  override def createBatchWriterFactory(info: PhysicalWriteInfo)
  : DataWriterFactory = new SegmentWriterFactory(path)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val entries = messages.collect {
      case m: SegmentCommit if m.rows > 0 => m
    }.sortBy(_.file)
    val dir = Paths.get(path)
    Files.createDirectories(dir)
    // append mode carries the previous generation's files forward;
    // truncate starts the file list over (and clears orphans)
    val prev: Array[(String, Long, Long)] =
      if (truncate || !Files.exists(dir.resolve("_stats.tsv"))) Array.empty
      else SegmentSource.readStats(dir)
    val all = prev ++ entries.map(e => (e.file, e.min, e.max))
    val keep = all.map(_._1).toSet
    if (truncate) {
      // readers resolve through the sidecar, so removing orphans is
      // cleanup, not correctness
      val listing = Files.list(dir) // must close: fd leak otherwise
      val old =
        try listing.iterator().asScala
          .filter(p => p.getFileName.toString.startsWith("segment-") &&
            !keep.contains(p.getFileName.toString))
          .toList
        finally listing.close()
      old.foreach(Files.deleteIfExists(_))
    }
    val stats = all.map { case (f, lo, hi) => s"$f\t$lo\t$hi" }
      .mkString("", "\n", "\n")
    // publish the immutable GENERATION sidecar (the streaming offset),
    // then move the latest pointer — both atomic
    val gen = SegmentSource.generations(dir).lastOption.getOrElse(0) + 1
    val tmpG = Files.createTempFile(dir, "_statsg", ".tmp")
    Files.write(tmpG, stats.getBytes(StandardCharsets.UTF_8))
    Files.move(tmpG, dir.resolve(s"_stats_v$gen.tsv"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    val tmp = Files.createTempFile(dir, "_stats", ".tmp")
    Files.write(tmp, stats.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, dir.resolve("_stats.tsv"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    messages.collect { case m: SegmentCommit => m }.foreach { m =>
      Files.deleteIfExists(Paths.get(path).resolve(m.file))
    }
}

case class SegmentCommit(file: String, min: Long, max: Long, rows: Long)
  extends org.apache.spark.sql.connector.write.WriterCommitMessage

class SegmentWriterFactory(path: String)
  extends org.apache.spark.sql.connector.write.DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
  : org.apache.spark.sql.connector.write.DataWriter[InternalRow] =
    new SegmentWriter(path, partitionId, taskId)
}

class SegmentWriter(path: String, partitionId: Int, taskId: Long)
  extends org.apache.spark.sql.connector.write.DataWriter[InternalRow] {
  private val fileName = f"segment-$partitionId%05d-$taskId.tsv"
  private val target = Paths.get(path).resolve(fileName)
  Files.createDirectories(target.getParent)
  private val out = Files.newBufferedWriter(target, StandardCharsets.UTF_8)
  private var min = Long.MaxValue
  private var max = Long.MinValue
  private var rows = 0L

  override def write(r: InternalRow): Unit = {
    val id = r.getLong(0)
    val text = if (r.isNullAt(1)) "" else r.getUTF8String(1).toString
    out.write(s"$id\t${SegmentSource.escape(text)}\n")
    if (id < min) min = id
    if (id > max) max = id
    rows += 1
  }
  override def commit(): org.apache.spark.sql.connector.write.WriterCommitMessage = {
    out.close()
    if (rows == 0) Files.deleteIfExists(target)
    SegmentCommit(fileName, min, max, rows)
  }
  override def abort(): Unit = { out.close(); Files.deleteIfExists(target) }
  override def close(): Unit = ()
}

class SegmentScanBuilder(path: String) extends ScanBuilder
  with SupportsPushDownFilters with SupportsPushDownRequiredColumns {

  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = SegmentSource.Schema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    // keep the doc_id bounds for file pruning; hand EVERY filter back to
    // Spark for post-scan evaluation (advisory pruning — stats can only
    // skip files, never substitute for row filtering)
    pushed = filters.filter(SegmentSource.bound(_).isDefined)
    filters
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan = new SegmentScan(path, pushed, required)
}

class SegmentScan(path: String, pushed: Array[Filter], required: StructType)
  extends Scan with Batch {

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-segments path=$path pushed=[${pushed.mkString(", ")}] " +
      s"columns=[${required.fieldNames.mkString(", ")}]"

  override def planInputPartitions(): Array[InputPartition] = {
    val stats = SegmentSource.readStats(Paths.get(path))
    val bounds = pushed.flatMap(SegmentSource.bound)
    val survivors = stats.filter { case (_, lo, hi) =>
      bounds.forall { case (blo, bhi) => hi >= blo && lo <= bhi }
    }
    SegmentSource.lastPlanned.set((stats.length, survivors.length))
    survivors.map { case (f, _, _) =>
      SegmentPartition(Paths.get(path).resolve(f).toString)
    }.toArray[InputPartition]
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new SegmentReaderFactory(required)

  override def toMicroBatchStream(checkpointLocation: String)
  : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new SegmentMicroBatchStream(path)
}

case class SegmentPartition(file: String) extends InputPartition

class SegmentReaderFactory(required: StructType)
  extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new SegmentReader(p.asInstanceOf[SegmentPartition].file, required)
}

class SegmentReader(file: String, required: StructType)
  extends PartitionReader[InternalRow] {
  private val lines = Files.newBufferedReader(
    Paths.get(file), StandardCharsets.UTF_8)
  private var current: InternalRow = _

  override def next(): Boolean = {
    val line = lines.readLine()
    if (line == null) { current = null; false }
    else {
      val tab = line.indexOf('\t')
      if (tab < 0) throw new java.io.IOException(
        s"malformed segment line (no field separator): '$line' in $file")
      val vals = required.fields.map { f =>
        if (f.name == "doc_id") java.lang.Long.parseLong(line.substring(0, tab))
        else UTF8String.fromString(
          SegmentSource.unescape(line.substring(tab + 1)))
      }
      current = new GenericInternalRow(vals.asInstanceOf[Array[Any]])
      true
    }
  }
  override def get(): InternalRow = current
  override def close(): Unit = lines.close()
}

object SegmentSource {

  val Schema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType, nullable = true)))

  /** (total files, surviving files) of the most recent planning pass —
    * lets specs pin that stats pruning actually skipped files.
    */
  val lastPlanned = new java.util.concurrent.atomic.AtomicReference[(Int, Int)]((0, 0))

  private[sources] def bound(f: Filter): Option[(Long, Long)] = f match {
    case EqualTo("doc_id", v: Long) => Some((v, v))
    case GreaterThan("doc_id", v: Long) => Some((v + 1, Long.MaxValue))
    case GreaterThanOrEqual("doc_id", v: Long) => Some((v, Long.MaxValue))
    case LessThan("doc_id", v: Long) => Some((Long.MinValue, v - 1))
    case LessThanOrEqual("doc_id", v: Long) => Some((Long.MinValue, v))
    case _ => None
  }

  // \r must be escaped too: BufferedReader.readLine splits on it, so an
  // unescaped carriage return would break one record across two lines
  private[sources] def escape(s: String): String =
    s.replace("\\", "\\\\").replace("\t", "\\t")
      .replace("\n", "\\n").replace("\r", "\\r")
  private[sources] def unescape(s: String): String = {
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case 't' => sb.append('\t'); i += 2
          case 'n' => sb.append('\n'); i += 2
          case 'r' => sb.append('\r'); i += 2
          case '\\' => sb.append('\\'); i += 2
          case other => sb.append(c); i += 1
        }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Committed generation numbers, ascending. */
  private[sources] def generations(dir: Path): Seq[Int] =
    if (!Files.isDirectory(dir)) Nil
    else {
      val listing = Files.list(dir) // must close: fd leak otherwise
      try listing.iterator().asScala
        .map(_.getFileName.toString)
        .collect { case n if n.startsWith("_stats_v") && n.endsWith(".tsv") =>
          n.stripPrefix("_stats_v").stripSuffix(".tsv").toInt }
        .toSeq.sorted
      finally listing.close()
    }

  private[sources] def readStatsGen(dir: Path, v: Int): Array[(String, Long, Long)] =
    parseStats(Files.readAllLines(dir.resolve(s"_stats_v$v.tsv"),
      StandardCharsets.UTF_8).asScala.toSeq)

  private def parseStats(lines: Seq[String]): Array[(String, Long, Long)] =
    lines.filter(_.nonEmpty).map { l =>
      val p = l.split('\t')
      (p(0), p(1).toLong, p(2).toLong)
    }.toArray

  private[sources] def readStats(dir: Path): Array[(String, Long, Long)] =
    parseStats(Files.readAllLines(dir.resolve("_stats.tsv"),
      StandardCharsets.UTF_8).asScala.toSeq)

  /** Write a (doc_id, text) frame as `nFiles` doc_id-range segment files
    * plus the `_stats.tsv` sidecar — THROUGH the V2 write path: range
    * repartition + in-partition sort make each task's file a disjoint
    * doc_id range (selective stats — the reason lakehouse OPTIMIZE
    * orders by the skip key before splitting files), each task writes
    * its own file, the driver commit publishes the sidecar from the
    * tasks' commit messages. Data never moves through the driver.
    */
  def write(df: org.apache.spark.sql.DataFrame, dir: Path, nFiles: Int): Unit = {
    import org.apache.spark.sql.functions._
    df.select(col("doc_id").cast("long").as("doc_id"), col("text"))
      .repartitionByRange(nFiles, col("doc_id"))
      .sortWithinPartitions("doc_id")
      .write.format("graft-segments").mode("overwrite")
      .save(dir.toString)
  }
}
