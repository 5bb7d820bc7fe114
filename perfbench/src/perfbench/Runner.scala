package perfbench

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{GraftSession, SparkEntry}
import graft.harness.{BenchmarkRegistry, RunParams, SparkBackend}

/** One closed-loop client over one workload, in its own JVM.
  *
  * Usage: `Runner <kind> <ops> <seed> <min passes> <seconds> <data dir>
  * <slots> <launch ms> <record file>`
  *  - `kind`: `query` (ops are `SparkEntry.queries` entries) or `timedf`
  *    (ops are `BenchmarkRegistry` benchmarks);
  *  - `ops`: the pinned op list, comma-separated;
  *  - `seed`: permutes the op order;
  *  - `min passes`: passes made whatever the budget, the cold pass included;
  *  - `seconds`: the measuring budget, counted from the end of the cold
  *    pass; past `min passes` a further pass starts only if it is expected
  *    to end within it;
  *  - `data dir`: the fixture directory; `slots`: local task slots;
  *  - `launch ms`: epoch ms at which the caller launched this JVM, where
  *    the set-up time starts;
  *  - `record file`: where the JSON-lines records go.
  *
  * Each op is timed in two phases: `construct` is the call that returns
  * the op's DataFrame (eager cache builds, checkpoints and stream drains
  * happen there), `action` is the column-complete [[Fence]]. The submit of
  * the next op waits for the previous one, on one thread. An op that
  * throws is recorded with its error and the loop goes on.
  */
object Runner {

  final case class Config(kind: String, ops: Seq[String], seed: Long,
                          minPasses: Int, seconds: Double, data: String,
                          slots: Int, launchMs: Long, out: String)

  def parse(args: Array[String]): Config = args match {
    case Array(kind, ops, seed, minPasses, seconds, data, slots, launchMs, out) =>
      Config(kind, ops.split(",").toSeq.filter(_.nonEmpty), seed.toLong, minPasses.toInt,
        seconds.toDouble, data, slots.toInt, launchMs.toLong, out)
    case _ => throw new IllegalArgumentException(
      s"expected 9 arguments, got ${args.length}: ${args.mkString(" ")}")
  }

  /** Epoch milliseconds at nanosecond resolution. */
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  def session(c: Config): SparkSession = {
    val s =
      if (c.kind == "timedf") SparkBackend.session(c.slots, "perfbench")
      else GraftSession.builder("perfbench", c.slots.toString, c.data).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** An op bound to a session: `construct` returns the thunk `action`
    * runs, which yields the op's checked outputs.
    */
  type Op = SparkSession => (() => Map[String, Any])

  def queryOp(name: String, data: String,
              registry: Map[String, (SparkSession, String) => DataFrame]): Op =
    registry.get(name) match {
      case None => _ => throw new NoSuchElementException(
        s"op $name is not in SparkEntry.queries")
      case Some(fn) => spark => {
        val df = fn(spark, data)
        () => {
          val (rows, digest) = Fence(df)
          Map("rows" -> rows, "digest" -> digest.toString)
        }
      }
    }

  def timedfOp(name: String, c: Config): Op =
    if (!BenchmarkRegistry.all.contains(name)) _ => throw new NoSuchElementException(
      s"op $name is not in BenchmarkRegistry")
    else _ => {
      val b = BenchmarkRegistry.create(name)
      () => {
        val r = b.run(RunParams(dataDir = c.data, numThreads = c.slots, validation = true))
        Map("measurements" -> r.measurements, "params" -> r.params)
      }
    }

  def main(args: Array[String]): Unit = {
    val c = parse(args)
    val rec = new RecordFile(c.out)
    val traced = sys.props.contains("spark.extraListeners")
    if (traced) Trace.sink = Some(rec)
    try run(c, rec, traced)
    finally rec.close()
  }

  def run(c: Config, rec: RecordFile, traced: Boolean): Unit = {
    val spark = session(c)
    Warmup(spark)
    rec.write("kind" -> "setup", "seconds" -> (nowMs - c.launchMs) / 1e3)

    val ops: Map[String, Op] =
      if (c.kind == "timedf") c.ops.map(n => n -> timedfOp(n, c)).toMap
      else {
        val registry = SparkEntry.queries
        c.ops.map(n => n -> queryOp(n, c.data, registry)).toMap
      }
    val jvm = new JvmStats
    var lastId = 0
    def span(parent: Int, layer: String, name: String, t0: Double, t1: Double,
             id: Int = 0): Int = {
      val sid = if (id > 0) id else { lastId += 1; lastId }
      if (traced) rec.write("kind" -> "span", "id" -> sid, "parent" -> parent,
        "layer" -> layer, "name" -> name, "start_ms" -> t0, "end_ms" -> t1)
      sid
    }
    def cacheSnapshot(after: Int): Unit = {
      val sc = spark.sparkContext
      rec.write("kind" -> "cache", "op_span" -> after,
        "persisted_rdds" -> sc.getPersistentRDDs.keys.toSeq.sorted,
        "stored_bytes" -> sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum)
    }
    // every pass runs the seed's permutation, so each op follows the same op
    // in every measured pass; a rotating order would put an op twice in a
    // row at some pass boundaries, and the repeat runs warmer. The seed is
    // mixed first: Random's first draws barely differ between nearby seeds.
    val order = new scala.util.Random(new java.util.SplittableRandom(c.seed).nextLong())
      .shuffle(c.ops)
    var pass = 0
    var lastPassMs = 0.0
    var budgetStart = 0.0 // set when the cold pass ends
    while (pass < c.minPasses || nowMs - budgetStart + lastPassMs <= c.seconds * 1e3) {
      lastId += 1
      val passId = lastId // its span is written once the pass ends
      val passStart = nowMs
      if (traced) cacheSnapshot(passId)
      order.foreach { name =>
        val t0 = nowMs
        var t1 = t0
        val result =
          try {
            val action = ops(name)(spark)
            t1 = nowMs
            Right(action())
          } catch {
            case NonFatal(e) =>
              if (t1 == t0) t1 = nowMs
              Left(s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("")}"
                .linesIterator.take(3).mkString(" | "))
          }
        val t2 = nowMs
        val opId = span(passId, "op", name, t0, t2)
        span(opId, "construct", name, t0, t1)
        span(opId, "action", name, t1, t2)
        rec.write(Seq("kind" -> "op", "pass" -> pass, "name" -> name,
          "start_ms" -> t0, "construct_s" -> (t1 - t0) / 1e3,
          "action_s" -> (t2 - t1) / 1e3, "error" -> result.left.toOption) ++
          result.toOption.getOrElse(Map.empty).toSeq: _*)
        if (traced) cacheSnapshot(opId)
      }
      val passEnd = nowMs
      lastPassMs = passEnd - passStart
      if (pass == 0) budgetStart = passEnd
      span(0, "workload", s"pass$pass", passStart, passEnd, passId)
      rec.write("kind" -> "pass", "pass" -> pass, "start_ms" -> passStart,
        "end_ms" -> passEnd)
      // the next pass pays the family builds again, as a fresh client would
      graft.operators.Dedup.releasePairs()
      pass += 1
    }
    val stats = jvm.sample()
    spark.stop() // drains the listener bus, so every traced event is written
    rec.write(Seq("kind" -> "jvm") ++ stats.toSeq: _*)
  }
}

/** JVM-wide figures: GC time and heap peak since construction, and the
  * process's resident-set high-water mark (Linux `VmHWM`).
  */
final class JvmStats {
  import java.lang.management.{ManagementFactory, MemoryType}
  import scala.jdk.CollectionConverters._

  private def gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).toSeq
  private val gc0 = gcMs
  heapPools.foreach(_.resetPeakUsage())

  def sample(): Map[String, Double] = {
    val hwmKb = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble).getOrElse(0.0)
    Map("gc_s" -> (gcMs - gc0) / 1e3,
      "heap_peak_mb" -> heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0,
      "peak_rss_mb" -> hwmKb / 1024.0)
  }
}
