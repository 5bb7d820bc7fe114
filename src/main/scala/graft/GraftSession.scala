package graft

import org.apache.spark.sql.SparkSession

/** The one local-mode session builder shared by every CLI main (Bench,
  * Verify, the tools). Engine-behavior conf lives HERE so a tuning tweak
  * lands in one place — a profiler building its own session would silently
  * measure a different engine than the bench.
  */
object GraftSession {

  /** Data-proportional shuffle parallelism (the r10 decade-2 closure —
    * SCALE.md "partitions ∝ data substitutes for memory ∝ data"): one
    * shuffle partition per ~5 MB of fixture parquet, floored at the core
    * count. At sf ≤ 1 this resolves to exactly `cpus` (no behavior
    * change vs every prior record); at sf10 it resolves to ~325, which
    * the measured A/B (configs A–D, a spill probe) showed turns 67 GB
    * spills and OOMs into spill-free runs at the DEFAULT 8g heap. On a
    * real cluster this mirrors the default geometry — task count tracks
    * cluster size while per-task memory stays fixed; locally the core
    * count never moves, so the partition count must carry the decade.
    */
  private[graft] def dataPartitions(cpus: String, dataDir: String): Int = {
    val files = Option(new java.io.File(dataDir).listFiles()).getOrElse(Array.empty)
    val bytes = files.filter(_.getName.endsWith(".parquet")).map(_.length()).sum
    math.max(coreCount(cpus), (bytes / (5L << 20)).toInt)
  }

  /** SPARK_GRAFT_CPUS, the local[N] thread spec every main builds its
    * session with; unset, the machine's core count.
    */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors().toString)

  /** `cpus` comes from SPARK_GRAFT_CPUS, whose contract is the local[N]
    * thread spec — which admits "*". The 2-arg builder passes it through
    * verbatim (local[*] is valid), so the 3-arg builder must not crash on
    * it: for partition math, "*" means the machine's core count, exactly
    * what local[*] resolves to.
    */
  private[graft] def coreCount(cpus: String): Int =
    cpus.toIntOption.getOrElse(Runtime.getRuntime.availableProcessors())

  /** Fixture-aware builder: sizes shuffle parallelism from the data
    * directory. When the data demands MORE partitions than cores, AQE's
    * byte-based partition coalescing is disabled for the session: its
    * parallelism floor is `defaultParallelism` (= cores locally — on a
    * cluster it grows with the cluster, which is why the default is safe
    * there), so it would coalesce the scaled shuffles right back to the
    * starved counts (measured: config C/D in SCALE.md r10 — the shingle
    * verify stages amplify ~10-50× from shuffle bytes to working set,
    * so input-byte coalescing targets re-create the spill).
    */
  def builder(appName: String, cpus: String, dataDir: String): SparkSession.Builder = {
    // SPARK_GRAFT_EXTRA_CONF re-applies LAST so the dev overlay still
    // wins over the data-derived sizing (the base builder applied it
    // before this method's overrides)
    builder(appName, cpus).config(scaledConf(cpus, dataDir)).config(extraConf)
  }

  /** The data-derived conf overlay, exposed as a pure function so
    * GraftSessionSpec can pin the r10 partition regime against silent
    * reversion: partitions follow the fixture bytes, coalescing flips
    * off exactly when the sizing exceeds the cores, and at ≤ cores the
    * overlay is partitions-only (byte-identical sessions to the r9
    * records).
    */
  private[graft] def scaledConf(cpus: String, dataDir: String): Map[String, String] = {
    val parts = dataPartitions(cpus, dataDir)
    Map("spark.sql.shuffle.partitions" -> parts.toString) ++
      (if (parts > coreCount(cpus))
        Map("spark.sql.adaptive.coalescePartitions.enabled" -> "false")
      else Map.empty)
  }

  def builder(appName: String, cpus: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config(engineConf)
      // dev knob: SPARK_GRAFT_EXTRA_CONF="k=v;k=v" overlays arbitrary conf
      // for config experiments without editing builders
      .config(extraConf)

  /** The engine conf every graft session gets, as one pure map so
    * GraftSessionSpec pins it without building a session.
    *
    * spark.driver.maxResultSize stays at the 1g DEFAULT: it is the guard
    * that catches a runaway driver collect before it buffers gigabytes.
    * The one workload that used to cross it at sf10 — the sessionization
    * verification's complete-mode memory sink — now drains through a
    * parquet FILE sink (Sessionize.streaming), so no result bytes route
    * through the driver. Dev override, if ever needed:
    * SPARK_GRAFT_EXTRA_CONF="spark.driver.maxResultSize=8g".
    */
  private[graft] val engineConf: Map[String, String] = Map(
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    // ObjectHashAggregate (collect_set/collect_list/typed aggregates)
    // falls back to SORT-based aggregation after 128 distinct keys per
    // partition by default — pathological for the grouped-array builds
    // (co-purchase pair-gen, adjacency lists, minhash signatures) whose
    // per-key state is small but key counts are corpus-sized. Raise the
    // threshold so the hash path holds where the map FITS — but the
    // threshold bounds PER-TASK MEMORY (keys × object state × concurrent
    // tasks), so it must NOT track the corpus: the r9 value of 10M let a
    // pre-shuffle partial aggregate hold 10M ArrayBuffer entries in
    // every one of 32 concurrent tasks at sf10 (~48 GB of live objects
    // — the OOM the decade blamed on "needs a 96g heap"). 500k × ~150 B
    // × 32 tasks ≈ 2.4 GB worst case at the 8g default; beyond it the
    // sort-based fallback spills gracefully, which is the correct
    // behavior past memory, and post-shuffle aggregates (key counts ∝
    // 1/partitions) never reach it at any measured scale.
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "500000",
    // `file:` without subprocesses (graft.fs): without libhadoop, Hadoop's
    // local filesystem forks chmod on every create and mkdir and readlink
    // on every FileContext rename — ~110 forks per streaming query from
    // its checkpoint and state-store files, ~30 per lake commit.
    "spark.hadoop.fs.file.impl" -> "graft.fs.NioLocalFileSystem",
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> "graft.fs.NioLocalFs",
    // Codegen is cached by (context classloader, source). Every streaming
    // query runs in a cloneSession(), and with per-session artifact
    // isolation each clone gets its own classloader, so identical
    // micro-batch code recompiled for every query. The engine adds no
    // session artifacts (no addArtifact/addJar), so isolation buys
    // nothing. Read at session creation; newSession() and cloneSession()
    // inherit it.
    "spark.sql.artifact.isolation.enabled" -> "false",
    // The compiled-class cache is an LRU; over a cyclic working set larger
    // than itself it never hits. One pass of the streaming benchmark's six
    // ops compiles 131–136 classes, against the default 100 entries. A
    // static conf: it takes effect when it is set before the first codegen.
    "spark.sql.codegen.cache.maxEntries" -> "512",
    // TorrentBroadcast allocates one full block up front for every
    // broadcast, task binaries included. The default 4m block is a
    // humongous G1 allocation on a local heap of 2 MB regions (3 GB
    // heap), straight into old-gen regions, and peak RSS follows those
    // between young GCs; 512k stays below half a region. The value
    // follows the local JVM's region size — a cluster deployment sets its
    // own.
    "spark.broadcast.blockSize" -> "512k")

  private def extraConf: Map[String, String] =
    sys.env.get("SPARK_GRAFT_EXTRA_CONF").toSeq
      .flatMap(_.split(";")).filter(_.contains("="))
      .map { kv => val Array(k, v) = kv.split("=", 2); k -> v }.toMap
}
