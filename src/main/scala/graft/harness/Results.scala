package graft.harness

import java.nio.file.{Files, Paths, StandardOpenOption}
import scala.util.Try

/** Results store: JSON-lines with the reference's relational schema fields
  * (iteration + nested measurements,
  * /root/reference/timedf/report/schema.py:29-70). The reference uses
  * SQLAlchemy against MySQL/Postgres/sqlite; here the same records go to an
  * append-only JSONL file (one iteration object per line, measurements
  * embedded) and/or the embedded-Derby SQL sink (BenchmarkDb, `-db_name`).
  */
object Results {

  final case class Measurement(name: String, durationS: Double)

  final case class Iteration(
      benchmark: String,
      backend: String,
      iterationNo: Int,
      runId: Long,
      dateIso: String,
      hostInfo: Map[String, String],
      params: Map[String, String],
      measurements: Seq[Measurement])

  /** A JSON string literal (Bench.jstr escapes its body). */
  private def jstr(s: String): String = "\"" + graft.Bench.jstr(s) + "\""

  private def jobj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${jstr(k)}: $v" }.mkString("{", ", ", "}")

  /** A string map as a JSON object (shared by the JSONL and DB sinks). */
  def toJsonObject(m: Map[String, String]): String =
    jobj(m.toSeq.sortBy(_._1).map { case (k, v) => k -> jstr(v) })

  def toJson(it: Iteration): String = jobj(Seq(
    "benchmark" -> jstr(it.benchmark),
    "backend" -> jstr(it.backend),
    "iteration_no" -> it.iterationNo.toString,
    "run_id" -> it.runId.toString,
    "date" -> jstr(it.dateIso),
    "host_info" -> jobj(it.hostInfo.toSeq.sortBy(_._1).map { case (k, v) => k -> jstr(v) }),
    "params" -> jobj(it.params.toSeq.sortBy(_._1).map { case (k, v) => k -> jstr(v) }),
    "measurements" -> it.measurements.map(m =>
      jobj(Seq("name" -> jstr(m.name), "duration_s" -> m.durationS.toString)))
      .mkString("[", ", ", "]")))

  def append(path: String, it: Iteration): Unit = {
    val p = Paths.get(path)
    Option(p.getParent).foreach(Files.createDirectories(_))
    Files.writeString(p, toJson(it) + "\n",
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
  }

  /** Host info captured per iteration (reference shells out to lscpu and
    * reads /proc/meminfo, /root/reference/timedf/report/run_params.py:13-98;
    * here: /proc parsing only, no subprocess).
    */
  def hostInfo(): Map[String, String] = {
    def readKv(path: String, sep: Char): Map[String, String] =
      Try {
        scala.io.Source.fromFile(path).getLines()
          .flatMap { l =>
            l.split(sep) match {
              case Array(k, v, _*) => Some(k.trim -> v.trim)
              case _ => None
            }
          }.toMap
      }.getOrElse(Map.empty)
    val cpu = readKv("/proc/cpuinfo", ':')
    val mem = readKv("/proc/meminfo", ':')
    Map(
      "node" -> Try(java.net.InetAddress.getLocalHost.getHostName).getOrElse("unknown"),
      "os" -> sys.props.getOrElse("os.name", "unknown"),
      "architecture" -> sys.props.getOrElse("os.arch", "unknown"),
      "cpu_model" -> cpu.getOrElse("model name", "unknown"),
      "cpu_count" -> Runtime.getRuntime.availableProcessors().toString,
      "ram_size_kb" -> mem.getOrElse("MemTotal", "unknown").replace(" kB", ""),
      "jvm" -> sys.props.getOrElse("java.version", "unknown"))
  }

  /** stdout formatting (reference print_results,
    * /root/reference/timedf/benchmark_utils.py:109-114).
    */
  def printResults(measurements: Map[String, Double]): Unit =
    measurements.toSeq.sortBy(_._1).foreach { case (name, sec) =>
      println(f"$name%-40s = $sec%10.3f s")
    }
}
