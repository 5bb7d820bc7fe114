package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.StorageLevel

/** Event sink of the traced run. Spark instantiates the listeners below by
  * class name from the static confs `spark.extraListeners`,
  * `spark.sql.queryExecutionListeners` and
  * `spark.sql.streaming.streamingQueryListeners`, so they reach every
  * session of the context, `newSession()` included. Each listener writes
  * raw events; span building and layer attribution happen offline
  * (perfbench/analysis.py).
  */
object Trace {
  @volatile var sink: Option[RecordFile] = None

  def write(fields: (String, Any)*): Unit = sink.foreach(_.write(fields: _*))
}

/** Jobs and stages, with each stage's aggregated task metrics. */
final class JobListener extends SparkListener {
  override def onJobStart(e: SparkListenerJobStart): Unit =
    Trace.write("kind" -> "job_start", "job" -> e.jobId, "t_ms" -> e.time,
      "stages" -> e.stageIds)

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Trace.write("kind" -> "job_end", "job" -> e.jobId, "t_ms" -> e.time,
      "ok" -> (e.jobResult == JobSucceeded))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = e.stageInfo
    val m = s.taskMetrics
    val metrics: Map[String, Any] = if (m == null) Map.empty else Map(
      "run_ms" -> m.executorRunTime,
      "cpu_ns" -> m.executorCpuTime,
      "gc_ms" -> m.jvmGCTime,
      "input_bytes" -> m.inputMetrics.bytesRead,
      "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten,
      "shuffle_read_bytes" -> m.shuffleReadMetrics.totalBytesRead,
      "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled),
      "output_bytes" -> m.outputMetrics.bytesWritten,
      "output_rows" -> m.outputMetrics.recordsWritten)
    Trace.write(Seq(
      "kind" -> "stage", "stage" -> s.stageId, "attempt" -> s.attemptNumber(),
      "submit_ms" -> s.submissionTime, "end_ms" -> s.completionTime,
      "tasks" -> s.numTasks,
      "persisted_rdds" -> s.rddInfos.filter(_.storageLevel != StorageLevel.NONE).map(_.id)
    ) ++ metrics: _*)
  }
}

/** Catalyst phase times of every action, from `QueryPlanningTracker`. */
final class PlanListener extends QueryExecutionListener {
  private def record(func: String, qe: QueryExecution, ok: Boolean): Unit =
    Trace.write("kind" -> "plan", "func" -> func, "ok" -> ok,
      "t_ms" -> System.currentTimeMillis(),
      "phases" -> qe.tracker.phases.map { case (k, p) =>
        k -> Seq(p.startTimeMs, p.endTimeMs) })

  override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit =
    record(func, qe, ok = true)

  override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit =
    record(func, qe, ok = false)
}

/** Micro-batch progress of every streaming query. */
final class StreamListener extends StreamingQueryListener {
  import StreamingQueryListener._

  override def onQueryStarted(e: QueryStartedEvent): Unit =
    Trace.write("kind" -> "stream_start", "query" -> e.runId.toString,
      "t_ms" -> System.currentTimeMillis())

  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    val state = p.stateOperators.toSeq
    Trace.write("kind" -> "batch", "query" -> p.runId.toString, "batch" -> p.batchId,
      "start_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
      "durations" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      "state_commit_ms" -> state.map(_.commitTimeMs).sum,
      "state_rows" -> state.map(_.numRowsUpdated).sum,
      "input_rows" -> p.numInputRows)
  }

  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
}
