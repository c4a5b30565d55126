package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Epoch milliseconds with sub-millisecond resolution. Spark's listener
  * events carry `System.currentTimeMillis` stamps, so harness spans use
  * the same epoch and can be laid over them.
  */
object Clock {
  private val epoch0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

/** Micro-batch progress of every streaming query. Attached in timed and
  * traced runs alike: `batch_p50_s` is an end-to-end figure of the
  * streaming replays.
  */
class BatchRecorder extends StreamingQueryListener {
  import StreamingQueryListener._

  val batches = new ConcurrentLinkedQueue[Map[String, Any]]()

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()

  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    batches.add(Map(
      "run_id" -> p.runId.toString,
      "batch" -> p.batchId,
      "start_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
      "duration_ms" -> p.durationMs.asScala.map { case (k, v) =>
        k -> v.longValue }.toMap,
      "input_rows" -> p.numInputRows,
      "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum))
  }
}

/** Jobs and completed stages with their summed task metrics (traced runs
  * only). Each job keeps the first graft frame of its result stage's
  * call site, so write jobs can be grouped by the program function that
  * launched them.
  */
class JobRecorder extends SparkListener {
  val jobs = new ConcurrentLinkedQueue[Map[String, Any]]()
  val stages = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val open = new ConcurrentHashMap[Int, (Long, Seq[Int], String)]()

  private def graftFrame(details: String): String =
    details.linesIterator.map(_.trim).find(_.startsWith("graft.")).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val site = if (e.stageInfos.isEmpty) ""
      else graftFrame(e.stageInfos.maxBy(_.stageId).details)
    open.put(e.jobId, (e.time, e.stageIds, site))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val (start, stageIds, site) = open.remove(e.jobId)
    jobs.add(Map("job_id" -> e.jobId, "start_ms" -> start.toDouble,
      "end_ms" -> e.time.toDouble, "stage_ids" -> stageIds, "site" -> site,
      "ok" -> (e.jobResult == JobSucceeded)))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val tm = si.taskMetrics
    stages.add(Map(
      "stage_id" -> si.stageId,
      "attempt" -> si.attemptNumber(),
      "start_ms" -> si.submissionTime.getOrElse(0L).toDouble,
      "end_ms" -> si.completionTime.getOrElse(0L).toDouble,
      "tasks" -> si.numTasks,
      "run_ms" -> tm.executorRunTime,
      "gc_ms" -> tm.jvmGCTime,
      "input_bytes" -> tm.inputMetrics.bytesRead,
      "input_rows" -> tm.inputMetrics.recordsRead,
      "output_bytes" -> tm.outputMetrics.bytesWritten,
      "shuffle_read_bytes" -> tm.shuffleReadMetrics.totalBytesRead,
      "shuffle_write_bytes" -> tm.shuffleWriteMetrics.bytesWritten,
      "spill_bytes" -> tm.diskBytesSpilled,
      "failed" -> si.failureReason.isDefined))
  }
}

/** Catalyst phase intervals (analysis, optimization, planning) of every
  * QueryExecution that reaches an action (traced runs only).
  */
class PlanRecorder extends QueryExecutionListener {
  val executions = new ConcurrentLinkedQueue[Map[String, Any]]()

  private def record(func: String, qe: QueryExecution, ok: Boolean): Unit =
    executions.add(Map("func" -> func, "ok" -> ok,
      "phases" -> qe.tracker.phases.map { case (k, p) =>
        k -> Map("start_ms" -> p.startTimeMs.toDouble,
          "end_ms" -> p.endTimeMs.toDouble) }))

  override def onSuccess(func: String, qe: QueryExecution, ns: Long): Unit =
    record(func, qe, ok = true)

  override def onFailure(func: String, qe: QueryExecution,
      err: Exception): Unit =
    record(func, qe, ok = false)
}
