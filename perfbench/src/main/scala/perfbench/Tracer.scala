package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Records the program's layers from outside, through Spark's public
  * listener interfaces only: jobs and stages (scheduler, executor, shuffle
  * and scan metrics), each finished action's `QueryPlanningTracker` phases
  * and plan shape (Catalyst), and every streaming progress event.
  *
  * Events are kept in memory as plain maps and written out once, after the
  * SparkContext has stopped and the listener bus has drained. */
final class Tracer extends SparkListener with QueryExecutionListener {
  val events = new ConcurrentLinkedQueue[Map[String, Any]]()

  private def prop(p: java.util.Properties, k: String): String =
    Option(p).flatMap(x => Option(x.getProperty(k))).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit =
    events.add(Map("kind" -> "job_start", "job" -> e.jobId, "ms" -> e.time,
      "group" -> prop(e.properties, "spark.jobGroup.id"),
      "tags" -> prop(e.properties, "spark.job.tags").take(200),
      "stream_query" -> prop(e.properties, "sql.streaming.queryId"),
      "stages" -> e.stageIds)): Unit

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    events.add(Map("kind" -> "job_end", "job" -> e.jobId, "ms" -> e.time,
      "ok" -> (e.jobResult == JobSucceeded))): Unit

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = i.taskMetrics
    val metrics: Map[String, Any] =
      if (m == null) Map.empty
      else Map(
        "run_ms" -> m.executorRunTime,
        "cpu_ns" -> m.executorCpuTime,
        "gc_ms" -> m.jvmGCTime,
        "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled),
        "shuffle_read_bytes" -> m.shuffleReadMetrics.totalBytesRead,
        "fetch_wait_ms" -> m.shuffleReadMetrics.fetchWaitTime,
        "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten,
        "input_bytes" -> m.inputMetrics.bytesRead,
        "input_rows" -> m.inputMetrics.recordsRead)
    events.add(Map("kind" -> "stage", "stage" -> i.stageId,
      "attempt" -> i.attemptNumber(), "tasks" -> i.numTasks,
      "start_ms" -> i.submissionTime.getOrElse(-1L),
      "end_ms" -> i.completionTime.getOrElse(-1L),
      "name" -> i.name.takeWhile(_ != '\n').take(80)) ++ metrics): Unit
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases.map { case (k, p) =>
      k -> Seq(p.startTimeMs, p.endTimeMs)
    }
    val (nodes, exchanges) = Tracer.planShape(qe.executedPlan)
    events.add(Map("kind" -> "qe", "func" -> funcName, "phases" -> phases,
      "plan_nodes" -> nodes, "exchanges" -> exchanges)): Unit
  }

  // a failing query is counted by the client, which sees the exception
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Streaming progress, one record per trigger of every started query. */
  val streaming: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      events.add(Map("kind" -> "stream_end", "id" -> e.id.toString,
        "error" -> e.exception.getOrElse(""))): Unit
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val state = p.stateOperators.toSeq.map { s =>
        Map("rows" -> s.numRowsTotal, "memory_bytes" -> s.memoryUsedBytes,
          "commit_ms" -> s.commitTimeMs, "dropped_late" -> s.numRowsDroppedByWatermark)
      }
      events.add(Map("kind" -> "progress", "query" -> p.name, "id" -> p.id.toString,
        "batch" -> p.batchId,
        "start_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
        "input_rows" -> p.numInputRows,
        "durations" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue() }.toMap,
        "state" -> state)): Unit
    }
  }

  def drain(): Seq[Map[String, Any]] = events.asScala.toSeq
}

object Tracer extends AdaptiveSparkPlanHelper {
  /** (nodes, exchanges) of a physical plan, looking through adaptive query
    * stages; shuffle and broadcast exchanges both count, reused ones too. */
  def planShape(plan: SparkPlan): (Int, Int) = {
    var nodes, exchanges = 0
    foreach(plan) { p =>
      nodes += 1
      p match {
        case _: Exchange | _: ReusedExchangeExec => exchanges += 1
        case _ =>
      }
    }
    (nodes, exchanges)
  }
}
