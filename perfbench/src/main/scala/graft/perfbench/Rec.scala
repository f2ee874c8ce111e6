package graft.perfbench

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** In-memory event record of one benchmark process. Every timestamp is
  * epoch milliseconds, the clock Spark's listener events use, so harness
  * spans and Spark's job, stage and micro-batch intervals line up.
  * Nothing is written until the process ends. */
object Rec {
  private val t0Nanos = System.nanoTime()
  private val t0Millis = System.currentTimeMillis().toDouble

  /** Epoch ms with nanosecond resolution. */
  def now(): Double = t0Millis + (System.nanoTime() - t0Nanos) / 1e6

  val jobs = new ConcurrentLinkedQueue[Map[String, Any]]()
  val stages = new ConcurrentLinkedQueue[Map[String, Any]]()
  val sql = new ConcurrentLinkedQueue[Map[String, Any]]()
  val progress = new ConcurrentLinkedQueue[Map[String, Any]]()
  @volatile var failedTasks: Long = 0L

  def snapshot(): Map[String, Any] = Map(
    "jobs" -> jobs.asScala.toSeq,
    "stages" -> stages.asScala.toSeq,
    "sql" -> sql.asScala.toSeq,
    "progress" -> progress.asScala.toSeq,
    "failed_tasks" -> failedTasks)
}

/** Spark job, stage and task observer for traced runs, installed through
  * `spark.extraListeners`. Stage totals come from the stage's own
  * accumulated task metrics. */
class JobListener extends SparkListener {
  private val starts = new ConcurrentHashMap[Int, (Long, Seq[Int])]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    starts.put(e.jobId, (e.time, e.stageIds))

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val (start, stageIds) = Option(starts.remove(e.jobId)).getOrElse((e.time, Seq.empty))
    Rec.jobs.add(Map("id" -> e.jobId, "start" -> start, "end" -> e.time,
      "stages" -> stageIds, "ok" -> (e.jobResult == JobSucceeded)))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = i.taskMetrics
    Rec.stages.add(Map(
      "id" -> i.stageId, "attempt" -> i.attemptNumber(),
      "start" -> i.submissionTime.getOrElse(0L), "end" -> i.completionTime.getOrElse(0L),
      "tasks" -> i.numTasks,
      "run_ms" -> m.executorRunTime, "cpu_ns" -> m.executorCpuTime, "gc_ms" -> m.jvmGCTime,
      "shuffle_read_b" -> m.shuffleReadMetrics.totalBytesRead,
      "shuffle_write_b" -> m.shuffleWriteMetrics.bytesWritten,
      "spill_b" -> (m.memoryBytesSpilled + m.diskBytesSpilled)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.reason != Success) Rec.synchronized(Rec.failedTasks += 1)
}

/** Catalyst phase timings of every executed query, installed through
  * `spark.sql.queryExecutionListeners` (traced runs only). */
class SqlListener extends QueryExecutionListener {
  private def record(qe: QueryExecution): Unit =
    Rec.sql.add(qe.tracker.phases.map { case (phase, p) =>
      phase -> Map("start" -> p.startTimeMs, "end" -> p.endTimeMs)
    })

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    record(qe)
}

/** Micro-batch progress, installed through
  * `spark.sql.streaming.streamingQueryListeners` so every session the
  * engine forks reports too. Spark computes progress whether or not
  * anyone listens, so this stays on in untraced runs. */
class StreamListener extends StreamingQueryListener {
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli
    Rec.progress.add(Map(
      "query" -> Option(p.name).getOrElse(""), "batch" -> p.batchId, "start" -> start,
      "input_rows" -> p.numInputRows,
      "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum,
      "durations" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
  }
}
