package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Times are epoch milliseconds, so spans recorded
  * by the harness and spans rebuilt from Spark's listener events share
  * one clock. `parent` is resolved at the end of the run (listener events
  * arrive asynchronously); `attrs` carries the counters measured at that
  * boundary.
  */
final case class Span(id: Long, name: String, layer: String, start: Double,
    end: Double, parent: Long = 0L, attrs: Map[String, Any] = Map.empty)

/** Spans kept in memory until the run ends. The harness opens spans
  * around its calls into graft; the listeners below add Spark's own
  * boundaries. Listener callbacks only record while a traced window is
  * open (checked against the event's own timestamp), so the untraced
  * passes of a traced run pay only Spark's event dispatch.
  */
final class Tracer {
  private val ids = new AtomicLong(0)
  val spans = new ConcurrentLinkedQueue[Span]()
  @volatile private var windows: List[(Double, Double)] = Nil

  def nextId(): Long = ids.incrementAndGet()
  def openWindow(at: Double): Unit = synchronized { windows = (at, Double.MaxValue) :: windows }
  def closeWindow(at: Double): Unit = synchronized {
    windows = windows match {
      case (s, _) :: rest => (s, at) :: rest
      case Nil => Nil
    }
  }
  def tracing(at: Double): Boolean = windows.exists { case (s, e) => at >= s && at <= e }
  def add(s: Span): Unit = spans.add(s)
}

/** Per-stage task aggregates; one instance per stage attempt. */
final class StageAgg {
  var tasks, failed, scanTasks = 0L
  var runMs, cpuNs, gcMs, inBytes, inRecords, shWrite, shRead, fetchWaitMs, spill,
    outBytes, outRecords = 0L
  val durations = mutable.ArrayBuffer.empty[Long]
}

/** Scheduler, executor, shuffle, source and sink boundaries, plus the SQL
  * executions whose plan text the UI already renders. Registered on the
  * public `SparkListener` API.
  */
final class SparkTrace(t: Tracer) extends SparkListener {
  private val stageAgg = mutable.Map.empty[(Int, Int), StageAgg]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val jobStart = mutable.Map.empty[Int, (Double, String, String)]
  private val jobSpan = mutable.Map.empty[Int, Long]
  private val sqlStart = mutable.Map.empty[Long, (Double, Int)]
  private var running = 0
  val jobConcurrency = mutable.ArrayBuffer.empty[(Double, Int)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    running += 1
    jobConcurrency += ((e.time.toDouble, running))
    if (t.tracing(e.time.toDouble)) {
      val p = Option(e.properties)
      jobStart(e.jobId) = (e.time.toDouble,
        p.map(_.getProperty("spark.sql.execution.id")).orNull,
        p.map(_.getProperty(Main.SpanProp)).orNull)
      jobSpan(e.jobId) = t.nextId()
      e.stageIds.foreach(stageJob(_) = e.jobId)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    running = math.max(0, running - 1)
    jobConcurrency += ((e.time.toDouble, running))
    jobStart.remove(e.jobId).foreach { case (start, execId, harnessSpan) =>
      t.add(Span(jobSpan(e.jobId), s"job ${e.jobId}", "scheduler", start, e.time.toDouble,
        attrs = Map("job_id" -> e.jobId, "sql_execution_id" -> Option(execId).getOrElse(""),
          "harness_span" -> Option(harnessSpan).getOrElse(""),
          "succeeded" -> (e.jobResult == JobSucceeded))))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (e.taskInfo != null && t.tracing(e.taskInfo.finishTime.toDouble)) {
      val a = stageAgg.getOrElseUpdate((e.stageId, e.stageAttemptId), new StageAgg)
      a.tasks += 1
      if (e.reason != Success) a.failed += 1
      a.durations += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.inBytes += m.inputMetrics.bytesRead
        a.inRecords += m.inputMetrics.recordsRead
        if (m.inputMetrics.recordsRead > 0) a.scanTasks += 1
        a.shWrite += m.shuffleWriteMetrics.bytesWritten
        a.shRead += m.shuffleReadMetrics.totalBytesRead
        a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.outBytes += m.outputMetrics.bytesWritten
        a.outRecords += m.outputMetrics.recordsWritten
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    stageAgg.remove((info.stageId, info.attemptNumber())).foreach { a =>
      val start = info.submissionTime.getOrElse(0L).toDouble
      val end = info.completionTime.getOrElse(System.currentTimeMillis()).toDouble
      val sorted = a.durations.sorted
      val median = if (sorted.isEmpty) 0L else sorted(sorted.size / 2)
      t.add(Span(t.nextId(), s"stage ${info.stageId}.${info.attemptNumber()}", "executors",
        start, end, parent = stageJob.get(info.stageId).flatMap(jobSpan.get).getOrElse(0L),
        attrs = Map("stage_id" -> info.stageId, "tasks" -> a.tasks, "tasks_failed" -> a.failed,
          "scan_tasks" -> a.scanTasks, "task_ms" -> a.runMs, "cpu_ns" -> a.cpuNs,
          "gc_ms" -> a.gcMs, "input_bytes" -> a.inBytes, "input_records" -> a.inRecords,
          "shuffle_write_bytes" -> a.shWrite, "shuffle_read_bytes" -> a.shRead,
          "fetch_wait_ms" -> a.fetchWaitMs, "spill_bytes" -> a.spill,
          "output_bytes" -> a.outBytes, "output_records" -> a.outRecords,
          "task_ms_max" -> sorted.lastOption.getOrElse(0L), "task_ms_median" -> median,
          "stage_failed" -> info.failureReason.isDefined)))
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart if t.tracing(s.time.toDouble) => synchronized {
      val bytes = Option(s.physicalPlanDescription).map(_.length).getOrElse(0)
      sqlStart(s.executionId) = (s.time.toDouble, bytes)
    }
    case s: SparkListenerSQLExecutionEnd => synchronized {
      sqlStart.remove(s.executionId).foreach { case (start, bytes) =>
        t.add(Span(t.nextId(), s"sql ${s.executionId}", "plans", start, s.time.toDouble,
          attrs = Map("sql_execution_id" -> s.executionId.toString, "plan_bytes" -> bytes,
            "failed" -> s.errorMessage.exists(_.nonEmpty))))
      }
    }
    case _ =>
  }
}

/** Catalyst phase times from `QueryExecution.tracker`, read when the
  * action finishes (the plan is not forced again).
  */
final class PlanTrace(t: Tracer) extends QueryExecutionListener {
  private def record(funcName: String, qe: QueryExecution, failed: Boolean): Unit = {
    val phases = qe.tracker.phases
    if (phases.nonEmpty) {
      val start = phases.values.map(_.startTimeMs).min.toDouble
      val end = phases.values.map(_.endTimeMs).max.toDouble
      if (t.tracing(start)) {
        val ms = phases.map { case (k, v) => s"${k}_ms" -> v.durationMs }
        t.add(Span(t.nextId(), s"catalyst $funcName", "plans", start, end,
          attrs = ms ++ Map("func" -> funcName, "failed" -> failed)))
      }
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(funcName, qe, failed = false)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(funcName, qe, failed = true)
}

/** One micro-batch's progress, as the untraced run reports it. */
final case class Batch(endMs: Double, triggerMs: Long, durations: Map[String, Long],
    stateRows: Long, stateBytes: Long, stateCommitMs: Long, runId: String)

/** Micro-batch progress. Always registered: the untraced run reports its
  * batch times from it too. Each progress becomes a `streaming.batch`
  * span whose children are its `durationMs` parts, laid end to end in
  * the order a micro-batch runs them (Spark reports their lengths, not
  * their start times).
  */
final class StreamTrace(t: Tracer) extends StreamingQueryListener {
  val batches = new ConcurrentLinkedQueue[Batch]()
  private val partOrder = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning",
    "addBatch", "commitOffsets")

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
    val trigger = d.getOrElse("triggerExecution", p.batchDuration)
    val ops = Option(p.stateOperators).map(_.toSeq).getOrElse(Nil)
    val b = Batch(start + trigger, trigger, d, ops.map(_.numRowsTotal).sum,
      ops.map(_.memoryUsedBytes).sum, ops.map(_.commitTimeMs).sum, p.runId.toString)
    batches.add(b)
    if (t.tracing(start)) {
      val id = t.nextId()
      t.add(Span(id, s"batch ${p.batchId}", "streaming", start, start + trigger,
        attrs = d.map { case (k, v) => s"${k}_ms" -> v } ++ Map("run_id" -> b.runId,
          "batch_id" -> p.batchId, "state_rows" -> b.stateRows,
          "state_bytes" -> b.stateBytes, "state_commit_ms" -> b.stateCommitMs)))
      var at = start
      partOrder.filter(d.contains).foreach { k =>
        t.add(Span(t.nextId(), k, "streaming", at, at + d(k), parent = id,
          attrs = Map("laid_out" -> true)))
        at += d(k)
      }
    }
  }
}
