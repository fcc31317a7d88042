package perfbench

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Per-operation counters of the traced run. All fields are summed over
  * the jobs, stages, tasks and query executions that ran while the
  * operation was current. */
final class Counters {
  var jobs = 0L; var stages = 0L; var tasks = 0L; var exchanges = 0L
  var scanTasks = 0L; var bytesRead = 0L; var rowsRead = 0L; var scanMs = 0L
  var runMs = 0L; var cpuNs = 0L; var schedDelayMs = 0L
  var shuffleWrite = 0L; var shuffleRead = 0L; var fetchWaitMs = 0L
  var spill = 0L; var peakExecMem = 0L
  var planNs = 0L; var queries = 0L
  var compiles = 0L; var compileMs = 0.0
  var snapshotFiles = 0L; var snapshotBytes = 0L
  var jvmGcMs = 0L
  val batches = mutable.ArrayBuffer.empty[Map[String, Double]]

  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "exchanges" -> exchanges, "scan_tasks" -> scanTasks,
    "bytes_read" -> bytesRead, "rows_read" -> rowsRead, "scan_ms" -> scanMs,
    "task_run_ms" -> runMs, "task_cpu_ns" -> cpuNs,
    "sched_delay_ms" -> schedDelayMs, "shuffle_write_bytes" -> shuffleWrite,
    "shuffle_read_bytes" -> shuffleRead, "fetch_wait_ms" -> fetchWaitMs,
    "spill_bytes" -> spill, "peak_exec_mem" -> peakExecMem,
    "plan_ns" -> planNs, "queries" -> queries,
    "codegen_compiles" -> compiles, "codegen_ms" -> compileMs,
    "snapshot_files" -> snapshotFiles, "snapshot_bytes" -> snapshotBytes,
    "jvm_gc_ms" -> jvmGcMs,
    "batches" -> batches.toSeq)
}

/** The traced run's probe: one `SparkListener`, one
  * `QueryExecutionListener` and one `StreamingQueryListener`, all
  * registered by the benchmark. The client is a closed loop, so every
  * event that arrives while an operation is current belongs to it. */
final class Probe(spark: SparkSession) {
  @volatile private var current: Counters = null
  @volatile private var currentSpan: Long = -1L
  private var codegenCount = 0L
  private var gcMs = 0L

  /** Spans of the query executions' planning phases (op span id,
    * start ms, end ms). */
  val planSpans = mutable.ArrayBuffer.empty[(Long, Long, Long)]

  private def acc(f: Counters => Unit): Unit = {
    val c = current
    if (c != null) c.synchronized(f(c))
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = acc(_.jobs += 1)

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = acc { c =>
      c.stages += 1
      val m = e.stageInfo.taskMetrics
      if (m != null && m.shuffleWriteMetrics.recordsWritten > 0) c.exchanges += 1
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = acc { c =>
      c.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        val in = m.inputMetrics
        if (in.recordsRead > 0 || in.bytesRead > 0) c.scanTasks += 1
        c.bytesRead += in.bytesRead
        c.rowsRead += in.recordsRead
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.peakExecMem = math.max(c.peakExecMem, m.peakExecutionMemory)
        val info = e.taskInfo
        c.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L))
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases.filter { case (k, _) => k != "analysis" }.values
      val planMs = phases.map(p => p.endTimeMs - p.startTimeMs).sum
      if (phases.nonEmpty) planSpans.synchronized {
        planSpans += ((currentSpan, phases.map(_.startTimeMs).min, phases.map(_.endTimeMs).max))
      }
      val scanMs = scans(qe.executedPlan).flatMap(_.metrics.get("scanTime")).map(_.value).sum
      acc { c => c.planNs += planMs * 1000000L; c.queries += 1; c.scanMs += scanMs }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.toDouble }
      val ops = p.stateOperators.toSeq
      val batch = Map(
        "trigger_ms" -> d.getOrElse("triggerExecution", 0.0),
        "add_batch_ms" -> d.getOrElse("addBatch", 0.0),
        "planning_ms" -> d.getOrElse("queryPlanning", 0.0),
        "wal_commit_ms" -> (d.getOrElse("walCommit", 0.0) + d.getOrElse("commitOffsets", 0.0)),
        "state_commit_ms" -> ops.map(_.commitTimeMs.toDouble).sum,
        "state_rows" -> ops.map(_.numRowsUpdated.toDouble).sum,
        "state_bytes" -> ops.map(_.memoryUsedBytes.toDouble).sum)
      acc(_.batches += batch)
    }
  }

  private def scans(plan: SparkPlan): Seq[FileSourceScanExec] = plan match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: QueryStageExec => scans(q.plan)
    case f: FileSourceScanExec => Seq(f)
    case other => (other.children ++ other.subqueries).flatMap(scans)
  }

  def register(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  def unregister(): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }

  /** Codegen is counted as compiles × mean compile time of the
    * histogram (its reservoir decays, so summing it would undercount). */
  private def codegen(): (Long, Double) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getSnapshot.getMean)
  }

  private def jvmGc(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def begin(c: Counters, spanId: Long): Unit = {
    codegenCount = codegen()._1
    gcMs = jvmGc()
    currentSpan = spanId
    current = c
  }

  /** Waits for the listener bus to deliver the operation's events, then
    * detaches the counters. */
  def end(): Unit = {
    org.apache.spark.ListenerBusDrain(spark.sparkContext)
    val (n, mean) = codegen()
    val gc = jvmGc() - gcMs
    acc { c =>
      c.compiles += n - codegenCount; c.compileMs += (n - codegenCount) * mean
      c.jvmGcMs += gc
    }
    current = null
  }
}
