package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.BlockId

/** Listener-side counts for one traced op. The runner drains the listener
  * bus before an op starts and after it ends, so every event delivered in
  * between belongs to that op: one client runs one op at a time, and jobs
  * that `Etl`'s Futures submit from pool threads land here too. */
final class OpTrace {
  val jobStart = mutable.LinkedHashMap[Int, Long]()
  val jobs = mutable.ArrayBuffer[(Int, Long, Long)]()   // id, start ms, end ms
  var stages, tasks, executions = 0L
  var taskRunMs, taskBusyMs, taskCpuNs, taskGcMs = 0L
  var bytesRead, recordsRead, bytesWritten, recordsWritten = 0L
  var shuffleBytes, shuffleRecords, fetchWaitMs = 0L
  var analysisMs, optimizationMs, planningMs = 0L
  val rddsCreated = mutable.Set[Int]()
  val blockBytes = mutable.HashMap[BlockId, Long]()
  var stored, storedPeak = 0L

  def json: String = Json.obj(
    "jobs" -> jobs.map { case (id, s, e) => Seq(id, s, e) },
    "stages" -> stages, "tasks" -> tasks, "executions" -> executions,
    "task_run_ms" -> taskRunMs, "task_busy_ms" -> taskBusyMs,
    "task_cpu_ns" -> taskCpuNs, "task_gc_ms" -> taskGcMs,
    "bytes_read" -> bytesRead, "records_read" -> recordsRead,
    "bytes_written" -> bytesWritten, "records_written" -> recordsWritten,
    "shuffle_bytes" -> shuffleBytes, "shuffle_records" -> shuffleRecords,
    "fetch_wait_ms" -> fetchWaitMs,
    "analysis_ms" -> analysisMs, "optimization_ms" -> optimizationMs,
    "planning_ms" -> planningMs,
    "rdds_created" -> rddsCreated.size, "stored_peak_bytes" -> storedPeak)
}

/** One listener for the scheduler, executor, storage and Catalyst layers.
  * Registered only around traced ops; `cur` is the op being traced. */
final class Tracer extends SparkListener with QueryExecutionListener {
  @volatile var cur: OpTrace = null

  private def withOp(f: OpTrace => Unit): Unit = {
    val t = cur
    if (t != null) t.synchronized(f(t))
  }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    withOp(_.jobStart(e.jobId) = e.time)

  override def onJobEnd(e: SparkListenerJobEnd): Unit = withOp { t =>
    t.jobStart.remove(e.jobId).foreach(s => t.jobs += ((e.jobId, s, e.time)))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    withOp(_.stages += 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = withOp { t =>
    t.tasks += 1
    val info = e.taskInfo
    if (info != null) t.taskBusyMs += info.finishTime - info.launchTime
    val m = e.taskMetrics
    if (m != null) {
      t.taskRunMs += m.executorRunTime
      t.taskCpuNs += m.executorCpuTime
      t.taskGcMs += m.jvmGCTime
      t.bytesRead += m.inputMetrics.bytesRead
      t.recordsRead += m.inputMetrics.recordsRead
      t.bytesWritten += m.outputMetrics.bytesWritten
      t.recordsWritten += m.outputMetrics.recordsWritten
      t.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      t.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
      t.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
    }
  }

  /** Storage of the RDD blocks this op created: blocks that existed before
    * the op are not counted, so the peak is the op's own materialization. */
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD) withOp { t =>
      val bytes = if (b.storageLevel.isValid) b.memSize + b.diskSize else 0L
      val before = t.blockBytes.get(b.blockId)
      if (bytes > 0 || before.isDefined) {
        t.stored += bytes - before.getOrElse(0L)
        if (bytes == 0L) t.blockBytes.remove(b.blockId) else {
          t.blockBytes(b.blockId) = bytes
          t.rddsCreated += b.blockId.asRDDId.get.rddId
        }
        t.storedPeak = t.storedPeak max t.stored
      }
    }
  }

  private def phases(qe: QueryExecution): Unit = withOp { t =>
    t.executions += 1
    val p = qe.tracker.phases
    t.analysisMs += p.get("analysis").map(_.durationMs).getOrElse(0L)
    t.optimizationMs += p.get("optimization").map(_.durationMs).getOrElse(0L)
    t.planningMs += p.get("planning").map(_.durationMs).getOrElse(0L)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    phases(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    phases(qe)
}
