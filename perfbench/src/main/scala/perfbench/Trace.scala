package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters of one traced window: the Spark jobs, stages and tasks that
  * ran inside it, their task metrics, and the planning time of every
  * query execution that finished inside it. Task intervals are kept raw
  * (epoch ms) so busy share and driver gaps are computed from them.
  */
final class Window {
  var jobs, stages, tasks = 0L
  var taskRunMs, taskCpuNs, taskGcMs = 0L
  var scanBytes, shuffleReadBytes, shuffleWriteBytes, spillBytes, peakExecMem = 0L
  var planMs = 0L
  var startMs, endMs = 0L
  val jobStartMs = mutable.ArrayBuffer.empty[Long]
  val intervals = mutable.ArrayBuffer.empty[(Long, Long)]

  def record: Map[String, Any] = synchronized(Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "task_run_s" -> taskRunMs / 1e3, "task_cpu_s" -> taskCpuNs / 1e9,
    "task_gc_s" -> taskGcMs / 1e3, "scan_bytes" -> scanBytes,
    "shuffle_read_bytes" -> shuffleReadBytes,
    "shuffle_write_bytes" -> shuffleWriteBytes, "spill_bytes" -> spillBytes,
    "peak_exec_mem_bytes" -> peakExecMem, "plan_s" -> planMs / 1e3,
    "start_ms" -> startMs, "end_ms" -> endMs,
    "job_start_ms" -> jobStartMs.toSeq,
    "task_intervals_ms" -> intervals.toSeq))
}

/** The traced run's hooks, attached from outside the engine: a
  * `SparkListener` for jobs, stages and tasks and a
  * `QueryExecutionListener` for the planning phases of
  * `QueryExecution.tracker`. Both are registered only for the duration
  * of [[traced]], so untraced work in the same JVM runs without them.
  */
final class Tracer(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {
  @volatile private var current: Window = null
  private var jobsOpen, tasksOpen, events = 0L

  private def upd(f: Window => Unit): Unit = synchronized {
    events += 1
    val w = current
    if (w != null) w.synchronized(f(w))
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    synchronized(jobsOpen += 1)
    upd { w => w.jobs += 1; w.jobStartMs += e.time }
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    synchronized(jobsOpen -= 1)
    upd(_ => ())
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    upd(_.stages += 1)
  override def onTaskStart(e: SparkListenerTaskStart): Unit = {
    synchronized(tasksOpen += 1)
    upd(_ => ())
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    synchronized(tasksOpen -= 1)
    upd { w =>
      w.tasks += 1
      w.intervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
      val m = e.taskMetrics
      if (m != null) {
        w.taskRunMs += m.executorRunTime
        w.taskCpuNs += m.executorCpuTime
        w.taskGcMs += m.jvmGCTime
        w.scanBytes += m.inputMetrics.bytesRead
        w.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        w.peakExecMem = math.max(w.peakExecMem, m.peakExecutionMemory)
      }
    }
  }

  private def planned(qe: QueryExecution): Unit =
    upd(_.planMs += qe.tracker.phases.values.map(_.durationMs).sum)
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    planned(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    planned(qe)

  /** Listener events arrive asynchronously; wait until every started job
    * and task has ended and no event has arrived for a short while.
    */
  private def drain(): Unit = {
    val deadline = System.nanoTime() + 5000000000L
    var last = -1L
    var quiet = 0
    while (quiet < 3 && System.nanoTime() < deadline) {
      Thread.sleep(20)
      val (n, open) = synchronized((events, jobsOpen + tasksOpen))
      if (n == last && open <= 0) quiet += 1 else quiet = 0
      last = n
    }
  }

  /** Runs `body` with both listeners registered; returns its result and
    * the window's counters once every event of the window is delivered.
    */
  def traced[T](body: => T): (T, Window) = {
    val w = new Window
    synchronized { jobsOpen = 0; tasksOpen = 0 }
    current = w
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    try {
      w.startMs = System.currentTimeMillis()
      val r = body
      w.endMs = System.currentTimeMillis()
      drain()
      (r, w)
    } finally {
      current = null
      spark.sparkContext.removeSparkListener(this)
      spark.listenerManager.unregister(this)
    }
  }
}
