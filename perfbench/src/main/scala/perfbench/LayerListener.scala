package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Scheduler, executor, shuffle and planning counters for the traced run,
  * from Spark's public listener APIs. Attached only in the traced run.
  * Counting starts at [[open]] and stops at [[close]], which first waits
  * until the listener bus has delivered every event of the window.
  */
final class LayerListener extends SparkListener with QueryExecutionListener {
  import LayerListener.Totals
  @volatile private var on = false
  private var jobs, stages, tasks, pinJobs = 0L
  private var taskNs, cpuNs, gcMs = 0L
  private var shuffleWrite, shuffleRead, spill = 0L
  private var planNs = 0L
  private val taskSpans = ArrayBuffer.empty[(Long, Long)]

  def open(): Unit = synchronized { on = true }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (on) {
      jobs += 1
      // the eager localCheckpoint of a pin runs as its own job, whose call
      // site names the checkpoint
      val site = e.stageInfos.map(_.name).mkString(" ") + " " +
        Option(e.properties).map(_.getProperty("callSite.short", "")).getOrElse("")
      if (site.contains("localCheckpoint") || site.contains("checkpoint at"))
        pinJobs += 1
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { if (on) stages += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (on) {
      tasks += 1
      taskSpans += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
      val m = e.taskMetrics
      if (m != null) {
        taskNs += m.executorRunTime * 1000000L
        cpuNs += m.executorCpuTime
        gcMs += m.jvmGCTime
        shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        shuffleRead += m.shuffleReadMetrics.totalBytesRead
        spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = synchronized {
    if (on) planNs += phasesNs(qe)
  }

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = synchronized {
    if (on) planNs += phasesNs(qe)
  }

  private def phasesNs(qe: QueryExecution): Long =
    qe.tracker.phases.values.map(_.durationMs).sum * 1000000L

  /** Stops counting; `fromMs`/`toMs` bound the loop for the idle time. */
  def close(spark: org.apache.spark.sql.SparkSession, fromMs: Long,
      toMs: Long): Totals = {
    LayerListener.drain(spark)
    synchronized {
      on = false
      Totals(jobs, stages, tasks, pinJobs, taskNs / 1e9, cpuNs / 1e9,
        gcMs / 1e3, shuffleWrite, shuffleRead, spill, planNs / 1e9,
        LayerListener.idleS(taskSpans.toSeq, fromMs, toMs))
    }
  }
}

object LayerListener {
  final case class Totals(jobs: Long, stages: Long, tasks: Long,
      pinJobs: Long, taskS: Double, cpuS: Double, gcS: Double,
      shuffleWrite: Long, shuffleRead: Long, spill: Long,
      listenerPlanS: Double, idleS: Double)

  /** Waits until the listener bus has delivered every posted event. */
  def drain(spark: org.apache.spark.sql.SparkSession): Unit =
    org.apache.spark.perfbenchaccess.BusAccess.waitUntilEmpty(spark.sparkContext)

  /** Seconds of [fromMs, toMs] during which no task ran. */
  def idleS(spans: Seq[(Long, Long)], fromMs: Long, toMs: Long): Double = {
    var covered = 0L
    var curStart = -1L
    var curEnd = -1L
    spans.map { case (a, b) => (a.max(fromMs), b.min(toMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (a > curEnd) {
          if (curEnd > curStart) covered += curEnd - curStart
          curStart = a
          curEnd = b
        } else curEnd = curEnd.max(b)
      }
    if (curEnd > curStart) covered += curEnd - curStart
    ((toMs - fromMs) - covered).max(0L) / 1e3
  }
}
