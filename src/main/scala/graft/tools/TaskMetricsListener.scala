package graft.tools

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

import scala.collection.concurrent.TrieMap

/** Accumulates task metrics, job and stage counts, and a per-stage
  * table across measurement windows (shared by Bench and Probe). The
  * run/cpu pair is the decisive split for wall-time variance:
  * executorRunTime is thread WALL (inflates when the host deschedules
  * vCPUs — steal the guest may not even see), executorCpuTime is actual
  * on-CPU nanoseconds (inflates only with real extra cycles: stalls,
  * memory-bandwidth contention, or more work). Same tasks + flat cpu +
  * ballooning run = host-level scheduling, not the engine. The job
  * count is the AQE round-trip signal: AQE materializes every exchange
  * as its own job.
  *
  * Snaps are only coherent after the listener bus is DRAINED
  * (bridge.drainListenerBus, which [[window]] does) — dispatch is async
  * even in local mode, so an undrained snap can miss tail onTaskEnd
  * events and bleed them into the next window.
  */
final class TaskMetricsListener extends SparkListener {
  import TaskMetricsListener._

  private val runMs, cpuNs, gcMs, fetchWaitMs, spillBytes, tasks, jobs,
    stages = new AtomicLong
  private val byStage = TrieMap.empty[Int, Stage]

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
    val m = t.taskMetrics
    if (m != null) {
      runMs.addAndGet(m.executorRunTime)
      cpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      fetchWaitMs.addAndGet(m.shuffleReadMetrics.fetchWaitTime)
      spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      tasks.incrementAndGet()
      val s = byStage.getOrElseUpdate(t.stageId, new Stage)
      s.synchronized {
        s.tasks += 1
        s.runMs += m.executorRunTime
        s.cpuMs += m.executorCpuTime / 1000000L
        s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        s.rows += m.outputMetrics.recordsWritten +
          m.shuffleWriteMetrics.recordsWritten
      }
    }
  }

  override def onJobStart(j: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet(); ()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    stages.incrementAndGet()
    val s = byStage.getOrElseUpdate(e.stageInfo.stageId, new Stage)
    s.synchronized {
      s.name = e.stageInfo.name.linesIterator.nextOption().getOrElse("")
        .take(120)
    }
  }

  def snap(): Snap =
    Snap(runMs.get, cpuNs.get, gcMs.get, fetchWaitMs.get, spillBytes.get,
      tasks.get, jobs.get, stages.get)

  /** Runs `f` between two drained snaps: its result, wall seconds, and
    * the window's metric delta. The clock starts after the first snap.
    */
  def window[T](spark: SparkSession)(f: => T): (T, Double, Snap) = {
    org.apache.spark.sql.graft.bridge.drainListenerBus(spark)
    val s0 = snap()
    val t0 = System.nanoTime()
    val out = f
    val wall = (System.nanoTime() - t0) / 1e9
    org.apache.spark.sql.graft.bridge.drainListenerBus(spark)
    (out, wall, snap() - s0)
  }

  /** Per-stage rows recorded since the last [[clearStages]], by stage id. */
  def stageTable(): Seq[(Int, Stage)] = byStage.toSeq.sortBy(_._1)

  def clearStages(): Unit = byStage.clear()
}

object TaskMetricsListener {

  final case class Snap(runMs: Long, cpuNs: Long, gcMs: Long,
                        fetchWaitMs: Long, spillBytes: Long, tasks: Long,
                        jobs: Long, stages: Long) {
    def -(o: Snap): Snap = Snap(runMs - o.runMs, cpuNs - o.cpuNs,
      gcMs - o.gcMs, fetchWaitMs - o.fetchWaitMs, spillBytes - o.spillBytes,
      tasks - o.tasks, jobs - o.jobs, stages - o.stages)
    def cpuS: Double = cpuNs / 1e9
    def spillMB: Long = spillBytes / 1000000L
  }

  /** One stage's task totals; `name` is the first line of its callsite. */
  final class Stage {
    var tasks = 0
    var runMs, cpuMs, shuffleReadBytes, shuffleWriteBytes, rows = 0L
    var name = "?"
  }
}
