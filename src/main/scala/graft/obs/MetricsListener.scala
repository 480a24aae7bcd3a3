package graft.obs

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** The engine's stage listener: accumulates stage-level task metrics
  * (the aggregates the Spark UI shows) so two snapshots bracket a query, and
  * keeps one [[MetricsListener.Stage]] record per completed stage, until
  * drained, for the hot-stage column of `graft.Diag phases`.
  *
  * Listener delivery is async, so [[quiesce]] waits for job-count
  * quiescence plus a stable snapshot before a caller reads a delta;
  * `peakMemSum` sums per-stage aggregated task peaks (an upper bound on
  * concurrent execution memory, not a true high-water mark). */
final class MetricsListener extends SparkListener {
  import MetricsListener._
  private val jobsStarted = new AtomicLong
  private val jobsEnded = new AtomicLong
  // stage events on the listener bus are single-threaded, but
  // `snapshot` races them from the caller's thread
  private var totals = Snap(0, 0, 0, 0, 0, 0, 0, 0, 0)
  private val stageLog = new ConcurrentLinkedQueue[Stage]()

  override def onJobStart(e: SparkListenerJobStart): Unit = { jobsStarted.incrementAndGet(); () }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = { jobsEnded.incrementAndGet(); () }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val m = si.taskMetrics
    if (m != null) synchronized {
      val t = totals
      totals = Snap(t.shuffleRead + m.shuffleReadMetrics.totalBytesRead,
        t.shuffleWrite + m.shuffleWriteMetrics.bytesWritten,
        t.spillMem + m.memoryBytesSpilled, t.spillDisk + m.diskBytesSpilled,
        t.inputRead + m.inputMetrics.bytesRead, t.taskTimeMs + m.executorRunTime,
        t.peakMemSum + m.peakExecutionMemory, t.stages + 1, jobs = 0)
    }
    val wall = (for { s <- si.submissionTime; c <- si.completionTime } yield c - s).getOrElse(0L)
    stageLog.add(Stage(si.numTasks, wall, if (m == null) 0L else m.executorRunTime,
      si.name.take(60)))
    ()
  }

  def snapshot(): Snap = synchronized(totals.copy(jobs = jobsEnded.get))

  /** The stage records delivered since the last drain, oldest first. */
  def drainStages(): List[Stage] =
    Iterator.continually(stageLog.poll()).takeWhile(_ != null).toList

  /** Waits until all submitted jobs' end events have been delivered
    * AND two consecutive snapshots agree (stage-completed events for
    * a job's last stage can trail its job-end event). Returns the
    * snapshot plus whether it actually SETTLED: on timeout the last
    * snapshot may still be missing a straggling stage, whose bytes
    * would then bleed into the next query's delta — the flag is
    * recorded per row so such deltas are distinguishable in the
    * committed artifact instead of silently corrupt. */
  def quiesce(timeoutMs: Long = 10000): (Snap, Boolean) = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    var prev = snapshot()
    var settled = false
    while (!settled && System.nanoTime() < deadline) {
      Thread.sleep(50)
      val cur = snapshot()
      settled = jobsEnded.get == jobsStarted.get && cur == prev
      prev = cur
    }
    (prev, settled)
  }
}

object MetricsListener {
  /** Cumulative totals at one instant; two snapshots bracket a query. */
  final case class Snap(shuffleRead: Long, shuffleWrite: Long, spillMem: Long,
      spillDisk: Long, inputRead: Long, taskTimeMs: Long, peakMemSum: Long,
      stages: Long, jobs: Long)

  /** One completed stage: task count, stage wall (submission to
    * completion), summed task run time and the stage name. Wall ≈ summed
    * task time on a multi-ms stage means it ran without parallelism. */
  final case class Stage(tasks: Int, wallMs: Long, taskMs: Long, name: String)
}
