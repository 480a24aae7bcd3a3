package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One recorded interval. Times are epoch nanoseconds; `op` is the id
  * shared by every span of one benchmark operation (or of one stream
  * trigger), `attrs` holds the span's counters. */
final case class Span(op: String, name: String, start: Long, end: Long,
                      attrs: Map[String, Double] = Map.empty)

/** Layer telemetry taken from outside the engine through Spark's public
  * hooks: a [[SparkListener]] for jobs, stages and tasks, a
  * [[QueryExecutionListener]] for the Catalyst phase times of each
  * action, a [[StreamingQueryListener]] for trigger progress, and the
  * [[CodegenMetrics]] histograms for whole-stage codegen compiles.
  *
  * Spans stay in memory and are written out when the run ends. Jobs are
  * linked to their benchmark op through the job group the harness sets
  * before each op; Catalyst phases are linked by time, since ops run one
  * at a time on the driver. */
final class Telemetry(spark: SparkSession) {
  val spans = new ConcurrentLinkedQueue[Span]()
  private val epochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()

  /** Epoch nanoseconds on the monotonic clock, comparable with listener times. */
  def now(): Long = System.nanoTime() + epochOffsetNs

  private final class JobInfo(val op: String, val start: Long, val stages: Seq[Int])
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobInfo]()
  private val stageOp = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val schedDelay = new java.util.concurrent.ConcurrentHashMap[Int, Array[Double]]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val op = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .getOrElse("")
      jobs.put(e.jobId, new JobInfo(op, e.time * 1000000L, e.stageIds))
      e.stageIds.foreach(s => stageOp.put(s, op))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val j = jobs.remove(e.jobId)
      if (j != null) spans.add(Span(j.op, "job", j.start, e.time * 1000000L,
        Map("stages" -> j.stages.size.toDouble)))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null && e.taskInfo != null) {
        val busy = m.executorRunTime + m.executorDeserializeTime + m.resultSerializationTime
        val delay = math.max(0L, e.taskInfo.duration - busy - e.taskInfo.gettingResultTime)
        schedDelay.computeIfAbsent(e.stageId, _ => Array(0.0))(0) += delay
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = e.stageInfo
      val m = s.taskMetrics
      val op = Option(stageOp.remove(s.stageId)).getOrElse("")
      val start = s.submissionTime.getOrElse(0L) * 1000000L
      val end = s.completionTime.getOrElse(0L) * 1000000L
      val delay = Option(schedDelay.remove(s.stageId)).map(_(0)).getOrElse(0.0)
      val attrs =
        if (m == null) Map("tasks" -> s.numTasks.toDouble)
        else {
          val read = m.inputMetrics.bytesRead + m.shuffleReadMetrics.totalBytesRead
          Map(
            "tasks" -> s.numTasks.toDouble,
            "small_stage_tasks" -> (if (read < (1L << 20)) s.numTasks.toDouble else 0.0),
            "task_ms" -> (m.executorRunTime + m.executorDeserializeTime +
              m.resultSerializationTime).toDouble,
            "task_cpu_ms" -> m.executorCpuTime / 1e6,
            "sched_delay_ms" -> delay,
            "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten.toDouble,
            "shuffle_read_bytes" -> m.shuffleReadMetrics.totalBytesRead.toDouble,
            "fetch_wait_ms" -> m.shuffleReadMetrics.fetchWaitTime.toDouble,
            "spill_memory_bytes" -> m.memoryBytesSpilled.toDouble,
            "spill_disk_bytes" -> m.diskBytesSpilled.toDouble,
            "io_read_bytes" -> m.inputMetrics.bytesRead.toDouble,
            "io_write_bytes" -> m.outputMetrics.bytesWritten.toDouble,
            "io_write_records" -> m.outputMetrics.recordsWritten.toDouble)
        }
      spans.add(Span(op, "stage", start, end, attrs))
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit =
      qe.tracker.phases.foreach { case (phase, p) =>
        spans.add(Span("", s"catalyst.$phase", p.startTimeMs * 1000000L, p.endTimeMs * 1000000L))
      }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.toDouble }
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000000L
      val trigger = d.getOrElse("triggerExecution", 0.0)
      val states = p.stateOperators
      spans.add(Span(s"${p.name}#${p.batchId}", s"trigger.${p.name}", start,
        start + (trigger * 1e6).toLong,
        Map(
          "rows" -> p.numInputRows.toDouble,
          "trigger_ms" -> trigger,
          "add_batch_ms" -> d.getOrElse("addBatch", 0.0),
          "planning_ms" -> d.getOrElse("queryPlanning", 0.0),
          "commit_ms" -> (d.getOrElse("walCommit", 0.0) + d.getOrElse("commitOffsets", 0.0)),
          "state_rows" -> states.map(_.numRowsTotal).sum.toDouble,
          "state_bytes" -> states.map(_.memoryUsedBytes).sum.toDouble,
          "state_commit_ms" -> states.map(_.commitTimeMs).sum.toDouble)))
    }
  }

  @volatile private var attached = false
  def isAttached: Boolean = attached

  def attach(): Unit = if (!attached) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    attached = true
  }

  def detach(): Unit = if (attached) {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
    attached = false
  }

  /** Waits until the asynchronous listener buses have gone quiet. */
  def settle(): Unit = {
    var last = -1
    var size = spans.size
    var rounds = 0
    while (size != last && rounds < 40) {
      Thread.sleep(50)
      last = size; size = spans.size; rounds += 1
    }
  }
}

/** Process-wide counters read directly: codegen, GC and live heap. */
object Jvm {
  def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  /** Approximate total compile ms: count times the histogram mean. */
  def compileMs: Double = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    h.getCount * h.getSnapshot.getMean
  }
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum

  private def oldGen = ManagementFactory.getMemoryPoolMXBeans.asScala
    .find(p => p.getType == java.lang.management.MemoryType.HEAP &&
      Option(p.getCollectionUsage).isDefined &&
      (p.getName.contains("Old") || p.getName.contains("Tenured")))

  /** Old-generation occupancy after the most recent collection, in MB. */
  def heapAfterGcMb: Double =
    oldGen.flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed / 1048576.0).getOrElse(0.0)

  /** Live heap: forces a full collection and reads what survived it. */
  def liveHeapMb(): Double = {
    System.gc()
    heapAfterGcMb
  }
}

/** CPU time of the whole machine from `/proc/stat`: the jiffies the
  * hypervisor gave to other guests while this one wanted to run (steal)
  * and all jiffies, summed over every CPU. (0, 0) where there is none. */
object Host {
  def cpu(): (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val f = src.getLines().next().split("\\s+").drop(1).map(_.toLong)
        (if (f.length > 7) f(7) else 0L, f.sum)
      } finally src.close()
    } catch { case _: Exception => (0L, 0L) }

  /** Steal as a percentage of all CPU time between two readings. */
  def stealPct(a: (Long, Long), b: (Long, Long)): Double =
    if (b._2 > a._2) 100.0 * (b._1 - a._1) / (b._2 - a._2) else 0.0
}
