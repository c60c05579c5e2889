package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Records of Spark listener events. Times are epoch milliseconds. */
final case class JobRec(jobId: Int, group: String, startMs: Long, endMs: Long,
    stageIds: Seq[Int])
final case class TaskRec(stageId: Int, cpuNs: Long, gcMs: Long,
    shuffleReadBytes: Long, shuffleWriteBytes: Long, spillBytes: Long,
    inputBytes: Long, inputRows: Long, outputBytes: Long, outputRows: Long)
final case class PlanRec(startMs: Long, phasesMs: Map[String, Long])
final case class BatchRec(runId: String, startMs: Long, durMs: Long,
    inputRows: Long, addBatchMs: Long, walCommitMs: Long, stateCommitMs: Long,
    stateRows: Long, stateBytes: Long, lateRowsDropped: Long)

/** Collects job, task, planning and micro-batch events from Spark's
  * public listener interfaces while attached. Events arrive on Spark's
  * listener threads; [[quiesce]] waits until they stop arriving.
  */
final class Recorder extends SparkListener with QueryExecutionListener {
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long, Seq[Int])]()
  val jobs = new ConcurrentLinkedQueue[JobRec]()
  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  val plans = new ConcurrentLinkedQueue[PlanRec]()
  val batches = new ConcurrentLinkedQueue[BatchRec]()
  private val events = new AtomicLong()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    jobStarts.put(e.jobId, (group, e.time, e.stageIds))
    events.incrementAndGet()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(jobStarts.remove(e.jobId)).foreach { case (g, start, stages) =>
      jobs.add(JobRec(e.jobId, g, start, e.time, stages))
    }
    events.incrementAndGet()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) tasks.add(TaskRec(e.stageId, m.executorCpuTime, m.jvmGCTime,
      m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled,
      m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
      m.outputMetrics.bytesWritten, m.outputMetrics.recordsWritten))
    events.incrementAndGet()
  }

  override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    if (phases.nonEmpty) plans.add(PlanRec(phases.values.map(_.startTimeMs).min,
      phases.map { case (k, v) => k -> v.durationMs }))
    events.incrementAndGet()
  }

  override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit =
    events.incrementAndGet()

  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      def dur(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      val ops = p.stateOperators.toSeq
      batches.add(BatchRec(p.runId.toString,
        java.time.Instant.parse(p.timestamp).toEpochMilli, dur("triggerExecution"),
        p.numInputRows, dur("addBatch"), dur("walCommit"),
        ops.map(_.commitTimeMs).sum, ops.map(_.numRowsTotal).sum,
        ops.map(_.memoryUsedBytes).sum, ops.map(_.numRowsDroppedByWatermark).sum))
      events.incrementAndGet()
    }
  }

  /** Block until no event has arrived for `quietMs` and every started
    * job has ended (or `timeoutMs` passes).
    */
  def quiesce(quietMs: Long = 300, timeoutMs: Long = 10000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var last = -1L
    var stableSince = System.currentTimeMillis()
    while (System.currentTimeMillis() < deadline &&
        (System.currentTimeMillis() - stableSince < quietMs || !jobStarts.isEmpty)) {
      val now = events.get()
      if (now != last) { last = now; stableSince = System.currentTimeMillis() }
      Thread.sleep(20)
    }
  }

  def jobList: Seq[JobRec] = jobs.asScala.toSeq
  def taskList: Seq[TaskRec] = tasks.asScala.toSeq
  def planList: Seq[PlanRec] = plans.asScala.toSeq
  def batchList: Seq[BatchRec] = batches.asScala.toSeq
}
