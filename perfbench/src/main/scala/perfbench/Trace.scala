package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One micro-batch trigger, from its progress event. Times in ms. */
final case class TriggerRec(startMs: Long, triggerMs: Long, addBatchMs: Long,
    commitMs: Long, inputRows: Long, stateRows: Long, stateBytes: Long)

/** Records every streaming query start and trigger. Cheap (one event
  * per trigger), so it is registered in untraced runs too: the
  * end-to-end trigger latency comes from it.
  */
class StreamRecorder extends StreamingQueryListener {
  val starts = new ConcurrentLinkedQueue[Long]()
  val triggers = new ConcurrentLinkedQueue[TriggerRec]()

  private def epochMs(iso: String): Long = java.time.Instant.parse(iso).toEpochMilli

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
    starts.add(epochMs(e.timestamp))
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
    val ops = p.stateOperators.toSeq
    triggers.add(TriggerRec(epochMs(p.timestamp), d("triggerExecution"), d("addBatch"),
      d("walCommit") + d("commitOffsets"), p.numInputRows,
      ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum))
  }
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  /** Take everything recorded so far. */
  def drain(): (Seq[Long], Seq[TriggerRec]) = (take(starts), take(triggers))

  private def take[T](q: ConcurrentLinkedQueue[T]): Seq[T] =
    Iterator.continually(q.poll()).takeWhile(_ != null).toSeq
}

final case class JobRec(jobId: Int, span: String, startMs: Long, var endMs: Long)

final case class StageRec(stageId: Int, tasks: Int, runMs: Long, cpuNs: Long, gcMs: Long,
    shuffleReadBytes: Long, shuffleWriteBytes: Long, spillBytes: Long,
    inputBytes: Long, outputBytes: Long, outputRecords: Long, maxTaskMs: Long,
    medianTaskMs: Long)

/** Job → stage spans (traced runs only). Jobs carry the span id of the
  * call that caused them through a Spark local property, which threads
  * the program starts inherit.
  */
class JobRecorder(spanKey: String) extends SparkListener {
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val stages = new ConcurrentLinkedQueue[StageRec]()
  private val taskMs = new java.util.concurrent.ConcurrentHashMap[Int, ConcurrentLinkedQueue[Long]]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(spanKey))).getOrElse("")
    jobs.put(e.jobId, JobRec(e.jobId, span, e.time, e.time))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    taskMs.computeIfAbsent(e.stageId, _ => new ConcurrentLinkedQueue[Long]())
      .add(e.taskInfo.duration)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val durs = Option(taskMs.remove(i.stageId)).map(_.asScala.toSeq.sorted).getOrElse(Nil)
    val m = i.taskMetrics
    if (m != null) stages.add(StageRec(i.stageId, i.numTasks, m.executorRunTime,
      m.executorCpuTime, m.jvmGCTime, m.shuffleReadMetrics.totalBytesRead,
      m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled,
      m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten, m.outputMetrics.recordsWritten,
      durs.lastOption.getOrElse(0L), if (durs.isEmpty) 0L else durs(durs.size / 2)))
  }

  /** Take the jobs and stages recorded since the last call. */
  def drain(): (Seq[JobRec], Seq[StageRec]) = {
    val js = jobs.values.asScala.toSeq.sortBy(_.jobId)
    js.foreach(j => jobs.remove(j.jobId))
    (js, Iterator.continually(stages.poll()).takeWhile(_ != null).toSeq)
  }
}

/** Sums the planning phases (analysis, optimization, planning) of every
  * query execution Spark reports (traced runs only).
  */
class PlanRecorder extends QueryExecutionListener {
  @volatile private var ms = 0L
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)
  private def record(qe: QueryExecution): Unit = synchronized {
    ms += qe.tracker.phases.values.map(_.durationMs).sum
  }
  def drain(): Long = synchronized { val r = ms; ms = 0L; r }
}
