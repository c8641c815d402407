package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. Times are epoch milliseconds with sub-ms digits. */
final case class Span(id: Int, parent: Int, name: String, start: Double,
                      end: Double, attrs: Map[String, Any] = Map.empty)

/** Epoch clock with nanosecond resolution, so short spans keep digits. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** Per-task figures folded into their stage. */
final class StageAcc(val stageId: Int, val attempt: Int) {
  var jobId: Int = -1
  var submitted: Double = Double.NaN
  var completed: Double = Double.NaN
  val taskDurMs = mutable.ArrayBuffer.empty[Double]
  var runMs, cpuNs, gcMs, schedMs = 0.0
  var shuffleWrite, shuffleRead, spill, bytesRead, bytesWritten = 0.0
  var recordsRead = 0.0
  var peakExecMem = 0.0
  var failedTasks = 0
}

final class JobAcc(val jobId: Int, val group: String, val start: Double) {
  var end: Double = Double.NaN
}

/** Per-trigger figures from `StreamingQueryProgress`. */
final case class Batch(start: Double, durations: Map[String, Double],
                       inputRows: Long, stateRows: Long, stateMemBytes: Long,
                       stateCommitMs: Double)

final case class SqlExec(start: Double, end: Double,
                         phases: Map[String, (Double, Double)], failed: Boolean)

/** Collects jobs, stages, tasks, SQL executions and micro-batches through
  * Spark's public listener interfaces. Every callback runs on a listener
  * thread, so state is guarded by the instance lock.
  */
final class Recorder extends SparkListener with QueryExecutionListener {
  val jobs = mutable.LinkedHashMap.empty[Int, JobAcc]
  val stages = mutable.LinkedHashMap.empty[(Int, Int), StageAcc]
  val sqlExecs = mutable.ArrayBuffer.empty[SqlExec]
  val batches = mutable.ArrayBuffer.empty[Batch]

  private def stage(id: Int, attempt: Int): StageAcc =
    stages.getOrElseUpdate((id, attempt), new StageAcc(id, attempt))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobs(e.jobId) = new JobAcc(e.jobId, group, e.time.toDouble)
    e.stageInfos.foreach(si => stage(si.stageId, si.attemptNumber()).jobId = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time.toDouble)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    val s = stage(si.stageId, si.attemptNumber())
    si.submissionTime.foreach(t => s.submitted = t.toDouble)
    si.completionTime.foreach(t => s.completed = t.toDouble)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stage(e.stageId, e.stageAttemptId)
    val info = e.taskInfo
    if (info != null && (info.failed || info.killed)) s.failedTasks += 1
    val m = e.taskMetrics
    if (info != null) s.taskDurMs += info.duration.toDouble
    if (m != null) {
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      if (info != null) s.schedMs += math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.spill += m.diskBytesSpilled
      s.bytesRead += m.inputMetrics.bytesRead
      s.recordsRead += m.inputMetrics.recordsRead
      s.bytesWritten += m.outputMetrics.bytesWritten
      s.peakExecMem = math.max(s.peakExecMem, m.peakExecutionMemory.toDouble)
    }
  }

  /** The callback arrives late, on a listener thread, so the span is
    * placed by the planning phases' own clock: it starts with the first
    * phase and lasts until the later of the last phase end and the
    * reported execution time.
    */
  private def record(qe: QueryExecution, durationNs: Long, failed: Boolean): Unit = {
    val phases = qe.tracker.phases.map { case (k, p) =>
      k -> (p.startTimeMs.toDouble, p.endTimeMs.toDouble) }
    if (phases.nonEmpty) {
      val start = phases.values.map(_._1).min
      val end = math.max(phases.values.map(_._2).max, start + durationNs / 1e6)
      synchronized { sqlExecs += SqlExec(start, end, phases, failed) }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe, durationNs, failed = false)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe, 0L, failed = true)

  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Recorder.this.synchronized { batches += Recorder.batch(e.progress) }
  }

  def register(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    spark.streams.addListener(streams)
  }
}

object Recorder {
  def batch(p: org.apache.spark.sql.streaming.StreamingQueryProgress): Batch = {
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.doubleValue }.toMap
    val ops = p.stateOperators.toSeq
    Batch(start, d, p.numInputRows,
      ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum,
      ops.map(_.commitTimeMs.toDouble).sum)
  }
}
