package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Records the listener events of the op in flight: SQL executions with
  * their planning phases, jobs, stages and per-stage task metrics. It is
  * registered only around traced ops; the harness drains the listener bus
  * after each one, turns the events into spans and resets the tracer. */
final class Tracer extends SparkListener with QueryExecutionListener {

  final class StageAgg {
    var submit = 0L
    var complete = 0L
    var tasks = 0L
    var failed = 0L
    var runMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var inBytes = 0L
    var inRecords = 0L
    var inTasks = 0L
    var shuffleWrite = 0L
    var shuffleRead = 0L
    var spill = 0L
    val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
  }

  final class JobAgg(val exec: Long, val start: Long, val stageIds: Seq[Int]) {
    var end = 0L
  }

  /** Planning phases of one execution, each as (start, end) epoch ms. */
  final case class Qe(id: Long, phases: Map[String, (Long, Long)])

  val sqlStart = mutable.Map.empty[Long, Long]
  val sqlEnd = mutable.Map.empty[Long, Long]
  val qes = mutable.ArrayBuffer.empty[Qe]
  val jobs = mutable.LinkedHashMap.empty[Int, JobAgg]
  val stages = mutable.LinkedHashMap.empty[Int, StageAgg]

  def reset(): Unit = synchronized {
    sqlStart.clear(); sqlEnd.clear(); qes.clear(); jobs.clear(); stages.clear()
  }

  private def stage(id: Int): StageAgg = stages.getOrElseUpdate(id, new StageAgg)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val exec = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)
    jobs(e.jobId) = new JobAgg(exec, e.time, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    val s = stage(info.stageId)
    s.submit = info.submissionTime.getOrElse(0L)
    s.complete = info.completionTime.getOrElse(0L)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stage(e.stageId)
    val info = e.taskInfo
    s.tasks += 1
    if (info.failed) s.failed += 1
    s.intervals += ((info.launchTime, info.finishTime))
    val m = e.taskMetrics
    if (m != null) {
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      val in = m.inputMetrics
      s.inBytes += in.bytesRead
      s.inRecords += in.recordsRead
      if (in.recordsRead > 0 || in.bytesRead > 0) s.inTasks += 1
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized { sqlStart(s.executionId) = s.time }
    case s: SparkListenerSQLExecutionEnd => synchronized { sqlEnd(s.executionId) = s.time }
    case _ =>
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  // a phase summary sums repeated runs of a phase; its span is taken as
  // the last `durationMs` before its end so it never claims idle gaps
  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases.map { case (k, p) =>
      k -> ((p.endTimeMs - p.durationMs, p.endTimeMs))
    }
    synchronized { qes += Qe(qe.id, phases) }
  }
}
