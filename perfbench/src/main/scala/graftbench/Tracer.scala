package graftbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** Per-layer recorder for the traced run, fed by Spark's public hooks: a
  * `SparkListener` (jobs, stages, tasks, SQL execution start and end) and a
  * `QueryExecutionListener` (Catalyst phases and the executed plan).
  *
  * Events are attributed to an op by the job group the harness sets around
  * each op phase (`gb-<op>-<phase>`), never by time window. Query-execution
  * callbacks carry no job group; they are attributed to the op that is open
  * when they arrive, which is exact because the harness drains the bus
  * before it closes an op. Everything stays in memory until the run ends. */
final class Tracer extends SparkListener with QueryExecutionListener {
  import Tracer._

  @volatile var currentOp: Int = -1
  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  val stages = mutable.LinkedHashMap.empty[Int, Stage]
  val qes = mutable.ArrayBuffer.empty[Qe]
  val sqlEnd = mutable.HashMap.empty[Long, Long]
  /** SQL executions that write files (their commit follows the last job). */
  val writeExecs = mutable.HashSet.empty[Long]
  val taskSums = mutable.HashMap.empty[Int, TaskSums]
  private val stageJob = mutable.HashMap.empty[Int, Int]

  private def opOf(group: String): (Int, String) = group match {
    case null => (-1, "")
    case g if g.startsWith("gb-") =>
      val parts = g.split("-", 3)
      (parts(1).toInt, parts(2))
    case _ => (-1, "")
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val (op, phase) = opOf(props.map(_.getProperty("spark.jobGroup.id")).orNull)
    val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)
    jobs(e.jobId) = Job(e.jobId, op, phase, e.time, exec)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val job = stageJob.getOrElse(i.stageId, -1)
    stages(i.stageId) = Stage(i.stageId, job, i.name, i.submissionTime.getOrElse(0L),
      i.completionTime.getOrElse(0L))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val op = stageJob.get(e.stageId).flatMap(jobs.get).map(_.op).getOrElse(-1)
    val m = e.taskMetrics
    if (op >= 0 && m != null) {
      val s = taskSums.getOrElseUpdate(op, new TaskSums)
      s.tasks += 1
      s.durMs += e.taskInfo.duration
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.shuffleW += m.shuffleWriteMetrics.bytesWritten
      s.shuffleR += m.shuffleReadMetrics.totalBytesRead
      s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      s.inBytes += m.inputMetrics.bytesRead
      s.outBytes += m.outputMetrics.bytesWritten
      s.outRecords += m.outputMetrics.recordsWritten
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case end: SparkListenerSQLExecutionEnd => synchronized { sqlEnd(end.executionId) = end.time }
    case start: SparkListenerSQLExecutionStart
        if start.physicalPlanDescription.contains("InsertIntoHadoopFsRelationCommand") =>
      synchronized { writeExecs += start.executionId }
    case _ =>
  }

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases.map { case (k, v) => k -> (v.startTimeMs, v.endTimeMs) }
    var scanFiles, writeFiles = 0L
    def walk(p: SparkPlan): Unit = {
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case s: FileSourceScanExec =>
          scanFiles += s.metrics.get("numFiles").map(_.value).getOrElse(0L)
        case w: DataWritingCommandExec =>
          writeFiles += w.cmd.metrics.get("numFiles").map(_.value).getOrElse(0L)
        case _ =>
      }
      p.children.foreach(walk)
      p.subqueries.foreach(walk)
    }
    try walk(qe.executedPlan) catch { case _: Throwable => }
    synchronized { qes += Qe(currentOp, phases, scanFiles, writeFiles) }
  }

  override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(func: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)
}

object Tracer {
  final case class Job(id: Int, op: Int, phase: String, start: Long, execId: Long) {
    var end: Long = start
  }
  final case class Stage(id: Int, job: Int, name: String, start: Long, end: Long)
  final case class Qe(op: Int, phases: Map[String, (Long, Long)], scanFiles: Long,
      writeFiles: Long)

  /** Counters summed over the tasks of one op. */
  final class TaskSums {
    var tasks, cpuNs, gcMs, durMs = 0L
    var shuffleW, shuffleR, fetchWaitMs, spill, inBytes, outBytes, outRecords = 0L
  }
}
