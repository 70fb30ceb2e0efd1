package perfbench

import scala.collection.mutable

import org.apache.spark.Success
import org.apache.spark.perfbench.Bus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Scheduler and task counters of the jobs tagged with one job group. */
final class GroupStats {
  var jobs, stages, tasks, taskFailures = 0
  var taskMs, gcMs, taskWaitMs = 0L
  var cpuNs, shuffleWrite, shuffleRead, spill, inputBytes = 0L
  var peakExecMem = 0L
  val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  val sqlSpans = mutable.ArrayBuffer.empty[(Long, Long)]

  /** Wall milliseconds covered by at least one of the group's jobs or
    * SQL executions (the latter add the work between jobs: adaptive
    * re-planning, result handling, write commit). */
  def execMs: Long = {
    var covered = 0L
    var end = Long.MinValue
    (jobSpans ++ sqlSpans).sortBy(_._1).foreach { case (s, e) =>
      if (s >= end) { covered += e - s; end = e }
      else if (e > end) { covered += e - end; end = e }
    }
    covered
  }
}

/** Catalyst phase times and input file bytes of the query executions
  * that completed during one phase of an operation. */
final case class CatalystStats(analysisMs: Long, optimizationMs: Long, planningMs: Long,
                               fileBytes: Long)

/** Session-wide recorder for the traced run: a [[SparkListener]] that
  * files every job, stage and task under its job group, plus a
  * [[QueryExecutionListener]] that keeps each finished execution's
  * `QueryExecution.tracker` phases. Callers tag work with
  * `setJobGroup` and call [[drain]] before reading. */
final class Tracer(spark: SparkSession) extends SparkListener {
  private val groups = mutable.Map.empty[String, GroupStats]
  private val jobGroup = mutable.Map.empty[Int, String]
  private val jobStart = mutable.Map.empty[Int, Long]
  private val stageGroup = mutable.Map.empty[Int, String]
  private val stageSubmitted = mutable.Map.empty[Int, Long]
  private val executions = mutable.ArrayBuffer.empty[QueryExecution]
  private val sqlStart = mutable.Map.empty[Long, (String, Long)]

  /** Group that SQL executions starting now are filed under; set by the
    * caller after a [[drain]], so every earlier event is already filed. */
  @volatile var phase: String = ""

  private def stats(g: String): GroupStats = groups.getOrElseUpdate(g, new GroupStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    jobGroup(e.jobId) = g
    jobStart(e.jobId) = e.time
    e.stageIds.foreach(stageGroup(_) = g)
    stats(g).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    for (g <- jobGroup.remove(e.jobId); s <- jobStart.remove(e.jobId))
      stats(g).jobSpans += ((s, e.time))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val id = e.stageInfo.stageId
    stageSubmitted(id) = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    stageGroup.get(id).foreach(stats(_).stages += 1)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized { sqlStart(s.executionId) = (phase, s.time) }
    case x: SparkListenerSQLExecutionEnd => synchronized {
      sqlStart.remove(x.executionId).foreach { case (g, t) => stats(g).sqlSpans += ((t, x.time)) }
    }
    case _ =>
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageGroup.get(e.stageId).foreach { g =>
      val s = stats(g)
      s.tasks += 1
      if (e.reason != Success) s.taskFailures += 1
      stageSubmitted.get(e.stageId).foreach(t => s.taskWaitMs += math.max(0L, e.taskInfo.launchTime - t))
      val m = e.taskMetrics
      if (m != null) {
        s.taskMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.spill += m.diskBytesSpilled
        s.inputBytes += m.inputMetrics.bytesRead
        s.peakExecMem = math.max(s.peakExecMem, m.peakExecutionMemory)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      Tracer.this.synchronized { executions += qe }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      Tracer.this.synchronized { executions += qe }
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(qeListener)
  }

  def uninstall(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(qeListener)
  }

  def drain(): Unit = Bus.drain(spark.sparkContext)

  /** Counters filed under `group`, removed from the recorder. */
  def take(group: String): GroupStats = synchronized(groups.remove(group).getOrElse(new GroupStats))

  /** Catalyst phases of the executions finished since the last call. */
  def takeCatalyst(): CatalystStats = synchronized {
    val qes = executions.toList
    executions.clear()
    def phase(qe: QueryExecution, p: String): Long =
      qe.tracker.phases.get(p).map(_.durationMs).getOrElse(0L)
    CatalystStats(
      qes.map(phase(_, "analysis")).sum,
      qes.map(phase(_, "optimization")).sum,
      qes.map(phase(_, "planning")).sum,
      qes.map(qe => try Tracer.fileBytes(qe.optimizedPlan) catch { case _: Exception => 0L }).sum)
  }
}

object Tracer {
  /** Bytes of the files behind every file relation the plan scans. */
  def fileBytes(plan: LogicalPlan): Long = {
    var total = 0L
    def visit(p: LogicalPlan): Unit = {
      p match {
        case l: LogicalRelation => l.relation match {
          case h: HadoopFsRelation => total += h.location.sizeInBytes
          case _ =>
        }
        case _ =>
      }
      p.children.foreach(visit)
      p.innerChildren.foreach { case c: LogicalPlan => visit(c); case _ => }
      p.subqueries.foreach(visit)
    }
    visit(plan)
    total
  }
}
