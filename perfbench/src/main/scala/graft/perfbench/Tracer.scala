package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Everything the traced run learns about one timed operation.
  *
  * Filled by [[Tracer]] from listener events while the operation is
  * current; read by the runner after the listener bus is drained.
  * Times are epoch milliseconds (the clock Spark's events carry).
  */
final class OpTrace(val id: Long, val name: String, val family: String, val kind: String, val pass: Int) {
  var startMs = 0L
  var endMs = 0L
  var wallS = 0.0
  val builds = mutable.ArrayBuffer[(Long, Long)]()
  val phases = mutable.ArrayBuffer[(String, Long, Long)]()
  val executions = mutable.LinkedHashMap[Long, (Long, Long)]()
  val jobs = mutable.LinkedHashMap[Int, (Long, Long)]()
  val jobStages = mutable.LinkedHashMap[Int, Seq[Int]]()
  val stages = mutable.LinkedHashMap[Int, (Long, Long)]()
  val taskMs = mutable.LinkedHashMap[Int, mutable.ArrayBuffer[Long]]()
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var fetchWaitMs = 0L
  var spill = 0L
  var peakMem = 0L
  var inputBytes = 0L
  var outputBytes = 0L
  var compileS = 0.0
  var compiles = 0L
  var filesWritten = 0L

  /** Self time per layer in seconds. Every millisecond of the
    * operation is given to exactly one layer, so the values, with the
    * `other` residual, sum to the operation's wall time. Inside the
    * action a millisecond belongs to a Catalyst phase if one runs,
    * else to a running stage (executor), else to an SQL execution
    * window with no stage running (driver gap), else to `other`.
    */
  def selfTimes: Seq[(String, Double)] = synchronized {
    val acc = mutable.LinkedHashMap(OpTrace.SelfLayers.init.map(_ -> 0L): _*)
    def in(iv: Iterable[(Long, Long)], t: Long) = iv.exists { case (a, b) => a <= t && t < b }
    val stageIv = stages.values.toSeq
    val execIv = executions.values.toSeq
    var t = startMs
    while (t < endMs) {
      val layer =
        if (in(builds, t)) "queries.build_s"
        else
          phases.find { case (_, a, b) => a <= t && t < b } match {
            case Some((p, _, _)) => s"catalyst.${p}_s"
            case None =>
              if (in(stageIv, t)) "executor.stage_wall_s"
              else if (in(execIv, t)) "scheduler.driver_gap_s"
              else null
          }
      if (layer != null && acc.contains(layer)) acc(layer) += 1
      t += 1
    }
    val layers = acc.toSeq.map { case (k, ms) => k -> ms / 1000.0 }
    layers :+ ("other_s" -> (wallS - layers.map(_._2).sum))
  }

  /** Slowest and median task duration summed over multi-task stages. */
  def skewParts: (Long, Long) = synchronized {
    taskMs.values.filter(_.size >= 2).foldLeft((0L, 0L)) { case ((mx, md), ds) =>
      val s = ds.sorted
      (mx + s.last, md + s(s.size / 2))
    }
  }
}

object OpTrace {
  /** Self-time layers, in [[OpTrace.selfTimes]] order; `other_s` last. */
  val SelfLayers: Seq[String] = Seq(
    "queries.build_s", "catalyst.analysis_s", "catalyst.optimization_s", "catalyst.planning_s",
    "executor.stage_wall_s", "scheduler.driver_gap_s", "other_s")
}

/** The benchmark's own telemetry: one SparkListener plus one
  * QueryExecutionListener, installed only for traced passes. Events
  * are attributed to the operation current when they are dispatched;
  * the runner drains the bus before it moves to the next operation.
  */
final class Tracer extends SparkListener with QueryExecutionListener {
  @volatile var current: OpTrace = null

  private def withOp(f: OpTrace => Unit): Unit = {
    val op = current
    if (op != null) op.synchronized(f(op))
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = withOp { op =>
    op.jobs(e.jobId) = (e.time, e.time)
    op.jobStages(e.jobId) = e.stageIds
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = withOp { op =>
    op.jobs.get(e.jobId).foreach { case (s, _) => op.jobs(e.jobId) = (s, e.time) }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = withOp { op =>
    val i = e.stageInfo
    for (s <- i.submissionTime; c <- i.completionTime) op.stages(i.stageId) = (s, c)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = withOp { op =>
    op.tasks += 1
    if (e.taskInfo != null) op.taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      op.runMs += m.executorRunTime
      op.cpuNs += m.executorCpuTime
      op.gcMs += m.jvmGCTime
      op.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      op.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      op.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      op.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      op.peakMem = math.max(op.peakMem, m.peakExecutionMemory)
      op.inputBytes += m.inputMetrics.bytesRead
      op.outputBytes += m.outputMetrics.bytesWritten
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => withOp(_.executions(s.executionId) = (s.time, s.time))
    case s: SparkListenerSQLExecutionEnd =>
      withOp(op => op.executions.get(s.executionId).foreach { case (a, _) => op.executions(s.executionId) = (a, s.time) })
    case _ =>
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = withOp { op =>
    qe.tracker.phases.foreach { case (p, s) => op.phases += ((p, s.startTimeMs, s.endTimeMs)) }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}
