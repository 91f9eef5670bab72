package org.apache.spark.sql.perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Spark's own per-operation numbers, read from outside the engine.
  *
  * Lives in Spark's package only to reach two internals: the query
  * execution carried by the SQL-execution-end event (its planning
  * tracker) and the listener bus drain. Jobs are attributed to the
  * benchmark op that ran them through the `perfbench.op` local property;
  * SQL executions (which carry no properties) by their start time falling
  * inside the op's wall-clock window. */
final class Probe extends SparkListener {
  import Probe._

  val jobs = mutable.Map[Int, JobRec]()
  val stageJob = mutable.Map[Int, Int]()
  val stages = mutable.Map[Int, StageRec]()
  val execStart = mutable.Map[Long, Long]()
  val execs = mutable.ArrayBuffer[ExecRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val op = Option(e.properties).flatMap(p => Option(p.getProperty(OpKey)))
      .map(_.toInt).getOrElse(-1)
    jobs(e.jobId) = JobRec(op, e.time, -1L)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(end = e.time))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val s = stages.getOrElseUpdate(i.stageId, new StageRec(i.stageId))
    s.wallMs = (for (a <- i.submissionTime; b <- i.completionTime) yield b - a).getOrElse(0L)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stages.getOrElseUpdate(e.stageId, new StageRec(e.stageId))
    s.taskMs += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.spill += m.diskBytesSpilled + m.memoryBytesSpilled
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized { execStart(s.executionId) = s.time }
    case end: SparkListenerSQLExecutionEnd if end.qe != null =>
      val phases = end.qe.tracker.phases.map { case (k, v) => k -> v.durationMs.toDouble }
      val rows = joinRows(end.qe.executedPlan)
      synchronized { execs += ExecRec(execStart.getOrElse(end.executionId, end.time), phases, rows) }
    case _ =>
  }

  /** Totals for one op: its tagged jobs, and the SQL executions that
    * started inside its window `[w0, w1]`. */
  def opStats(op: Int, w0: Long, w1: Long): Map[String, Double] = synchronized {
    val js = jobs.filter(_._2.op == op)
    val stageIds = stageJob.collect { case (s, j) if js.contains(j) => s }.toSet
    val ss = stageIds.toSeq.flatMap(stages.get)
    val busy = union(js.values.map(j => (math.max(j.start, w0), math.min(if (j.end < 0) w1 else j.end, w1)))
      .filter(t => t._2 > t._1).toSeq)
    val longest = if (ss.isEmpty) None else Some(ss.maxBy(_.wallMs))
    val skew = longest.map(_.skew).getOrElse(1.0)
    val ph = execs.filter(x => x.start >= w0 && x.start <= w1)
    def phase(k: String) = ph.map(_.phases.getOrElse(k, 0.0)).sum
    val rows = ph.flatMap(_.rows).groupMapReduce(_._1)(_._2)(_ + _)
    rows ++ Map(
      "jobs" -> js.size.toDouble,
      "stages" -> ss.size.toDouble,
      "tasks" -> ss.map(_.taskMs.size).sum.toDouble,
      "task_ms" -> ss.map(_.taskMs.sum).sum.toDouble,
      "run_ms" -> ss.map(_.runMs).sum.toDouble,
      "cpu_s" -> ss.map(_.cpuNs).sum / 1e9,
      "gc_ms" -> ss.map(_.gcMs).sum.toDouble,
      "shuffle_write_mb" -> ss.map(_.shuffleWrite).sum / 1e6,
      "shuffle_read_mb" -> ss.map(_.shuffleRead).sum / 1e6,
      "spill_mb" -> ss.map(_.spill).sum / 1e6,
      "longest_stage_ms" -> longest.map(_.wallMs.toDouble).getOrElse(0.0),
      "task_skew" -> skew,
      "job_gap_ms" -> math.max(0.0, (w1 - w0) - busy.toDouble),
      "analysis_ms" -> phase("analysis"),
      "optimizer_ms" -> phase("optimization"),
      "planning_ms" -> phase("planning"))
  }
}

object Probe {
  val OpKey = "perfbench.op"

  final case class JobRec(op: Int, start: Long, end: Long)
  /** A finished SQL execution: planning phase times and the rows out of
    * its joins (`rows:<JoinNode>` for nested-loop and cartesian joins,
    * `rows:join:<left keys>` for equi-joins). */
  final case class ExecRec(start: Long, phases: Map[String, Double], rows: Map[String, Double])

  final class StageRec(val id: Int) {
    var wallMs = 0L
    val taskMs = mutable.ArrayBuffer[Long]()
    var runMs, cpuNs, gcMs, shuffleWrite, shuffleRead, spill = 0L

    /** max / median task duration. */
    def skew: Double =
      if (taskMs.isEmpty) 1.0
      else {
        val s = taskMs.sorted
        val med = math.max(1L, s(s.size / 2))
        s.last.toDouble / med
      }
  }

  /** Total length covered by a set of intervals. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((s, e) <- iv.sortBy(_._1)) {
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s
        curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Block until every posted listener event has been delivered. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Every physical node of an executed plan, through AQE stages. */
  def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case q: QueryStageExec => planNodes(q.plan)
    case r: ReusedExchangeExec => planNodes(r.child)
    case other => other +: other.children.flatMap(planNodes)
  }

  /** Rows out of each join of an executed plan, keyed as in [[ExecRec]]. */
  def joinRows(p: SparkPlan): Map[String, Double] =
    planNodes(p).collect { case j: BaseJoinExec => j }.flatMap { j =>
      val key = if (j.leftKeys.isEmpty) s"rows:${j.nodeName}"
        else "rows:join:" + j.leftKeys.flatMap(_.references.map(_.name)).mkString(",")
      j.metrics.get("numOutputRows").map(m => key -> m.value.toDouble)
    }.groupMapReduce(_._1)(_._2)(_ + _)
}
