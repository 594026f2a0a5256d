package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Epoch milliseconds with sub-millisecond resolution, on the same scale
  * as Spark's listener event times. */
object Clock {
  private val base = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = base + (System.nanoTime() - nano0) / 1e6
}

/** Records what Spark reports about each job, stage, task and query
  * execution while it is attached. The harness registers it itself; the
  * engine is not changed. Raw records only: spans and per-layer figures
  * are derived from them by the Python side (perfbench/analysis.py). */
final class Tracer extends SparkListener with QueryExecutionListener {

  private final class Job(val id: Int, val group: String, val start: Double,
      val stageIds: Seq[Int]) {
    var end: Double = Double.NaN
  }

  private final class Stage(val id: Int, val attempt: Int) {
    var submitted = Double.NaN
    var completed = Double.NaN
    var failure: String = null
    var tasks, failedTasks = 0
    var runMs, cpuNs, waitMs = 0.0
    var shuffleRead, shuffleWrite, spill, inBytes, inRecords = 0.0
    var outBytes, outRecords, blockBytes, resultBytes = 0.0
    val durations = mutable.ArrayBuffer.empty[Double]
  }

  private final class Qe(val func: String, val phases: Map[String, (Double, Double)],
      val durMs: Double, val rows: Long, val ok: Boolean)

  private val jobs = mutable.ArrayBuffer.empty[Job]
  private val stages = mutable.LinkedHashMap.empty[(Int, Int), Stage]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val qes = mutable.ArrayBuffer.empty[Qe]

  def reset(): Unit = synchronized {
    jobs.clear(); stages.clear(); stageJob.clear(); qes.clear()
  }

  private def stage(id: Int, attempt: Int): Stage =
    stages.getOrElseUpdate((id, attempt), new Stage(id, attempt))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    // The job group names the query of a harness-run item; Verify.run's
    // clients name theirs by scheduler pool instead.
    val group = prop("spark.jobGroup.id").orElse(prop("spark.scheduler.pool")).getOrElse("")
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
    jobs += new Job(e.jobId, group, e.time.toDouble, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.end = e.time.toDouble)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val s = stage(e.stageInfo.stageId, e.stageInfo.attemptNumber())
    s.submitted = e.stageInfo.submissionTime.map(_.toDouble).getOrElse(Clock.nowMs)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val s = stage(i.stageId, i.attemptNumber())
    if (s.submitted.isNaN) s.submitted = i.submissionTime.map(_.toDouble).getOrElse(Clock.nowMs)
    s.completed = i.completionTime.map(_.toDouble).getOrElse(Clock.nowMs)
    s.failure = i.failureReason.orNull
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stage(e.stageId, e.stageAttemptId)
    val info = e.taskInfo
    s.tasks += 1
    if (info.failed || info.killed) s.failedTasks += 1
    s.durations += info.duration.toDouble
    if (!s.submitted.isNaN) s.waitMs += math.max(0.0, info.launchTime - s.submitted)
    val m = e.taskMetrics
    if (m != null) {
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      s.inBytes += m.inputMetrics.bytesRead
      s.inRecords += m.inputMetrics.recordsRead
      s.outBytes += m.outputMetrics.bytesWritten
      s.outRecords += m.outputMetrics.recordsWritten
      s.resultBytes += m.resultSize
      s.blockBytes += m.updatedBlockStatuses.map { case (_, b) => b.memSize + b.diskSize }.sum
    }
  }

  override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit =
    record(func, qe, durationNs, ok = true)

  override def onFailure(func: String, qe: QueryExecution, exception: Exception): Unit =
    record(func, qe, 0L, ok = false)

  private def record(func: String, qe: QueryExecution, durationNs: Long, ok: Boolean): Unit = {
    val phases = qe.tracker.phases.map { case (k, p) =>
      k -> (p.startTimeMs.toDouble, p.endTimeMs.toDouble) }
    val rows = if (ok) outputRows(qe.executedPlan).getOrElse(-1L) else -1L
    synchronized { qes += new Qe(func, phases, durationNs / 1e6, rows, ok) }
  }

  /** Rows the plan's top-most counting operator produced. */
  private def outputRows(plan: SparkPlan): Option[Long] = plan match {
    case a: AdaptiveSparkPlanExec => outputRows(a.executedPlan)
    case q: QueryStageExec => outputRows(q.plan)
    case p if p.metrics.contains("numOutputRows") => Some(p.metrics("numOutputRows").value)
    case p if p.children.size == 1 => outputRows(p.children.head)
    case _ => None
  }

  /** Everything recorded since the last reset, as JSON-ready values. */
  def snapshot(): Map[String, Any] = synchronized {
    Map(
      "jobs" -> jobs.map { j =>
        val submitted = j.stageIds.count(id => stages.keys.exists(_._1 == id))
        Map("id" -> j.id, "group" -> j.group, "start" -> j.start, "end" -> j.end,
          "declared_stages" -> j.stageIds.size, "run_stages" -> submitted)
      }.toList,
      "stages" -> stages.values.map { s =>
        val d = s.durations.sorted
        val med = if (d.isEmpty) 0.0 else d(d.size / 2)
        Map("id" -> s.id, "attempt" -> s.attempt, "job" -> stageJob.getOrElse(s.id, -1),
          "start" -> s.submitted, "end" -> s.completed, "failed" -> (s.failure != null),
          "tasks" -> s.tasks, "failed_tasks" -> s.failedTasks,
          "task_run_ms" -> s.runMs, "task_cpu_ms" -> s.cpuNs / 1e6, "sched_wait_ms" -> s.waitMs,
          "task_max_ms" -> (if (d.isEmpty) 0.0 else d.last), "task_median_ms" -> med,
          "shuffle_read_b" -> s.shuffleRead, "shuffle_write_b" -> s.shuffleWrite,
          "spill_b" -> s.spill, "input_b" -> s.inBytes, "input_rows" -> s.inRecords,
          "output_b" -> s.outBytes, "output_rows" -> s.outRecords,
          "block_b" -> s.blockBytes, "result_b" -> s.resultBytes)
      }.toList,
      "qes" -> qes.map { q =>
        Map("func" -> q.func, "dur_ms" -> q.durMs, "rows" -> q.rows, "ok" -> q.ok,
          "phases" -> q.phases.map { case (k, (a, b)) => k -> List(a, b) })
      }.toList)
  }
}
