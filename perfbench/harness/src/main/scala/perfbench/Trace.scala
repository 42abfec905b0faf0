package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates, SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}

/** Everything the listener saw between two drains of the listener bus, i.e.
  * during one operation. Written only by the listener thread; read by the
  * benchmark thread after the drain. */
final class Bucket {
  /** job id -> (start ms, end ms or -1, job group) */
  val jobs = mutable.LinkedHashMap[Int, (Long, Long, String)]()
  var stages, tasks, failedTasks = 0L
  var taskMs, taskCpuNs, taskGcMs = 0L
  var inputBytes, inputRecords, shuffleWrite, shuffleRead, spill = 0L
  /** accumulator id -> summed updates (task-side and driver-side) */
  val accum = mutable.Map[Long, Long]().withDefaultValue(0L)
  /** accumulator id -> (plan node name, metric name), over every plan version */
  val metricNames = mutable.Map[Long, (String, String)]()
  /** execution id -> latest (final, after AQE) plan */
  val finalPlans = mutable.LinkedHashMap[Long, SparkPlanInfo]()
  var aqeUpdates = 0L
}

/** Collects job, stage, task and SQL-execution events into the current
  * [[Bucket]]. The benchmark swaps buckets only after draining the bus, so
  * every event of an operation lands in that operation's bucket. */
final class OpListener extends SparkListener {
  @volatile private var bucket = new Bucket

  def swap(): Bucket = { val b = bucket; bucket = new Bucket; b }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    bucket.jobs(e.jobId) = (e.time, -1L, group)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    bucket.jobs.get(e.jobId).foreach { case (s, _, g) =>
      bucket.jobs(e.jobId) = (s, e.time, g)
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    bucket.stages += 1

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val b = bucket
    b.tasks += 1
    if (!e.taskInfo.successful) b.failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      b.taskMs += m.executorRunTime
      b.taskCpuNs += m.executorCpuTime
      b.taskGcMs += m.jvmGCTime
      b.inputBytes += m.inputMetrics.bytesRead
      b.inputRecords += m.inputMetrics.recordsRead
      b.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      b.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      b.spill += m.diskBytesSpilled
    }
    e.taskInfo.accumulables.foreach { a =>
      a.update match {
        case Some(v: java.lang.Long) => b.accum(a.id) += v.longValue
        case _ => ()
      }
    }
  }

  private def plan(id: Long, info: SparkPlanInfo): Unit = {
    val b = bucket
    b.finalPlans(id) = info
    def walk(n: SparkPlanInfo): Unit = {
      n.metrics.foreach(m => b.metricNames(m.accumulatorId) = (n.nodeName, m.name))
      n.children.foreach(walk)
    }
    walk(info)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => plan(s.executionId, s.sparkPlanInfo)
    case u: SparkListenerSQLAdaptiveExecutionUpdate =>
      bucket.aqeUpdates += 1
      plan(u.executionId, u.sparkPlanInfo)
    case d: SparkListenerDriverAccumUpdates =>
      d.accumUpdates.foreach { case (id, v) => bucket.accum(id) += v }
    case _ => ()
  }
}

object Trace {
  /** Length in ms of the union of `intervals` clipped to [lo, hi]. */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total, end = 0L
    var started = false
    clipped.foreach { case (s, e) =>
      if (!started || s > end) { total += e - s; end = e; started = true }
      else if (e > end) { total += e - end; end = e }
    }
    total
  }

  /** Per-operation layer counters from a drained bucket. `opStart`/`builderEnd`/
    * `opEnd` are wall-clock ms of the operation's sections. */
  def layers(b: Bucket, group: String, opStart: Long, builderEnd: Long,
             opEnd: Long): Map[String, Double] = {
    val intervals = b.jobs.values.map { case (s, e, _) =>
      (s, if (e < 0) opEnd else e) }.toSeq
    val builderJobs = b.jobs.values.count { case (s, _, _) => s < builderEnd }
    var wscgMs, scanFiles, scanMs, broadcastBytes = 0L
    b.accum.foreach { case (id, v) =>
      b.metricNames.get(id).foreach {
        case (node, "duration") if node.startsWith("WholeStageCodegen") => wscgMs += v
        case (node, "number of files read") if node.startsWith("Scan") => scanFiles += v
        case (node, "scan time") if node.startsWith("Scan") => scanMs += v
        case ("BroadcastExchange", "data size") => broadcastBytes += v
        case _ => ()
      }
    }
    var exchanges, broadcasts, smj = 0L
    def walk(n: SparkPlanInfo): Unit = {
      n.nodeName match {
        case "Exchange" => exchanges += 1
        case "BroadcastExchange" => broadcasts += 1
        case "SortMergeJoin" => smj += 1
        case _ => ()
      }
      n.children.foreach(walk)
    }
    b.finalPlans.values.foreach(walk)
    Map(
      "builder.jobs" -> builderJobs.toDouble,
      "builder.self_s" ->
        (builderEnd - opStart - covered(intervals, opStart, builderEnd)) / 1e3,
      "exec.gap_s" -> (opEnd - opStart - covered(intervals, opStart, opEnd)) / 1e3,
      "exec.jobs" -> b.jobs.size.toDouble,
      "exec.stages" -> b.stages.toDouble,
      "exec.tasks" -> b.tasks.toDouble,
      "exec.failed_tasks" -> b.failedTasks.toDouble,
      "exec.task_s" -> b.taskMs / 1e3,
      "exec.task_cpu_s" -> b.taskCpuNs / 1e9,
      "exec.task_gc_s" -> b.taskGcMs / 1e3,
      "io.input_bytes" -> b.inputBytes.toDouble,
      "io.input_records" -> b.inputRecords.toDouble,
      "io.shuffle_write_bytes" -> b.shuffleWrite.toDouble,
      "io.shuffle_read_bytes" -> b.shuffleRead.toDouble,
      "io.spill_bytes" -> b.spill.toDouble,
      "io.broadcast_bytes" -> broadcastBytes.toDouble,
      "scan.files" -> scanFiles.toDouble,
      "scan.time_s" -> scanMs / 1e3,
      "wscg.time_s" -> wscgMs / 1e3,
      "plan.aqe_updates" -> b.aqeUpdates.toDouble,
      "plan.exchanges" -> exchanges.toDouble,
      "plan.broadcasts" -> broadcasts.toDouble,
      "plan.smj" -> smj.toDouble,
      "attribution.foreign_jobs" ->
        b.jobs.values.count { case (_, _, g) => g != group }.toDouble)
  }
}
