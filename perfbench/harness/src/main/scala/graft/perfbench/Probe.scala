package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Task-metric sums over some interval of execution (a stage, a job, a
  * query, a pass). Byte counts are bytes, times are as Spark reports them. */
final class Counters {
  var tasks = 0L
  var taskDurMs = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shufReadB = 0L
  var shufWriteB = 0L
  var fetchWaitMs = 0L
  var spillMemB = 0L
  var spillDiskB = 0L
  var inB = 0L
  var inRows = 0L
  var outB = 0L
  var peakTaskMemB = 0L

  def add(o: Counters): Unit = {
    tasks += o.tasks; taskDurMs += o.taskDurMs; runMs += o.runMs; cpuNs += o.cpuNs
    gcMs += o.gcMs; shufReadB += o.shufReadB; shufWriteB += o.shufWriteB
    fetchWaitMs += o.fetchWaitMs; spillMemB += o.spillMemB; spillDiskB += o.spillDiskB
    inB += o.inB; inRows += o.inRows; outB += o.outB
    peakTaskMemB = math.max(peakTaskMemB, o.peakTaskMemB)
  }

  def addTask(info: TaskInfo, m: org.apache.spark.executor.TaskMetrics): Unit = {
    tasks += 1
    taskDurMs += info.duration
    if (m != null) {
      runMs += m.executorRunTime; cpuNs += m.executorCpuTime; gcMs += m.jvmGCTime
      val sr = m.shuffleReadMetrics
      shufReadB += sr.remoteBytesRead + sr.localBytesRead
      fetchWaitMs += sr.fetchWaitTime
      shufWriteB += m.shuffleWriteMetrics.bytesWritten
      spillMemB += m.memoryBytesSpilled; spillDiskB += m.diskBytesSpilled
      inB += m.inputMetrics.bytesRead; inRows += m.inputMetrics.recordsRead
      outB += m.outputMetrics.bytesWritten
      peakTaskMemB = math.max(peakTaskMemB, m.peakExecutionMemory)
    }
  }

  def fields: Seq[(String, Any)] = {
    val mb = 1024.0 * 1024.0
    Seq("tasks" -> tasks, "task_overhead_s" -> math.max(0L, taskDurMs - runMs) / 1e3,
      "run_s" -> runMs / 1e3, "cpu_s" -> cpuNs / 1e9, "gc_s" -> gcMs / 1e3,
      "shuffle_read_mb" -> shufReadB / mb, "shuffle_write_mb" -> shufWriteB / mb,
      "fetch_wait_s" -> fetchWaitMs / 1e3, "spill_mem_mb" -> spillMemB / mb,
      "spill_disk_mb" -> spillDiskB / mb, "input_mb" -> inB / mb, "input_rows" -> inRows,
      "output_mb" -> outB / mb, "peak_task_mem_mb" -> peakTaskMemB / mb)
  }
}

final case class JobRec(id: Int, startMs: Long, var endMs: Long, stageIds: Seq[Int])
final case class StageRec(id: Int, attempt: Int, submitMs: Long, endMs: Long, c: Counters)
/** One finished QueryExecution: when its analysis started, how long the
  * analysis, optimization and planning phases took, its plan fingerprint
  * and the named observations it carried. */
final case class QeRec(startMs: Long, planMs: Long, planHash: String,
                       observed: Seq[(String, Double)])

/** The listeners the traced run registers: a SparkListener for jobs, stages
  * and task metrics, and a QueryExecutionListener for planning phases, plan
  * fingerprints and `Dataset.observe` counters. Everything is kept in memory
  * until the harness takes it after each query. `enabled` lets the traced
  * run interleave untraced passes in the same session. */
final class Probe extends SparkListener with QueryExecutionListener {
  @volatile var enabled = true
  private val jobs = mutable.ArrayBuffer.empty[JobRec]
  private val openJobs = mutable.HashMap.empty[Int, JobRec]
  private val stageTasks = mutable.HashMap.empty[(Int, Int), Counters]
  private val stages = mutable.ArrayBuffer.empty[StageRec]
  private val qes = mutable.ArrayBuffer.empty[QeRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) synchronized {
    val j = JobRec(e.jobId, e.time, -1L, e.stageIds)
    openJobs(e.jobId) = j
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    openJobs.remove(e.jobId).foreach { j => j.endMs = e.time; jobs += j }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (enabled) synchronized {
    stageTasks.getOrElseUpdate((e.stageId, e.stageAttemptId), new Counters)
      .addTask(e.taskInfo, e.taskMetrics)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (enabled) synchronized {
    val si = e.stageInfo
    val c = stageTasks.remove((si.stageId, si.attemptNumber())).getOrElse(new Counters)
    stages += StageRec(si.stageId, si.attemptNumber(), si.submissionTime.getOrElse(0L),
      si.completionTime.getOrElse(0L), c)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (enabled) {
      val phases = qe.tracker.phases
      val planMs = Seq("analysis", "optimization", "planning")
        .flatMap(phases.get).map(_.durationMs).sum
      val startMs = if (phases.isEmpty) System.currentTimeMillis()
        else phases.values.map(_.startTimeMs).min
      val obs = qe.observedMetrics.toSeq.flatMap { case (name, row) =>
        row.schema.fieldNames.indices.flatMap { i =>
          row.get(i) match {
            case n: java.lang.Number => Some(s"$name.${row.schema.fieldNames(i)}" -> n.doubleValue)
            case _ => None
          }
        }
      }
      val rec = QeRec(startMs, planMs, Probe.planHash(qe), obs)
      synchronized { qes += rec }
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Everything recorded since the last call. */
  def take(): (Seq[JobRec], Seq[StageRec], Seq[QeRec]) = synchronized {
    val r = (jobs.toList, stages.toList, qes.toList)
    jobs.clear(); stages.clear(); qes.clear()
    r
  }
}

object Probe {
  /** Canonical physical-plan fingerprint, masked as `graft.Bench` masks it:
    * expression ids, plan ids, file locations and JVM identities. */
  def planHash(qe: QueryExecution): String =
    try {
      val canon = qe.executedPlan.toString
        .replaceAll("#\\d+L?", "#x")
        .replaceAll("plan_id=\\d+", "plan_id=x")
        .replaceAll("id=#?\\d+", "id=x")
        .replaceAll("file:[^\\s,\\]\\)]*", "file:x")
        .replaceAll("Location: [^,\\]]*", "Location: x")
        .replaceAll("Lambda\\$\\d+/0x[0-9a-f]+", "Lambda")
        .replaceAll("@[0-9a-f]+", "@x")
      val md = java.security.MessageDigest.getInstance("MD5")
      md.digest(canon.getBytes("UTF-8")).map(b => f"$b%02x").mkString.take(12)
    } catch { case _: Throwable => "err" }

  /** Length of the union of [start, end] intervals clipped to [lo, hi]. */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = -1L
    var curB = -1L
    clipped.foreach { case (a, b) =>
      if (a > curB) { total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    total + (curB - curA)
  }
}
