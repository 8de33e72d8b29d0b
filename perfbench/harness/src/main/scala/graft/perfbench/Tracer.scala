package graft.perfbench

import scala.collection.mutable

/** Spans of the traced passes, kept in memory: pass -> query -> {build,
  * write} -> job -> stage, each with its parent's id and the counts taken
  * at its boundary. Also one row per traced query, and the per-layer
  * metrics derived from them. */
final class Tracer(cores: Int) {
  private var nextId = 0
  val spans = mutable.ArrayBuffer.empty[mutable.LinkedHashMap[String, Any]]
  val rows = mutable.ArrayBuffer.empty[mutable.LinkedHashMap[String, Any]]
  /** Per traced pass: summed query rows, and the largest per-query values. */
  private val passTotals = mutable.LinkedHashMap.empty[Int, mutable.LinkedHashMap[String, Double]]

  def open(kind: String, name: String, parent: Int, startMs: Long): Int = {
    val id = nextId
    nextId += 1
    spans += mutable.LinkedHashMap[String, Any]("id" -> id, "parent" -> parent, "kind" -> kind,
      "name" -> name, "start_ms" -> startMs, "end_ms" -> startMs)
    id
  }

  def close(id: Int, endMs: Long, counts: Seq[(String, Any)] = Nil): Unit = {
    spans(id)("end_ms") = endMs
    spans(id) ++= counts
  }

  def query(passSpan: Int, pass: Int, name: String, q0: Long, buildEnd: Long, q2: Long,
            jobs: Seq[JobRec], stages: Seq[StageRec], qes: Seq[QeRec],
            cacheBytes: Long, cacheRdds: Int, outRows: Option[Long]): Unit = {
    val qSpan = open("query", name, passSpan, q0)
    val bSpan = open("build", name, qSpan, q0)
    close(bSpan, buildEnd)
    val wSpan = open("write", name, qSpan, buildEnd)
    val stageById = stages.groupBy(_.id)
    val total = new Counters
    val seen = mutable.HashSet.empty[(Int, Int)]
    val buildJobs = jobs.count(_.startMs < buildEnd)
    jobs.sortBy(_.startMs).foreach { j =>
      val jc = new Counters
      val jSpan = open("job", s"job${j.id}", if (j.startMs < buildEnd) bSpan else wSpan, j.startMs)
      // a stage shared by two jobs is counted under the first
      val js = j.stageIds.flatMap(stageById.getOrElse(_, Nil)).filter(s => seen.add((s.id, s.attempt)))
      js.foreach { s =>
        val sSpan = open("stage", s"stage${s.id}.${s.attempt}", jSpan, s.submitMs)
        close(sSpan, s.endMs, s.c.fields)
        jc.add(s.c)
      }
      close(jSpan, j.endMs, ("stages" -> js.length) +: jc.fields)
      total.add(jc)
    }
    val nStages = stages.length
    val jobActive = Probe.covered(jobs.map(j => (j.startMs, j.endMs)), q0, q2)
    val writeQes = qes.filter(_.startMs >= buildEnd)
    val planMs = writeQes.map(_.planMs).sum
    val planHash = writeQes.lastOption.map(_.planHash).getOrElse("")
    val observed = qes.flatMap(_.observed).groupMapReduce(_._1)(_._2)((_, b) => b)
    val wall = (q2 - q0) / 1e3
    val row = mutable.LinkedHashMap[String, Any](
      "pass" -> pass, "query" -> name, "wall_s" -> wall, "build_s" -> (buildEnd - q0) / 1e3,
      "write_s" -> (q2 - buildEnd) / 1e3, "plan_s" -> planMs / 1e3,
      "jobs" -> jobs.length, "build_jobs" -> buildJobs, "stages" -> nStages,
      "job_active_s" -> jobActive / 1e3, "driver_only_s" -> (q2 - q0 - jobActive) / 1e3)
    row ++= total.fields
    row ++= Seq("cache_mb_left" -> cacheBytes / 1048576.0, "cache_rdds_left" -> cacheRdds,
      "out_rows" -> outRows.getOrElse(-1L), "plan_hash" -> planHash,
      "observed" -> observed.toSeq.sortBy(_._1).toMap)
    rows += row
    close(wSpan, q2)
    close(qSpan, q2, Seq("jobs" -> jobs.length, "stages" -> nStages, "plan_hash" -> planHash)
      ++ total.fields)

    val t = passTotals.getOrElseUpdate(pass, mutable.LinkedHashMap.empty)
    def add(k: String, v: Double): Unit = t(k) = t.getOrElse(k, 0.0) + v
    def max(k: String, v: Double): Unit = t(k) = math.max(t.getOrElse(k, 0.0), v)
    Seq("wall_s", "build_s", "plan_s", "jobs", "build_jobs", "stages", "job_active_s",
      "driver_only_s", "tasks", "task_overhead_s", "run_s", "cpu_s", "gc_s",
      "shuffle_read_mb", "shuffle_write_mb", "fetch_wait_s", "spill_mem_mb",
      "spill_disk_mb", "input_mb", "input_rows", "output_mb").foreach { k =>
      add(k, row(k) match { case n: Int => n.toDouble; case n: Long => n.toDouble
                            case d: Double => d; case _ => 0.0 })
    }
    max("peak_task_mem_mb", total.peakTaskMemB / 1048576.0)
    max("cache_mb_left", cacheBytes / 1048576.0)
    max("cache_rdds_left", cacheRdds.toDouble)
    if (total.outB > 0) { add("write_in_mb", total.inB / 1048576.0); add("write_out_mb", total.outB / 1048576.0) }
    observed.foreach { case (k, v) => t("cand." + k) = v }
    val cand = observed.collect { case (k, v) if Tracer.CandidateRows(k) => v }.sum
    if (cand > 0) { add("cand_rows", cand); add("cand_emitted", outRows.getOrElse(0L).toDouble) }
  }

  /** Per-layer metrics: each is the median over traced passes of the pass's
    * total (or, for peaks and cache, its largest per-query value). */
  def layerMetrics(): mutable.LinkedHashMap[String, Any] = {
    val ps = passTotals.values.toSeq
    def med(f: mutable.LinkedHashMap[String, Double] => Double): Double = Main.median(ps.map(f))
    def g(k: String)(t: mutable.LinkedHashMap[String, Double]): Double = t.getOrElse(k, 0.0)
    val m = mutable.LinkedHashMap[String, Any](
      "build.s" -> med(g("build_s")), "build.jobs" -> med(g("build_jobs")),
      "plan.s" -> med(g("plan_s")),
      "dispatch.jobs" -> med(g("jobs")), "dispatch.stages" -> med(g("stages")),
      "dispatch.tasks" -> med(g("tasks")), "dispatch.task_overhead_s" -> med(g("task_overhead_s")),
      "dispatch.driver_only_s" -> med(g("driver_only_s")),
      "dispatch.driver_only_frac" -> med(t => g("driver_only_s")(t) / g("wall_s")(t)),
      "exec.cpu_s" -> med(g("cpu_s")), "exec.run_s" -> med(g("run_s")), "exec.gc_s" -> med(g("gc_s")),
      "exec.cpu_util" -> med(t => g("cpu_s")(t) / math.max(1e-9, g("job_active_s")(t) * cores)),
      "exec.cpu_frac" -> med(t => g("cpu_s")(t) / (g("wall_s")(t) * cores)),
      "exec.peak_task_mem_mb" -> med(g("peak_task_mem_mb")),
      "shuffle.read_mb" -> med(g("shuffle_read_mb")), "shuffle.write_mb" -> med(g("shuffle_write_mb")),
      "shuffle.fetch_wait_s" -> med(g("fetch_wait_s")),
      "spill.mem_mb" -> med(g("spill_mem_mb")), "spill.disk_mb" -> med(g("spill_disk_mb")),
      "scan.input_mb" -> med(g("input_mb")), "scan.input_rows" -> med(g("input_rows")),
      "write.output_mb" -> med(g("output_mb")),
      "write.amplification" -> med(t => if (g("write_in_mb")(t) > 0) g("write_out_mb")(t) / g("write_in_mb")(t) else 0.0),
      "cache.mb_left" -> med(g("cache_mb_left")), "cache.rdds_left" -> med(g("cache_rdds_left")),
      "cand.yield" -> med(t => if (g("cand_rows")(t) > 0) g("cand_emitted")(t) / g("cand_rows")(t) else 0.0))
    ps.flatMap(_.keys).distinct.filter(_.startsWith("cand.")).sorted.foreach { k =>
      m(k) = med(g(k))
    }
    m
  }
}

object Tracer {
  /** Observation fields that count candidate rows of a pair-generating
    * operator (before verification), the base of `cand.yield`. */
  val CandidateRows: Set[String] = Set(
    "ngram_inverted_join.posting_pair_rows", "ppjoin_prefix_join.rows_pre_positional",
    "lsh_band_join.cand_rows_pre_dedup", "sem_ann_bucket_join.cand_rows_pre_dedup")
}
