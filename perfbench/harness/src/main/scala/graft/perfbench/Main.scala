package graft.perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.{JsonMethods, Serialization}

import graft.{GraftSessions, SparkEntry}
import graft.ops.CorpusGen

/** The benchmark harness. One JVM, one workload:
  *
  *  1. set-up, once, in the cold JVM: build a session with GraftExtensions
  *     and run the workload's set-up query on it (`setup_s`), on the table
  *     set perfbench/run.py generated;
  *  2. for a corpus workload, the seed's corpus is generated unless it
  *     exists (untimed);
  *  3. a check pass, untimed, which is also the warm-up: every query built,
  *     materialized through the noop sink, and its output checked;
  *  4. timed passes over the query list in a seed-permuted order until
  *     `--seconds` have passed, each query built and materialized through
  *     the noop sink as `graft.Bench` does.
  *
  * With `--trace 1` a Probe is registered, timed passes alternate between
  * untraced and traced, and the record carries spans and per-query rows.
  * The record goes to `--artifact`; its last stdout line is
  * `PERFBENCH_RESULT <json>`.
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: String, tables: String, corpus: String, docs: Long,
                        refs: String, recordRefs: Boolean, artifact: String, cpus: Int,
                        commit: String, smoke: Boolean)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def get(k: String, d: String) = m.getOrElse(k, d)
    Args(
      workload = m.getOrElse("workload", throw new IllegalArgumentException("--workload required")),
      seed = get("seed", "1").toLong, seconds = get("seconds", "10").toDouble,
      trace = get("trace", "0") == "1", work = get("work", "perfbench/work"),
      tables = get("tables", ""), corpus = get("corpus", ""), docs = get("docs", "0").toLong,
      refs = get("refs", ""), recordRefs = get("record-refs", "0") == "1",
      artifact = get("artifact", ""),
      cpus = get("cpus", Runtime.getRuntime.availableProcessors.toString).toInt,
      commit = get("commit", "unknown"), smoke = get("smoke", "0") == "1")
  }

  private def nowMs: Long = System.currentTimeMillis()

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else math.exp(xs.map(x => math.log(math.max(x, 1e-6))).sum / xs.length)

  def summary(xs: Seq[Double]): mutable.LinkedHashMap[String, Any] =
    mutable.LinkedHashMap("median" -> median(xs), "max" -> xs.maxOption.getOrElse(Double.NaN),
      "n" -> xs.length)

  /** Deterministic permutation of the query list for (seed, pass). */
  def order(qs: Seq[String], seed: Long, pass: Int): Seq[String] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(qs)

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Heap still live after a full GC: in local mode driver and executors. */
  def liveHeapMb(): Double = {
    System.gc()
    val rt = Runtime.getRuntime
    (rt.totalMemory - rt.freeMemory) / 1048576.0
  }

  /** Drops every cached block before returning, then collects the heap. */
  def clearAll(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    System.gc()
  }

  def toJson(v: AnyRef): String = Serialization.write(v)(DefaultFormats)

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val wl = Workloads.byName(a.workload)
    val queries = wl.queries
    val work = new File(a.work).getAbsolutePath
    require(new File(a.tables).isDirectory, s"table set ${a.tables} missing")
    var failures = 0
    var attempted = 0
    val errors = mutable.ArrayBuffer.empty[String]

    // ---- set-up, once, in the cold JVM ----
    val t0 = System.nanoTime()
    val spark = GraftSessions.local(a.cpus.toString, Map(
      "spark.sql.shuffle.partitions" -> a.cpus.toString,
      "spark.sql.warehouse.dir" -> s"$work/warehouse",
      "spark.local.dir" -> s"$work/tmp"))
    val sessionS = (System.nanoTime() - t0) / 1e9
    spark.sparkContext.setLogLevel("ERROR")
    attempted += 1
    try noop(SparkEntry.queries(wl.setupQuery)(spark, a.tables))
    catch { case NonFatal(e) => failures += 1; errors += s"setup: $e" }
    val setupS = (System.nanoTime() - t0) / 1e9
    val sc = spark.sparkContext
    val dataDir = if (wl.corpus) ensureCorpus(spark, a.corpus, a.docs, a.seed) else a.tables
    clearAll(spark)

    // ---- check pass (untimed; also the warm-up) ----
    val refs = Refs.load(a.refs)
    val newRefs = mutable.LinkedHashMap.empty[String, Refs.Ref]
    val outRows = mutable.HashMap.empty[String, Long]
    val checkFail = mutable.LinkedHashMap.empty[String, String]
    val corpusCheck = if (wl.corpus) Some(new CorpusChecks(spark, dataDir)) else None
    val tCheck0 = System.nanoTime()
    for (q <- queries) {
      attempted += 1
      try {
        // materialized once, through the noop sink, into the cache the
        // checks then read
        val df = SparkEntry.queries(q)(spark, dataDir).persist()
        noop(df)
        corpusCheck match {
          case Some(cc) =>
            val (rows, problem) = cc.check(df)
            outRows(q) = rows
            problem.foreach(p => checkFail(q) = p)
          case None =>
            val got = Checks.digest(df)
            outRows(q) = got.rows
            newRefs(q) = got
            refs.get(q) match {
              case Some(want) if want == got =>
              case Some(want) => checkFail(q) = s"got $got, expected $want"
              case None if !a.recordRefs => checkFail(q) = "no reference recorded"
              case None =>
            }
        }
      } catch { case NonFatal(e) => checkFail(q) = s"threw: ${e.toString.take(300)}" }
      clearAll(spark)
    }
    val checkSec = (System.nanoTime() - tCheck0) / 1e9
    failures += checkFail.size
    checkFail.foreach { case (q, p) => System.err.println(s"[perfbench] check failed: $q: $p") }
    if (a.recordRefs) Refs.save(a.refs, refs ++ newRefs)

    // ---- timed passes ----
    val probe = new Probe
    if (a.trace) {
      sc.addSparkListener(probe)
      spark.listenerManager.register(probe)
    }
    val tracer = new Tracer(a.cpus)
    val passWall = mutable.ArrayBuffer.empty[Double]      // untraced passes
    val tracedWall = mutable.ArrayBuffer.empty[Double]
    val perQuery = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val heapPerPass = mutable.ArrayBuffer.empty[Double] // per untraced pass: largest after a query
    val tRun0 = System.nanoTime()
    var pass = 0
    def elapsed = (System.nanoTime() - tRun0) / 1e9
    // A pass starts while --seconds have not passed; a traced run makes at
    // least one of each kind.
    while (elapsed < a.seconds || pass < (if (a.trace) 2 else 1)) {
      val traced = a.trace && pass % 2 == 1
      probe.enabled = traced
      val passSpan = if (traced) tracer.open("pass", s"pass$pass", -1, nowMs) else -1
      var passSec = 0.0
      var passHeap = 0.0
      for (q <- order(queries, a.seed, pass)) {
        attempted += 1
        val q0 = nowMs
        val n0 = System.nanoTime()
        var n1 = n0
        var ok = true
        try {
          val df = SparkEntry.queries(q)(spark, dataDir)
          n1 = System.nanoTime()
          noop(df)
        } catch { case NonFatal(e) =>
          ok = false; failures += 1; errors += s"$q: ${e.toString.take(300)}"
        }
        val n2 = System.nanoTime()
        passSec += (n2 - n0) / 1e9
        if (ok && !traced) {
          perQuery.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += (n2 - n0) / 1e9
          // untimed: what the query left live, its persists included
          passHeap = math.max(passHeap, liveHeapMb())
        }
        if (ok && traced) {
          org.apache.spark.PerfbenchBridge.drainListeners(sc)
          val (jobs, stages, qes) = probe.take()
          val buildEnd = q0 + (n1 - n0) / 1000000L
          val q2 = q0 + (n2 - n0) / 1000000L
          val storage = sc.getRDDStorageInfo
          tracer.query(passSpan, pass, q, q0, buildEnd, q2, jobs, stages, qes,
            storage.map(r => r.memSize + r.diskSize).sum, storage.length, outRows.get(q))
        }
        // untimed: an empty cache and a collected heap, so no query's time
        // depends on which query ran before it
        clearAll(spark)
      }
      if (traced) { tracedWall += passSec; tracer.close(passSpan, nowMs) }
      else { passWall += passSec; heapPerPass += passHeap }
      pass += 1
    }
    val runSec = elapsed

    // ---- record ----
    val wallS = median(passWall.toSeq)
    val geo = geomean(perQuery.values.map(v => median(v.toSeq)).toSeq)
    val e2e = mutable.LinkedHashMap[String, Any](
      "wall_s" -> wallS, "query_geomean_s" -> geo, "setup_s" -> setupS,
      "heap_retained_mb" -> heapPerPass.minOption.getOrElse(Double.NaN),
      "failed_frac" -> failures.toDouble / math.max(1, attempted))
    val layers: mutable.LinkedHashMap[String, Any] =
      if (!a.trace) mutable.LinkedHashMap.empty
      else {
        val l = tracer.layerMetrics()
        l("session.build_s") = sessionS
        l("trace.overhead") = median(tracedWall.toSeq) / wallS
        l
      }
    val stamp = Stamp.collect(spark, a, wl, dataDir)
    val record = mutable.LinkedHashMap[String, Any](
      "workload" -> wl.name, "trace" -> a.trace, "stamp" -> stamp,
      "end_to_end" -> e2e, "per_layer" -> layers,
      "distributions" -> mutable.LinkedHashMap(
        "pass_wall_s" -> passWall, "traced_pass_wall_s" -> tracedWall,
        "heap_retained_mb" -> heapPerPass),
      "query_s" -> perQuery.map { case (q, v) => q -> summary(v.toSeq) },
      "check" -> mutable.LinkedHashMap("seconds" -> checkSec, "failed" -> checkFail,
        "rows" -> outRows.toSeq.sortBy(_._1).toMap),
      "run_seconds" -> runSec, "passes" -> pass,
      "attempted" -> attempted, "failed" -> failures, "errors" -> errors.take(20))
    if (a.trace) {
      record("queries") = tracer.rows
      record("spans") = tracer.spans
    }
    if (a.artifact.nonEmpty) {
      new File(a.artifact).getAbsoluteFile.getParentFile.mkdirs()
      Files.write(Paths.get(a.artifact), (toJson(record) + "\n").getBytes("UTF-8"))
    }
    spark.stop()
    val result = mutable.LinkedHashMap[String, Any](
      "correct" -> (failures == 0), "attempted" -> attempted, "failed" -> failures,
      "end_to_end" -> e2e, "per_layer" -> layers)
    println("PERFBENCH_RESULT " + toJson(result))
  }

  /** Generates the seed's planted-duplicate corpus once per checkout:
    * `CorpusGen` documents with the stopword head (the prefix-filter
    * regime), ~4k rows per file as GenCorpus writes them. */
  def ensureCorpus(spark: SparkSession, dir: String, n: Long, seed: Long): String = {
    if (!new File(s"$dir/_READY").exists()) {
      CorpusGen.documents(spark, n, seed = seed, stopFrac = 0.25)
        .repartition(math.max(1, (n / 4096L).toInt))
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      Files.write(Paths.get(s"$dir/_READY"), Array.emptyByteArray)
    }
    dir
  }
}

/** Reference digests of a table set: {"query": {"rows": n, "digest": "..."}}. */
object Refs {
  final case class Ref(rows: Long, digest: String)
  private implicit val formats: Formats = DefaultFormats

  def load(path: String): Map[String, Ref] =
    if (path.isEmpty || !new File(path).exists()) Map.empty
    else JsonMethods.parse(new File(path)).extract[Map[String, Ref]]

  def save(path: String, refs: scala.collection.Map[String, Ref]): Unit = {
    new File(path).getAbsoluteFile.getParentFile.mkdirs()
    Files.write(Paths.get(path),
      (Serialization.writePretty(ListMap(refs.toSeq.sortBy(_._1): _*)) + "\n").getBytes("UTF-8"))
  }
}
