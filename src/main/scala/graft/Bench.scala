package graft

import java.util.Locale

import scala.util.control.NonFatal

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted,
  SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Benchmark main — runs SparkEntry queries against SPARK_GRAFT_SF_DIR,
  * forcing FULL materialization through the noop sink (count() would let
  * Catalyst prune projections and under-report work). Query names given as
  * arguments run just those; with none, every query runs.
  * Prints one JSON line: {"metric":"total","value":…,"queries":{…}}.
  * All numbers formatted with Locale.ROOT — a comma-decimal JVM locale
  * would otherwise emit invalid JSON.
  *
  * Noise hardening (this host shows 5×+ run-to-run steal on identical
  * code): per-query "queries" carries best-of-n, "samples" carries every
  * raw sample so a corrupted suite is diagnosable after the fact, and a
  * SENTINEL query timed at suite start and re-timed at suite end flags a
  * host whose load shifted mid-suite ("noisy": true when they differ >2×).
  *
  * "profile" carries each query's last-sample counters: `build_s` (the
  * builder call, eager work included), Spark jobs (each a blocking driver
  * round trip) and `build_jobs`, those of them started before the builder
  * returned, stages, tasks, executor CPU seconds (steal-immune, unlike
  * wall seconds), shuffle read/write MB, the largest execution memory one
  * task held (`peak_task_mem_mb`: Tungsten pages, so it shows the page
  * size), the JVM GC seconds the tasks saw (`gc_s`), and the broadcast
  * exchanges of the final adaptive plan (`broadcasts`) with the summed size
  * of the relations they built (`broadcast_mb`): which joins AQE's size
  * gate sent the broadcast way, and what they held on the driver.
  *
  * "plans" carries a canonicalized fingerprint of each query's physical
  * plan (expression ids / plan ids / file paths masked), so cross-round
  * plan flips (broadcast→SMJ, new shuffles) are detected by diffing two
  * BENCH jsons instead of re-deriving plans by hand. The fingerprint is
  * the STATIC plan of the DataFrame the last timed sample built — AQE
  * runtime re-plans don't show; flips driven by stats (broadcast
  * thresholds, join strategy) do. */
object Bench {

  /** Spark counters over one sample. */
  final case class Profile(jobs: Int = 0, buildJobs: Int = 0, stages: Int = 0, tasks: Int = 0,
                           cpuNs: Long = 0L, shuffleReadB: Long = 0L, shuffleWriteB: Long = 0L,
                           peakTaskMemB: Long = 0L, gcMs: Long = 0L,
                           broadcasts: Int = 0, broadcastB: Long = 0L)

  /** Counts jobs started, the tasks, executor CPU and shuffle bytes of
    * every stage completed, and the peak execution memory and GC time of
    * every task ended, since the last [[reset]]. Listener events arrive
    * asynchronously on one bus thread, so both calls first wait for the bus
    * to drain — keep them outside any timed region. A job counts towards
    * `buildJobs` when its start time (epoch ms, stamped by the scheduler)
    * is before the `buildEndMs` given to [[snapshot]]. */
  final class JobCounters(sc: SparkContext) extends SparkListener {
    @volatile private var p = Profile()
    @volatile private var jobStartMs = Vector.empty[Long]

    override def onJobStart(j: SparkListenerJobStart): Unit = {
      p = p.copy(jobs = p.jobs + 1)
      jobStartMs :+= j.time
    }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      val m = s.stageInfo.taskMetrics
      p = p.copy(stages = p.stages + 1, tasks = p.tasks + s.stageInfo.numTasks,
        cpuNs = p.cpuNs + m.executorCpuTime,
        shuffleReadB = p.shuffleReadB + m.shuffleReadMetrics.totalBytesRead,
        shuffleWriteB = p.shuffleWriteB + m.shuffleWriteMetrics.bytesWritten)
    }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      val m = t.taskMetrics // null for a task that failed before reporting
      if (m != null) p = p.copy(peakTaskMemB = math.max(p.peakTaskMemB, m.peakExecutionMemory),
        gcMs = p.gcMs + m.jvmGCTime)
    }

    def reset(): Unit = { GraftBridge.drainListeners(sc); p = Profile(); jobStartMs = Vector.empty }
    def snapshot(buildEndMs: Long): Profile = {
      GraftBridge.drainListeners(sc)
      p.copy(buildJobs = jobStartMs.count(_ < buildEndMs))
    }
  }

  /** One query's measurement: every timed sample (-1 for a failed one),
    * and the last sample's build seconds (-1 when its build failed),
    * counters and plan fingerprint. */
  final case class Measurement(samples: Seq[Double], buildS: Double,
                               profile: Profile, planHash: String)

  /** Times `runs` samples of `build` followed by a noop write. Only the
    * build and the write are timed; the counter resets, the drain, the
    * plan fingerprint, the broadcast sizes and the cache release run
    * outside the timed region. The fingerprint and the broadcasts come from
    * the last sample's own DataFrame and write, so the builder runs exactly
    * `runs` times. Every sample ends by releasing
    * every cached relation and persisted RDD, as perfbench does, so no
    * sample reuses a persist of an earlier sample or query, and the
    * fingerprint sees only what its own builder cached. */
  def measure(spark: SparkSession, sfDir: String, name: String, runs: Int, counters: JobCounters,
              build: (SparkSession, String) => DataFrame): Measurement = {
    var lastDf: DataFrame = null
    var buildS = -1.0
    var buildEndMs = Long.MaxValue
    var hash = "err"
    var broadcast = Seq.empty[BroadcastExchangeExec]
    val samples = (1 to runs).map { i =>
      counters.reset()
      lastDf = null
      buildS = -1.0
      buildEndMs = Long.MaxValue
      broadcast = Seq.empty
      var ran: FinalPlan = null
      val t0 = System.nanoTime()
      try {
        lastDf = build(spark, sfDir)
        buildS = (System.nanoTime() - t0) / 1e9
        buildEndMs = System.currentTimeMillis()
        if (i == runs) ran = new FinalPlan(lastDf)
        lastDf.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      } catch { case NonFatal(e) =>
        System.err.println(s"[bench] $name failed: $e"); -1.0
      } finally {
        // its own try: a listener that times out costs the broadcast
        // fields, never the sample's time
        if (ran != null) {
          try broadcast = broadcasts(ran.await())
          catch { case NonFatal(e) => System.err.println(s"[bench] $name: no final plan: $e") }
          finally ran.close()
        }
        if (i == runs) hash = planHash(lastDf)
        releaseCache(spark)
      }
    }
    val profile = counters.snapshot(buildEndMs).copy(broadcasts = broadcast.size,
      broadcastB = broadcast.map(_.metrics("dataSize").value).sum)
    Measurement(samples, buildS, profile, hash)
  }

  /** The physical plan that the next write of `df` runs: for an adaptive
    * query the final plan, with the join strategies and partition counts
    * AQE chose at run time. Register it before the write; only the write of
    * `df` itself counts (its command wraps `df`'s analyzed plan), not the
    * end of an earlier query still queued on the listener bus. [[await]]
    * waits for the listener bus, so call it outside any timed region, and
    * [[close]] afterwards. */
  final class FinalPlan(df: DataFrame) extends QueryExecutionListener with AutoCloseable {
    private val target = df.queryExecution.analyzed
    private val ran = scala.concurrent.Promise[QueryExecution]()
    private def ours(qe: QueryExecution) = qe.logical.find(_ eq target).isDefined
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (ours(qe)) ran.trySuccess(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      if (ours(qe)) ran.tryFailure(e)
    df.sparkSession.listenerManager.register(this)

    def await(): SparkPlan = {
      import scala.concurrent.duration._
      scala.concurrent.Await.result(ran.future, 60.seconds).executedPlan
    }
    def close(): Unit = df.sparkSession.listenerManager.unregister(this)
  }

  /** The broadcast exchanges a physical plan ran, through AQE's wrappers
    * and query stages, each once: a reused exchange is not counted again.
    * Each one's `dataSize` metric is the size of the relation it built. */
  def broadcasts(plan: SparkPlan): Seq[BroadcastExchangeExec] = {
    def walk(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec => walk(s.plan)
      case _ => p.children.flatMap(walk)
    })
    walk(plan).collect { case b: BroadcastExchangeExec => b }.distinct
  }

  /** Drops every cached relation and persisted RDD, blocking until gone. */
  private def releaseCache(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** Canonicalized static-plan fingerprint: changes when the planned shape
    * changes; "err" when there is no plan. The plan is printed whole
    * (Spark otherwise cuts a scan's DataFilters at a fixed length of the
    * unmasked string, so where it cuts depends on expression-id digits);
    * that takes a DataFrame whose plan has not been built yet, as the noop
    * write leaves it. */
  def planHash(df: DataFrame): String =
    try {
      val conf = df.sparkSession.conf
      val prev = conf.getOption(MaxMetadataLength)
      conf.set(MaxMetadataLength, Int.MaxValue.toString)
      val plan =
        try df.queryExecution.executedPlan.toString
        finally prev.fold(conf.unset(MaxMetadataLength))(conf.set(MaxMetadataLength, _))
      val canon = plan
        .replaceAll("#\\d+", "#x")
        .replaceAll("plan_id=\\d+", "plan_id=x")
        .replaceAll("id=#?\\d+", "id=x")
        .replaceAll("file:[^\\s,\\]\\)]*", "file:x")
        .replaceAll("Location: [^,\\]]*", "Location: x")
        // JVM object identities: lambda class counters (Lambda$123/0x...)
        // and toString identity hashes ([[F@1a2b3c, closure@...)
        .replaceAll("Lambda\\$\\d+/0x[0-9a-f]+", "Lambda")
        .replaceAll("@[0-9a-f]+", "@x")
        // higher-order-function variables are numbered by a JVM-wide
        // counter (x_155): the number says how many lambdas were built before
        .replaceAll("lambda (\\w+?)_\\d+#", "lambda $1_x#")
      val md = java.security.MessageDigest.getInstance("MD5")
      md.digest(canon.getBytes("UTF-8")).map(b => f"$b%02x").mkString.take(12)
    } catch { case NonFatal(_) => "err" }

  private val MaxMetadataLength = "spark.sql.maxMetadataStringLength"

  private def fmt(v: Double): String = String.format(Locale.ROOT, "%.3f", Double.box(v))

  /** MB are 10^6 bytes. */
  private def profileJson(m: Measurement): String = {
    val p = m.profile
    s"""{"build_s":${fmt(m.buildS)},"build_jobs":${p.buildJobs},"jobs":${p.jobs},"stages":${p.stages},""" +
    s""""tasks":${p.tasks},"cpu_s":${fmt(p.cpuNs / 1e9)},""" +
    s""""shuffle_read_mb":${fmt(p.shuffleReadB / 1e6)},"shuffle_write_mb":${fmt(p.shuffleWriteB / 1e6)},""" +
    s""""peak_task_mem_mb":${fmt(p.peakTaskMemB / 1e6)},"gc_s":${fmt(p.gcMs / 1e3)},""" +
    s""""broadcasts":${p.broadcasts},"broadcast_mb":${fmt(p.broadcastB / 1e6)}}"""
  }

  /** Corpus stamp of the documents and embeddings tables under `dir`:
    * row counts, total text bytes, and an order-invariant distributed
    * fingerprint (sum of xxhash64 over id AND content — no collect, no
    * sort). A regenerated corpus is then attributable from two records
    * alone (fingerprint flips ⇒ data moved). Content is part of the hash
    * since r12: the id-only form collided across corpora that shared ids
    * 0..n-1 but differed in every text byte (the suite dir and the 500 k
    * planted corpus), which is the flip the stamp exists to show. Stamps
    * are comparable to pre-r12 records only via counts + text_bytes.
    * Bench and Verify's planted-check record both carry it. */
  def corpusStamp(spark: SparkSession, dir: String): String =
    try {
      import org.apache.spark.sql.functions._
      // hash sum in decimal(38,0): long-sum of 2^63-scale hashes overflows
      // immediately under ANSI; 38 digits absorb ~10^19 rows
      def fp(cs: org.apache.spark.sql.Column*) =
        sum(xxhash64(cs: _*).cast("decimal(38,0)")).cast("string")
      val d = Tables.documents(spark, dir)
        .agg(count(lit(1)), sum(length(col("text"))),
          fp(col("doc_id"), col("text"))).head()
      val e = Tables.embeddings(spark, dir)
        .agg(count(lit(1)), fp(col("vec_id"), col("embedding"))).head()
      s"""{"docs":${d.getLong(0)},"text_bytes":${d.getLong(1)},""" +
      s""""docs_fp":"${d.getString(2)}","vecs":${e.getLong(0)},""" +
      s""""vecs_fp":"${e.getString(1)}"}"""
    } catch { case NonFatal(ex) =>
      "\"err: " + ex.toString.replace("\"", "'") + "\"" }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val runs = GraftEnv.benchRuns()
    GraftEnv.check()
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val spark = GraftSessions.local(GraftEnv.cpus(4))
    val counters = new JobCounters(spark.sparkContext)
    spark.sparkContext.addSparkListener(counters)

    // Named observations (Dataset.observe counters inside operators — e.g.
    // the PPJoin candidate-stage counters) are captured per execution and
    // dumped under "observed", so a cost move on a candidate-generating
    // operator is attributable to data vs filter-regression from the
    // artifact alone. Accumulator-based: zero extra actions.
    val observed = new java.util.concurrent.ConcurrentHashMap[String, String]()
    spark.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
      private def fmtVal(v: Any): String = v match {
        case null => "null"
        case n: Long => n.toString
        case n: Int => n.toString
        case n: Double => String.format(Locale.ROOT, "%.6g", Double.box(n))
        case s => "\"" + s.toString.replace("\"", "'") + "\""
      }
      override def onSuccess(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             durationNs: Long): Unit =
        qe.observedMetrics.foreach { case (obsName, row) =>
          val fields = row.schema.fieldNames.zipWithIndex.map { case (f, i) =>
            "\"" + f + "\":" + fmtVal(row.get(i)) }.mkString("{", ",", "}")
          observed.put(obsName, fields) // latest run wins — same query, same data
        }
      override def onFailure(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             exception: Exception): Unit = ()
    })

    // Best-of-n per query: the best of n is the closest observable to the
    // true cost under steal noise. A transiently-failed sample is dropped,
    // not allowed to poison the successful ones; -1 only when EVERY sample
    // failed.
    def best(samples: Seq[Double]): Double = {
      val ok = samples.filter(_ >= 0)
      if (ok.isEmpty) -1.0 else ok.min
    }

    // JVM/codegen warmup on the configured dataset (not reported) — the
    // flagship entry() hardcodes its own dir, which may not exist here.
    // Warm until the sentinel STABILIZES (two consecutive samples within
    // 1.5×, cap 6 runs): a fresh 32-thread JVM spends its first ~minute
    // JIT-compiling the scan/codegen stack (measured: 45 s for a q1 whose
    // warm cost is 1.2 s, sf10 r12), and a sentinel sampled during that
    // infancy reads as "host load shifted mid-suite" — a false noisy flag
    // on an idle host. Extra warm runs cost seconds once actually warm.
    val sentinelName = "q1_pricing_summary"
    def sentinel(): Double = measure(spark, sfDir, sentinelName, 1, counters,
      SparkEntry.queries(sentinelName)).samples.head
    var warmPrev = sentinel()
    var sentinelStart = sentinel()
    var warmTries = 0
    while (warmTries < 4 && warmPrev > 0 && sentinelStart > 0 &&
           math.max(warmPrev, sentinelStart) /
             math.min(warmPrev, sentinelStart) > 1.5) {
      warmPrev = sentinelStart
      sentinelStart = sentinel()
      warmTries += 1
    }

    val measured = names.map(n =>
      n -> measure(spark, sfDir, n, runs, counters, SparkEntry.queries(n)))
    val results = measured.map { case (n, m) => n -> best(m.samples) }
    val sentinelEnd = sentinel()
    val noisy = sentinelStart > 0 && sentinelEnd > 0 &&
      math.max(sentinelStart, sentinelEnd) / math.min(sentinelStart, sentinelEnd) > 2.0

    def obj(kvs: Seq[(String, String)]): String =
      kvs.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val nFailed = results.count(_._2 < 0)
    val qs = obj(results.map { case (k, v) => k -> fmt(v) })
    val ss = obj(measured.map { case (k, m) => k -> m.samples.map(fmt).mkString("[", ",", "]") })
    val ph = obj(measured.map { case (k, m) => k -> ("\"" + m.planHash + "\"") })
    val prof = obj(measured.map { case (k, m) => k -> profileJson(m) })
    val total = results.map(_._2).filter(_ >= 0).sum
    val obs = {
      import scala.jdk.CollectionConverters._
      obj(observed.asScala.toSeq.sortBy(_._1))
    }
    val json = String.format(Locale.ROOT,
      """{"metric":"total","value":%.3f,"unit":"sec","queries":%s,"samples":%s,"plans":%s,"profile":%s,"observed":%s,"corpus":%s,"sentinel":{"start_sec":%s,"end_sec":%s,"noisy":%b},"sf":"%s","runs":%d,"failed":%d}""",
      Double.box(total), qs, ss, ph, prof, obs, corpusStamp(spark, sfDir),
      fmt(sentinelStart), fmt(sentinelEnd),
      Boolean.box(noisy), sfDir, Int.box(runs), Int.box(nFailed))
    // The result JSON is printed BETWEEN fixed sentinel lines and also
    // written to a stable file path: the consuming driver scrapes stdout,
    // and trailing build-tool noise ("[success] Total time ...") made two
    // consecutive round artifacts unparseable (parsed: null). The sentinels
    // make the scrape unambiguous; the file makes it unnecessary.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "/tmp/graft_bench_last.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (json + "\n").getBytes("UTF-8"))
    catch { case NonFatal(e) => System.err.println(s"[bench] file dump failed: $e") }
    println("GRAFT_BENCH_JSON_BEGIN")
    println(json)
    println("GRAFT_BENCH_JSON_END")
    spark.stop()
  }
}
