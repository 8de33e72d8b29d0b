package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops._
import graft.functions.GraftFunctions

/** Dedup/ANN scale runner over the planted-duplicate synthetic corpus
  * (graft.ops.CorpusGen) — the scale evidence the TPC-H family gets from
  * scaleup.py, for the family scaleup.py cannot replicate soundly.
  *
  * Usage (env): SPARK_GRAFT_SCALE_N (default 500000), SPARK_GRAFT_CPUS,
  * SPARK_GRAFT_SCALE_DIR (corpus parquet dir, default /tmp/graft_scale),
  * SPARK_GRAFT_SCALE_RUNS (timing samples per op, default 2),
  * SPARK_GRAFT_SCALE_OPS (comma list of op names to run — default all;
  * shared relations and the matching ground-truth checks follow the ops),
  * SPARK_GRAFT_SCALE_REUSE=1 (reuse an already-materialized corpus dir
  * instead of regenerating — the generator is a pure function of (n, id),
  * so a reused dir is identical to a fresh one).
  *
  * Emits ONE JSON line: per-op best-of-n seconds, plus ground-truth
  * checks. The DuckDB oracle is deliberately NOT in this loop — at 500 k
  * docs the all-pairs oracles are quadratic in DuckDB (1.2e11 pairs) and
  * would benchmark the oracle, not the operators. Correctness here is:
  *  - RECALL: every planted pair whose directly-computed similarity
  *    clears the operator's threshold appears in the operator's output
  *    (computed per planted pair — linear cost; this is exactly the
  *    candidate-generation soundness claim — banding/bucketing/blocking
  *    may not lose a qualifying pair).
  *  - SOUNDNESS: every emitted pair's similarity is recomputed directly
  *    from the corpus and must clear the threshold (linear in output).
  *  - exact-dup group counts match the planted group arithmetic.
  */
object ScaleDedup {

  private def time[A](runs: Int)(f: => A): (Double, A) = {
    var best = Double.MaxValue
    var last: A = null.asInstanceOf[A]
    for (_ <- 1 to runs) {
      val t0 = System.nanoTime()
      last = f
      val dt = (System.nanoTime() - t0) / 1e9
      if (dt < best) best = dt
    }
    (best, last)
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = {
    val n = sys.env.getOrElse("SPARK_GRAFT_SCALE_N", "500000").toLong
    val cpus = graft.GraftEnv.cpus(32)
    val dir = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR", "/tmp/graft_scale") + s"/n$n"
    val runs = math.max(1, sys.env.getOrElse("SPARK_GRAFT_SCALE_RUNS", "2").toInt)
    val opsFilter: Set[String] = sys.env.get("SPARK_GRAFT_SCALE_OPS")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet).getOrElse(Set.empty)
    def enabled(name: String): Boolean = opsFilter.isEmpty || opsFilter.contains(name)
    // aggressive periodic GC: multi-hundred-GB-spill ops leave orphaned
    // shuffle files that the ContextCleaner only reclaims after a driver GC;
    // at 5 M docs on one box those orphans are the difference between
    // finishing and ENOSPC mid-check
    val spark = graft.GraftSessions.local(cpus,
      Map("spark.cleaner.periodicGC.interval" -> "60s"))
    GraftFunctions.register(spark)
    import spark.implicits._

    // Named observations (Dataset.observe counters inside operators — the
    // ppjoin candidate-stage counters, lsh_band_join, sem_ann_bucket_join)
    // captured per execution and dumped under "observed", exactly as Bench
    // does: the scale artifact carries the prefix-filter's measured
    // selectivity, not just wall time. Accumulator-based, zero extra jobs.
    val observed = new java.util.concurrent.ConcurrentHashMap[String, String]()
    spark.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
      private def fmtVal(v: Any): String = v match {
        case null => "null"
        case n: Long => n.toString
        case n: Int => n.toString
        case n: Double => String.format(java.util.Locale.ROOT, "%.6g", Double.box(n))
        case s => "\"" + s.toString.replace("\"", "'") + "\""
      }
      override def onSuccess(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             durationNs: Long): Unit =
        qe.observedMetrics.foreach { case (obsName, row) =>
          val fields = row.schema.fieldNames.zipWithIndex.map { case (f, i) =>
            "\"" + f + "\":" + fmtVal(row.get(i)) }.mkString("{", ",", "}")
          observed.put(obsName, fields)
        }
      override def onFailure(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             exception: Exception): Unit = ()
    })

    // ---- generate once, materialize to parquet, re-read (ops must scan
    // real files, not re-run the generator inside their plans) ----
    val reuse = sys.env.get("SPARK_GRAFT_SCALE_REUSE").contains("1") &&
      new java.io.File(s"$dir/documents.parquet/_SUCCESS").exists() &&
      new java.io.File(s"$dir/embeddings.parquet/_SUCCESS").exists()
    val (genSec, _) = if (reuse) (0.0, ()) else time(1) {
      CorpusGen.documents(spark, n).write.mode("overwrite").parquet(s"$dir/documents.parquet")
      CorpusGen.embeddings(spark, n).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    }
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val planted = CorpusGen.plantedPairs(spark, n)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nGroups = planted.filter(col("kind") === "exact").count()

    val times = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val checks = scala.collection.mutable.LinkedHashMap.empty[String, String]
    def record(name: String)(build: => DataFrame): DataFrame = {
      val (sec, df) = time(runs) { val d = build; noop(d); d }
      times(name) = sec
      System.err.println(f"[scale] $name%-24s ${sec}%8.2f s")
      df
    }
    // For ops whose CHECKS would otherwise execute over the op's live
    // lineage: materialize the (small) output to parquet and re-read it.
    // This severs the lineage, so the op's multi-GB shuffle/spill files
    // become unreachable and the periodic GC reclaims the disk BEFORE the
    // check joins need it — at 5 M docs the minhash op's ~60 GB of spill
    // plus live check shuffles exceeds this box. The timed body includes
    // the dump write (1-2 s for ~1.5 M pair rows — the honest cost of
    // materializing the result).
    def recordAndDump(name: String)(build: => DataFrame): DataFrame = {
      val path = s"$dir/_check_$name.parquet"
      // SPARK_GRAFT_SCALE_CHECK_ONLY=1: reuse an existing dump and run ONLY
      // the ground-truth checks, in a fresh JVM with a clean disk. At 5 M
      // docs the op's spill high-water mark plus the check joins exceed one
      // box even with lineage severed — two JVMs each fit comfortably. The
      // op's wall time comes from the run that wrote the dump; this run
      // records -1 (excluded from totals).
      if (sys.env.get("SPARK_GRAFT_SCALE_CHECK_ONLY").contains("1") &&
          new java.io.File(s"$path/_SUCCESS").exists()) {
        times(name) = -1.0
        return spark.read.parquet(path)
      }
      val out = record(name) {
        val d = build
        d.write.mode("overwrite").parquet(path)
        spark.read.parquet(path)
      }
      // prompt reference processing so the ContextCleaner frees the op's
      // now-unreachable shuffles before the first check action, not at the
      // next periodic tick
      System.gc()
      out
    }
    /** Budget-guarded stages throw IllegalStateException by design (the
      * pre-flight volume guards fail LOUD); containing the failure to the
      * one stage — FAIL check line, remaining ops still run — is this
      * wrapper's job, not the guard's. Without it a too-dense corpus
      * aborts the harness JVM and loses every downstream op's evidence. */
    def guarded(name: String)(body: => Unit): Unit =
      try body catch { case scala.util.control.NonFatal(e) =>
        checks(name) = s"FAIL: ${e.toString.replace("\n", " ").take(400)}"
        System.err.println(s"[scale] $name FAILED (contained): $e")
      }

    // ---- dedup_exact: planted arithmetic is the full ground truth ----
    if (enabled("dedup_exact")) {
      val exact = record("dedup_exact") { DedupOps.dedupExact(docs) }
      val dupGroups = exact.filter(col("n_copies") === 2).count()
      val single = exact.filter(col("n_copies") === 1).count()
      checks("dedup_exact") =
        if (dupGroups == nGroups && single == n - 2 * nGroups) "PASS"
        else s"FAIL: $dupGroups dup-groups (want $nGroups), $single singletons (want ${n - 2 * nGroups})"
    }

    // direct per-pair Jaccard of the planted pairs (linear: one join each
    // way); shared by the minhash and ppjoin checks, built only if needed
    def shingleSets(d: DataFrame) = d
      .select(col("doc_id"), graft.ops.DedupOps.shinglesFromTokens(TextOps.tokens(col("text"))).as("s"))
      .select(col("doc_id"), array_sort(transform(col("s"), x => xxhash64(x))).as("hv"))
    lazy val hvRel = shingleSets(docs).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    lazy val plantedJ = planted
      .join(hvRel.select(col("doc_id").as("a_id"), col("hv").as("ha")), "a_id")
      .join(hvRel.select(col("doc_id").as("b_id"), col("hv").as("hb")), "b_id")
      .withColumn("inter", GraftFunctions.sortedIntersectCount(col("ha"), col("hb")))
      .withColumn("jacc", round(col("inter") /
        (size(col("ha")) + size(col("hb")) - col("inter")), 6))
      .select(col("a_id"), col("b_id"), col("kind"), col("jacc"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var jStats: Array[String] = Array.empty

    // ---- minhash LSH @ tau=0.8: recall vs planted, soundness vs direct J ----
    if (enabled("dedup_minhash_lsh")) {
      val lsh = recordAndDump("dedup_minhash_lsh") { DedupOps.minhashLshPairs(docs, tau = 0.8) }
      jStats = plantedJ.groupBy(col("kind")).agg(min("jacc"), avg("jacc")).collect()
        .map(r => f"${r.getString(0)}: minJ=${r.getDouble(1)}%.4f avgJ=${r.getDouble(2)}%.4f")
      val plantedQualify = plantedJ.filter(col("jacc") >= 0.8)
      val lshMissed = plantedQualify.join(lsh, Seq("a_id", "b_id"), "left_anti").count()
      val lshUnsound = lsh
        .join(hvRel.select(col("doc_id").as("a_id"), col("hv").as("ha")), "a_id")
        .join(hvRel.select(col("doc_id").as("b_id"), col("hv").as("hb")), "b_id")
        .withColumn("inter", GraftFunctions.sortedIntersectCount(col("ha"), col("hb")))
        .withColumn("j2", round(col("inter") / (size(col("ha")) + size(col("hb")) - col("inter")), 6))
        .filter(col("j2") < 0.8 || col("j2") =!= col("jacc")).count()
      val lshN = lsh.count(); val pq = plantedQualify.count()
      checks("dedup_minhash_lsh") =
        if (lshMissed == 0 && lshUnsound == 0)
          s"PASS: $lshN pairs, all $pq qualifying planted found, all recomputed J match"
        else s"FAIL: missed=$lshMissed unsound=$lshUnsound (out=$lshN plantedQ=$pq)"
    }

    // ---- cross-corpus minhash @ tau=0.8: ref side = each group's near
    // copy (doc_id % 10 == 2, the "eval suite"), corpus side = the rest.
    // Planted straddlers (g, g+2) and (g+1, g+2) are the ground truth;
    // (g, g+1) stays within the corpus side and must NOT appear. Also
    // closes the decontamination arithmetic end-to-end: survivors of the
    // LSH decontaminate == corpus minus distinct flagged ids. ----
    if (enabled("dedup_cross")) {
      val corpusSide = docs.filter(pmod(col("doc_id"), lit(10)) =!= 2)
      val refSide = docs.filter(pmod(col("doc_id"), lit(10)) === 2)
      val cross = recordAndDump("dedup_cross") {
        DedupOps.crossMinhashPairs(corpusSide, refSide, tau = 0.8)
      }
      val plantedCross = plantedJ
        .filter(pmod(col("b_id"), lit(10)) === 2 && col("jacc") >= 0.8)
      val crossMissed = plantedCross
        .join(cross.select(col("corpus_id").as("a_id"), col("ref_id").as("b_id")),
          Seq("a_id", "b_id"), "left_anti").count()
      val crossUnsound = cross
        .join(hvRel.select(col("doc_id").as("corpus_id"), col("hv").as("ha")), "corpus_id")
        .join(hvRel.select(col("doc_id").as("ref_id"), col("hv").as("hb")), "ref_id")
        .withColumn("inter", GraftFunctions.sortedIntersectCount(col("ha"), col("hb")))
        .withColumn("j2", round(col("inter") / (size(col("ha")) + size(col("hb")) - col("inter")), 6))
        .filter(col("j2") < 0.8 || col("j2") =!= col("jacc")).count()
      val sideLeak = cross
        .filter(pmod(col("corpus_id"), lit(10)) === 2 || pmod(col("ref_id"), lit(10)) =!= 2)
        .count()
      val flagged = cross.select(col("corpus_id")).distinct().count()
      val surv = CurationPipeline.decontaminateNearDup(corpusSide, refSide, useLsh = true).count()
      val nCorpus = corpusSide.count()
      val pc = plantedCross.count()
      checks("dedup_cross") =
        if (crossMissed == 0 && crossUnsound == 0 && sideLeak == 0 && surv == nCorpus - flagged)
          s"PASS: ${cross.count()} pairs, all $pc qualifying planted straddlers found, sound, " +
            s"sides clean; decontaminate survivors $surv == $nCorpus-$flagged"
        else s"FAIL: missed=$crossMissed unsound=$crossUnsound sideLeak=$sideLeak " +
          s"surv=$surv want=${nCorpus - flagged}"
    }

    // ---- ppjoin @ tau=0.5 (same claim, prefix+positional+sketch path).
    // The pre-flight candidate budget is ARMED here like the sweep script
    // (default 2e8, SPARK_GRAFT_PPJOIN_BUDGET overrides, 0 disarms) —
    // calibrated by MEASUREMENT: honest corpora bound 13.9 M (500 k
    // CorpusGen, probed budget=1) / 47.4 M (sf1 driver corpus, bench
    // counter) while the saturated-vocabulary GC-death regime measured
    // 492 M — a too-dense corpus fails this one stage loudly with the
    // measured bound instead of GC-killing the whole harness JVM. ----
    if (enabled("dedup_jaccard_ppjoin")) guarded("dedup_jaccard_ppjoin") {
      val ppBudget = graft.GraftEnv.ppjoinBudget()
      val pp = recordAndDump("dedup_jaccard_ppjoin") {
        DedupOps.ngramJaccardPairsPrefix(docs, tau = 0.5, maxCandidates = ppBudget) }
      val ppMissed = plantedJ.filter(col("jacc") >= 0.5)
        .join(pp, Seq("a_id", "b_id"), "left_anti").count()
      val ppUnsound = pp
        .join(hvRel.select(col("doc_id").as("a_id"), col("hv").as("ha")), "a_id")
        .join(hvRel.select(col("doc_id").as("b_id"), col("hv").as("hb")), "b_id")
        .withColumn("inter", GraftFunctions.sortedIntersectCount(col("ha"), col("hb")))
        .withColumn("j2", round(col("inter") / (size(col("ha")) + size(col("hb")) - col("inter")), 6))
        .filter(col("j2") < 0.5 || col("j2") =!= col("jacc")).count()
      checks("dedup_jaccard_ppjoin") =
        if (ppMissed == 0 && ppUnsound == 0) s"PASS: ${pp.count()} pairs sound, planted recall 1.0"
        else s"FAIL: missed=$ppMissed unsound=$ppUnsound"
      // The prefix filter's SELECTION, measured: the raw inverted-index
      // pair bound Σ df·(df−1)/2 over the FULL shingle relation — compare
      // against the prefix join's actual output rows in the artifact's
      // "observed" block (ppjoin_prefix_join; the listener fills it
      // asynchronously, so the comparison lives in the dumped JSON, not
      // here). On a realistic-vocabulary corpus the ratio is the filter's
      // whole value proposition.
      checks("ppjoin_selectivity") = "raw_inverted_pair_bound=" +
        DedupOps.pairBound(
          hvRel.select(explode(col("hv")).as("sg"))
            .groupBy(col("sg")).agg(count(lit(1)).as("df")), "df") +
        " (vs observed.ppjoin_prefix_join)"
    }

    // ---- exact inverted-index n-gram Jaccard @ tau=0.5 — the prefix op's
    // UNFILTERED sibling (gate query dedup_ngram_jaccard, uncapped df as
    // in the gate shape): posting-join volume is the raw Σ df·(df−1)/2
    // with no prefix selection, so green here means the exact token-level
    // pair family scales on this corpus WITHOUT the cap crutch; the
    // ppjoin_selectivity line above prices what the prefix filter saves. ----
    if (enabled("dedup_ngram_jaccard")) guarded("dedup_ngram_jaccard") {
      val ng = recordAndDump("dedup_ngram_jaccard") {
        DedupOps.ngramJaccardPairs(docs, tau = 0.5) }
      val ngMissed = plantedJ.filter(col("jacc") >= 0.5)
        .join(ng, Seq("a_id", "b_id"), "left_anti").count()
      val ngUnsound = ng
        .join(hvRel.select(col("doc_id").as("a_id"), col("hv").as("ha")), "a_id")
        .join(hvRel.select(col("doc_id").as("b_id"), col("hv").as("hb")), "b_id")
        .withColumn("inter", GraftFunctions.sortedIntersectCount(col("ha"), col("hb")))
        .withColumn("j2", round(col("inter") / (size(col("ha")) + size(col("hb")) - col("inter")), 6))
        .filter(col("j2") < 0.5 || col("j2") =!= col("jacc")).count()
      checks("dedup_ngram_jaccard") =
        if (ngMissed == 0 && ngUnsound == 0)
          s"PASS: ${ng.count()} pairs sound, planted recall 1.0"
        else s"FAIL: missed=$ngMissed unsound=$ngUnsound"
    }

    lazy val fps = DedupOps.simhashFingerprints(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // ---- simhash @ hamming<=6: planted pairs within radius must appear ----
    if (enabled("dedup_simhash")) {
    val sim = record("dedup_simhash") { DedupOps.simhashPairs(docs) }
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val plantedH = planted
      .join(fps.select(col("doc_id").as("a_id"), col("fp").as("fa")), "a_id")
      .join(fps.select(col("doc_id").as("b_id"), col("fp").as("fb")), "b_id")
      .withColumn("h", GraftFunctions.hamming64(col("fa"), col("fb")))
    val plantedWithin = plantedH.filter(col("h") <= 6)
    val simMissed = plantedWithin.select(col("a_id"), col("b_id"))
      .join(sim, Seq("a_id", "b_id"), "left_anti").count()
    val simUnsound = sim
      .join(fps.select(col("doc_id").as("a_id"), col("fp").as("fa")), "a_id")
      .join(fps.select(col("doc_id").as("b_id"), col("fp").as("fb")), "b_id")
      .filter(GraftFunctions.hamming64(col("fa"), col("fb")) =!= col("hamming") ||
        col("hamming") > 6).count()
    val pw = plantedWithin.count()
    checks("dedup_simhash") =
      if (simMissed == 0 && simUnsound == 0)
        s"PASS: ${sim.count()} pairs, all $pw planted-within-radius found, hammings recomputed"
      else s"FAIL: missed=$simMissed unsound=$simUnsound"
    }

    // ---- idf-weighted simhash (r12): same banding soundness against the
    // WEIGHTED fingerprint relation — recall is defined w.r.t. the pairs
    // within radius of these fps (the banding claim), hammings recomputed
    // per pair; exact planted copies are fp-identical so their recall is a
    // hard 1.0 under any weighting ----
    if (enabled("dedup_simhash_idf")) {
      val fpw = DedupOps.simhashIdfFingerprints(docs)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val simw = record("dedup_simhash_idf") {
        DedupOps.simhashPairsFromFingerprints(fpw)
      }.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val plantedHw = planted
        .join(fpw.select(col("doc_id").as("a_id"), col("fp").as("fa")), "a_id")
        .join(fpw.select(col("doc_id").as("b_id"), col("fp").as("fb")), "b_id")
        .withColumn("h", GraftFunctions.hamming64(col("fa"), col("fb")))
      val withinW = plantedHw.filter(col("h") <= 6)
      val missedW = withinW.select(col("a_id"), col("b_id"))
        .join(simw, Seq("a_id", "b_id"), "left_anti").count()
      val unsoundW = simw
        .join(fpw.select(col("doc_id").as("a_id"), col("fp").as("fa")), "a_id")
        .join(fpw.select(col("doc_id").as("b_id"), col("fp").as("fb")), "b_id")
        .filter(GraftFunctions.hamming64(col("fa"), col("fb")) =!= col("hamming") ||
          col("hamming") > 6).count()
      val exactMissedW = planted.filter(col("kind") === "exact")
        .select(col("a_id"), col("b_id"))
        .join(simw, Seq("a_id", "b_id"), "left_anti").count()
      val pwW = withinW.count()
      checks("dedup_simhash_idf") =
        if (missedW == 0 && unsoundW == 0 && exactMissedW == 0)
          s"PASS: ${simw.count()} pairs, all $pwW planted-within-radius found " +
            "(exact planted all at hamming 0), hammings recomputed"
        else s"FAIL: missed=$missedW unsound=$unsoundW exactMissed=$exactMissedW"
      fpw.unpersist()
    }

    // ---- levenshtein prefix dedup: planted share identical 48-char
    // prefixes AND first tokens → all planted pairs must appear at dist 0 ----
    if (enabled("dedup_levenshtein")) {
    val lev = record("dedup_levenshtein") { DedupOps.levenshteinPairs(docs) }
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val levMissed = planted.select(col("a_id"), col("b_id"))
      .join(lev, Seq("a_id", "b_id"), "left_anti").count()
    val pfx = docs.select(col("doc_id"), substring(col("text"), 1, 48).as("pfx"))
    val levUnsound = lev
      .join(pfx.select(col("doc_id").as("a_id"), col("pfx").as("pa")), "a_id")
      .join(pfx.select(col("doc_id").as("b_id"), col("pfx").as("pb")), "b_id")
      .filter(GraftFunctions.boundedLevenshtein(col("pa"), col("pb"), 12) =!= col("dist"))
      .count()
    checks("dedup_levenshtein") =
      if (levMissed == 0 && levUnsound == 0) s"PASS: ${lev.count()} pairs, planted recall 1.0, dists recomputed"
      else s"FAIL: missed=$levMissed unsound=$levUnsound"
    }

    // ---- substring-level dedup: planted exact copies must surface as
    // FULL-DOC spans (every window of an exact copy occurs ≥2×, so the
    // merged span is [1, n_chars] on both sides); near copies qualify
    // when they DIRECTLY share a 40-char window with their partner
    // (computed linearly per planted pair), and every qualifying doc must
    // then carry at least one span ----
    if (enabled("dedup_substring")) {
      val spans = recordAndDump("dedup_substring") { DedupOps.substringDupSpans(docs) }
      val lens = docs.select(col("doc_id"), length(col("text")).cast("long").as("n_chars"))
      val exactIds = planted.filter(col("kind") === "exact")
        .select(explode(array(col("a_id"), col("b_id"))).as("doc_id")).distinct()
      val fullSpan = spans.join(lens, "doc_id")
        .filter(col("span_start") === 1 && col("span_end") === col("n_chars"))
        .select(col("doc_id")).distinct()
      val exactMissed = exactIds.join(fullSpan, Seq("doc_id"), "left_anti").count()
      val w = docs
        .select(col("doc_id"),
          explode(sequence(lit(1), length(col("text")) - lit(39))).as("pos"),
          col("text").substr(col("pos"), lit(40)).as("win"))
        .select(col("doc_id"), col("win"))
      val nearPairs = planted.filter(col("kind") === "near").select(col("a_id"), col("b_id"))
      val qualDocs = nearPairs
        .join(w.select(col("doc_id").as("a_id"), col("win")), "a_id")
        .join(w.select(col("doc_id").as("b_id"), col("win")), Seq("b_id", "win"))
        .select(explode(array(col("a_id"), col("b_id"))).as("doc_id")).distinct()
      val spanned = spans.select(col("doc_id")).distinct()
      val nearMissed = qualDocs.join(spanned, Seq("doc_id"), "left_anti").count()
      val nQual = qualDocs.count(); val nEx = exactIds.count()
      checks("dedup_substring") =
        if (exactMissed == 0 && nearMissed == 0)
          s"PASS: ${spans.count()} spans; all $nEx exact-planted docs have the full-doc span; " +
            s"all $nQual near docs sharing a 40-char window carry a span"
        else s"FAIL: exactMissed=$exactMissed nearMissed=$nearMissed"
    }

    // ---- dedup groups end-to-end (pairs → connected components) ----
    if (enabled("dedup_groups")) {
      val pairsPath = s"$dir/_check_dedup_minhash_lsh.parquet"
      // SPARK_GRAFT_SCALE_GROUPS_FROM_DUMP=1: resolve components over the
      // already-materialized minhash pairs instead of regenerating them
      // in-plan. At 5 M docs the composed form needs pair-generation's
      // spill high-water AND the CC iterations on one box's disk at once;
      // the staged form is what a cluster pipeline does anyway (pairs are
      // a materialized intermediate). Timed as dedup_groups_cc to keep the
      // metric honestly scoped to the CC + assignment stages.
      if (sys.env.get("SPARK_GRAFT_SCALE_GROUPS_FROM_DUMP").contains("1") &&
          new java.io.File(s"$pairsPath/_SUCCESS").exists())
        record("dedup_groups_cc") {
          val pairs = spark.read.parquet(pairsPath).select(col("a_id"), col("b_id"))
          val comp = DedupOps.connectedComponents(pairs)
          docs.select(col("doc_id"))
            .join(comp.select(col("id").as("doc_id"), col("comp")), Seq("doc_id"), "left")
            .select(col("doc_id"), coalesce(col("comp"), col("doc_id")).as("group_id"))
        }
      else record("dedup_groups") { DedupOps.dedupGroups(docs, tau = 0.8) }
    }

    // ---- embedding near-dup @ tau=0.8 ----
    if (enabled("embedding_neardup")) {
    val nd = record("embedding_neardup") { SimilarityOps.embeddingNearDup(spark, emb, tau = 0.8) }
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val plantedCos = planted
      .join(emb.select(col("vec_id").as("a_id"), col("embedding").as("ea")), "a_id")
      .join(emb.select(col("vec_id").as("b_id"), col("embedding").as("eb")), "b_id")
      .withColumn("cos", round(GraftFunctions.cosineSim(col("ea"), col("eb")), 5))
    val plantedCosQ = plantedCos.filter(col("cos") >= 0.8)
    val ndMissed = plantedCosQ.select(col("a_id"), col("b_id"))
      .join(nd, Seq("a_id", "b_id"), "left_anti").count()
    val ndUnsound = nd
      .join(emb.select(col("vec_id").as("a_id"), col("embedding").as("ea")), "a_id")
      .join(emb.select(col("vec_id").as("b_id"), col("embedding").as("eb")), "b_id")
      .filter(round(GraftFunctions.cosineSim(col("ea"), col("eb")), 5) =!= col("cos") ||
        col("cos") < 0.8).count()
    val pcq = plantedCosQ.count()
    checks("embedding_neardup") =
      if (ndMissed == 0 && ndUnsound == 0)
        s"PASS: ${nd.count()} pairs, all $pcq qualifying planted found, cosines recomputed"
      else s"FAIL: missed=$ndMissed unsound=$ndUnsound"
    }

    // ---- SemDedup end-to-end (near-dup pairs → components → canonical):
    // structural arithmetic is fully checkable at any scale — keep ⇔ id is
    // the group minimum, survivors == distinct groups, and every planted
    // pair whose recomputed cosine clears tau must land in ONE group ----
    if (enabled("dedup_semantic")) {
      val sd = recordAndDump("dedup_semantic") {
        SimilarityOps.semanticDedup(spark, emb, tau = 0.8)
      }
      val malformed = sd.filter(col("group_id") > col("vec_id") ||
        col("keep") =!= (col("vec_id") === col("group_id"))).count()
      val plantedCosQ2 = planted
        .join(emb.select(col("vec_id").as("a_id"), col("embedding").as("ea")), "a_id")
        .join(emb.select(col("vec_id").as("b_id"), col("embedding").as("eb")), "b_id")
        .filter(round(GraftFunctions.cosineSim(col("ea"), col("eb")), 5) >= 0.8)
        .select(col("a_id"), col("b_id"))
      val split = plantedCosQ2
        .join(sd.select(col("vec_id").as("a_id"), col("group_id").as("ga")), "a_id")
        .join(sd.select(col("vec_id").as("b_id"), col("group_id").as("gb")), "b_id")
        .filter(col("ga") =!= col("gb")).count()
      val keeps = sd.filter(col("keep")).count()
      val groups = sd.select(col("group_id")).distinct().count()
      val pq = plantedCosQ2.count()
      checks("dedup_semantic") =
        if (malformed == 0 && split == 0 && keeps == groups)
          s"PASS: $keeps survivors of $n, all $pq qualifying planted pairs grouped, canonical arithmetic holds"
        else s"FAIL: malformed=$malformed splitPairs=$split keeps=$keeps groups=$groups"
    }

    // ---- SemDedup ANN scale path: same structural arithmetic; recall
    // split by planted kind — EXACT pairs are identical vectors (sign-LSH
    // collides in every table: recall MUST be 1.0), NEAR pairs ride the
    // collision curve (1-(1-0.795^bits)^tables ≈ 0.98 at 8×4 for
    // cos ≥ 0.8) so the check is a ≥0.9 floor plus the measured number in
    // the artifact. Precision needs no sampling: the verify stage IS exact
    // cosine, so only structure + recall are at stake. ----
    if (enabled("dedup_semantic_ann")) guarded("dedup_semantic_ann") {
      // default measured sizing: the walk charges its bound-measurement
      // aggregates to the recorded op time — honest, the sizing IS part
      // of the op at scale (see selfJoinBitsMeasured; the 100 M-pair
      // default budget ≈ 55 GB through the verify sort, sized to a
      // single-box harness disk; a cluster raises it per aggregate
      // executor disk)
      val sa = recordAndDump("dedup_semantic_ann") {
        SimilarityOps.semanticDedupAnn(spark, emb, tau = 0.8)
      }
      val malformed = sa.filter(col("group_id") > col("vec_id") ||
        col("keep") =!= (col("vec_id") === col("group_id"))).count()
      def groupedCount(kind: String) = {
        val p = planted.filter(col("kind") === kind)
          .join(emb.select(col("vec_id").as("a_id"), col("embedding").as("ea")), "a_id")
          .join(emb.select(col("vec_id").as("b_id"), col("embedding").as("eb")), "b_id")
          .filter(round(GraftFunctions.cosineSim(col("ea"), col("eb")), 5) >= 0.8)
          .select(col("a_id"), col("b_id"))
        val together = p
          .join(sa.select(col("vec_id").as("a_id"), col("group_id").as("ga")), "a_id")
          .join(sa.select(col("vec_id").as("b_id"), col("group_id").as("gb")), "b_id")
          .filter(col("ga") === col("gb")).count()
        (together, p.count())
      }
      val (exTog, exAll) = groupedCount("exact")
      val (nrTog, nrAll) = groupedCount("near")
      val nearRecall = if (nrAll == 0) 1.0 else nrTog.toDouble / nrAll
      val keeps = sa.filter(col("keep")).count()
      val groups = sa.select(col("group_id")).distinct().count()
      checks("dedup_semantic_ann") =
        if (malformed == 0 && exTog == exAll && nearRecall >= 0.9 && keeps == groups)
          f"PASS: $keeps survivors of $n, all $exAll exact planted grouped, near recall $nearRecall%.4f ($nrTog/$nrAll)"
        else
          f"FAIL: malformed=$malformed exact=$exTog/$exAll nearRecall=$nearRecall%.4f keeps=$keeps groups=$groups"
    }

    // ---- quality classifier: distributed training at scale against a
    // corpus-derived planted rule. The synthetic corpus has per-doc hashed
    // topics (no shared stopword head — 98% of docs contain NONE of the
    // global top words, measured), so the rule is density of a HASH-DEFINED
    // half of the vocabulary (murmur3(word) even) vs the corpus median
    // density: exactly linearly representable (margin = Σ_marker tf − θ),
    // ~50/50 by the median choice, and every vocabulary word recurs often
    // enough to earn its own weight. Checks: the trained model recovers the
    // rule (accuracy ≥ 0.95), predictions are margin-consistent, and
    // neither class is degenerate ----
    if (enabled("quality_classifier")) {
      val t = TextOps.tokens(col("text"))
      val markerCnt = size(filter(t, x => pmod(hash(x), lit(2)) === 0))
      val ratioDf = docs.select((markerCnt.cast("double") /
        greatest(size(t), lit(1)).cast("double")).as("r"))
      val thr = ratioDf.stat.approxQuantile("r", Array(0.5), 0.001).head
      val label = (markerCnt.cast("double") >= lit(thr) * size(t).cast("double") &&
        size(t) > 0).cast("int")
      val clf = record("quality_classifier") {
        // D = 2^17: the synthetic vocabulary (50 k words) outgrows the gate
        // default 2^15 — at 1.5 words/slot the hash collisions blur the rule
        Classifier.qualityClassifier(spark, docs, d = 1 << 17,
          labelOverride = Some(label))
      }
      val rows = clf.agg(
        count(lit(1)).as("n"),
        sum(col("y")).as("pos"),
        sum(when(col("pred") === col("y"), 1L).otherwise(0L)).as("correct"),
        // margin column is rounded to 5 decimals, pred derives from the
        // raw margin — tolerance keeps exact-boundary docs out of the check
        sum(when((col("margin") > 1e-4 && col("pred") === 0) ||
                 (col("margin") < -1e-4 && col("pred") === 1), 1L).otherwise(0L))
          .as("inconsistent")).collect().head
      val (nAll, pos, correct, incons) =
        (rows.getLong(0), rows.getLong(1), rows.getLong(2), rows.getLong(3))
      val acc = correct.toDouble / math.max(1L, nAll)
      val posFrac = pos.toDouble / math.max(1L, nAll)
      checks("quality_classifier") =
        if (nAll == n && acc >= 0.95 && incons == 0 &&
            posFrac >= 0.1 && posFrac <= 0.9)
          f"PASS: acc=$acc%.4f posFrac=$posFrac%.3f thr=$thr%.5f over $nAll docs"
        else f"FAIL: n=$nAll acc=$acc%.4f posFrac=$posFrac%.3f inconsistent=$incons"
    }

    // ---- unigram tokenizer: the tokenizer-family scale shape — training
    // cost is dictionary-bounded (driver EM over DISTINCT words; the one
    // corpus-sized stage is the word-count shuffle), encoding map-side.
    // Checks at full corpus: losslessness (piece concat rebuilds every
    // doc's squashed text) and per-doc piece-count bounds ----
    if (enabled("unigram_token_count")) {
      var model: Seq[(String, Double)] = Nil
      val uni = record("unigram_token_count") {
        model = TextAnalysis.trainUnigram(docs)
        TextAnalysis.unigramTokenCount(docs, model)
      }
      val enc = TextAnalysis.unigramEncode(docs, model)
        .join(docs.select(col("doc_id"), col("text")), "doc_id")
      val lossy = enc.filter(concat_ws("", col("unigram_tokens")) =!=
        regexp_replace(col("text"), "\\s+", "")).count()
      val badBounds = uni
        .join(docs.select(col("doc_id"),
          length(regexp_replace(col("text"), "\\s+", "")).cast("long").as("nc")), "doc_id")
        .filter(col("n_unigram_tokens") < col("n_tokens") ||
          col("n_unigram_tokens") > col("nc")).count()
      val nRows = uni.count()
      checks("unigram_token_count") =
        if (lossy == 0 && badBounds == 0 && nRows == n)
          s"PASS: ${model.size}-piece model, all $nRows docs lossless, counts within [words, chars]"
        else s"FAIL: lossy=$lossy badBounds=$badBounds rows=$nRows"
    }

    // ---- ANN: brute force is ground truth for ivf/lsh recall at scale ----
    if (enabled("ann")) {
    val bf = record("ann_bruteforce_topk") { SimilarityOps.bruteForceTopK(spark, emb) }
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ivf = record("ann_ivf_topk") {
      SimilarityOps.ivfTopK(spark, emb, nlist = 512, nprobe = 16,
        centroidStride = math.max(1, (n / 1024L).toInt))
    }.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // auto-sized LSH params (corpus-measured — closes the fixed-default
    // recall gap), gated at the repo's ≥0.95 bar with candidate volume
    // logged so recall is priced, not just claimed
    val lp = SimilarityOps.autoTuneLsh(spark, emb)
    val lshTop = record("ann_lsh_topk") {
      SimilarityOps.annLshTopK(spark, emb, tables = lp.tables, bits = lp.bits, flips = lp.flips)
    }.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (lshIdx, lshProbes) = SimilarityOps.lshBucketRelations(spark, emb,
      tables = lp.tables, bits = lp.bits, flips = lp.flips)
    val lshCand = lshIdx.join(lshProbes, "bucket").filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id")).distinct().count()
    val bfKeys = bf.select(col("q_id"), col("n_id"))
    val ivfRecall = ivf.select(col("q_id"), col("n_id")).join(bfKeys, Seq("q_id", "n_id")).count() /
      math.max(1.0, bfKeys.count().toDouble)
    val lshRecall = lshTop.select(col("q_id"), col("n_id")).join(bfKeys, Seq("q_id", "n_id")).count() /
      math.max(1.0, bfKeys.count().toDouble)
    checks("ann_recall") = (if (lshRecall >= 0.95) "PASS: " else "FAIL: ") +
      f"ivf@16/512=${ivfRecall}%.2f " +
      f"lsh@${lp.tables}x${lp.bits}+${lp.flips}p=${lshRecall}%.2f (candidates=$lshCand) vs brute force"
    }

    // ---- r9: persisted-signature-store ingest dedup at scale ----
    // Split: ingest batch = doc_id % 10 ∈ {1, 8, 9} — each group's EXACT
    // COPY (g+1, which must drop against its base g on the existing side,
    // J = 1) plus two independents per group (which must survive); existing
    // corpus = the rest. Closed form: survivors == |batch| − nGroups. The
    // perf claim is the AMORTIZATION: the per-batch cost against a
    // PERSISTED store excludes the historical corpus's shingle+perm pass,
    // which the recompute path pays every batch. Correctness gate: that
    // closed form, and store-path == recompute-path id for id.
    if (enabled("dedup_store")) {
      val m = pmod(col("doc_id"), lit(10))
      val batch = docs.filter(m === 1 || m >= 8)
      val existing = docs.filter(m =!= 1 && m < 8)
      val storeDir = s"$dir/_minhash_store"
      val (buildSec, _) = time(1) {
        DedupOps.minhashWriteStore(existing, storeDir)
      }
      times("minhash_store_build") = buildSec
      System.err.println(f"[scale] minhash_store_build      $buildSec%8.2f s")
      val viaStore = recordAndDump("dedup_incremental_store") {
        CurationPipeline.incrementalDedupFromStore(batch, existing, storeDir)
      }
      val recomputed = recordAndDump("dedup_incremental_recompute") {
        CurationPipeline.incrementalDedup(batch, existing)
      }
      val diff = viaStore.exceptAll(recomputed).count() +
        recomputed.exceptAll(viaStore).count()
      val nSurv = viaStore.count()
      val wantSurv = batch.count() - nGroups
      checks("dedup_incremental_store") =
        if (diff == 0 && nSurv == wantSurv)
          f"PASS: store-path survivors ($nSurv == batch-nGroups) == recompute-path, id for id; " +
            f"batch ${times("dedup_incremental_store")}%.1f s vs recompute " +
            f"${times("dedup_incremental_recompute")}%.1f s (store build $buildSec%.1f s amortized)"
        else s"FAIL: diff=$diff surv=$nSurv want=$wantSurv"
    }

    // ---- r9: paragraph-level boilerplate dedup at scale ----
    // Planted exact pairs are whole-doc duplicates: every paragraph of the
    // base doc appears verbatim in its copy, so BOTH docs must drop fully
    // (boilerplate has no canonical owner). Near copies and independents
    // aren't gated: post-edit window alignment isn't closed-form.
    if (enabled("dedup_paragraph")) {
      val para = recordAndDump("dedup_paragraph") { DedupOps.dedupParagraphs(docs) }
      val exactIds = planted.filter(col("kind") === "exact")
        .select(explode(array(col("a_id"), col("b_id"))).as("doc_id")).distinct()
      val notFull = para.join(exactIds, "doc_id")
        .filter(col("n_dropped") =!= col("n_paras") || col("text_clean") =!= "").count()
      val fullDropAll = para.filter(col("n_dropped") === col("n_paras")).count()
      checks("dedup_paragraph") =
        if (notFull == 0)
          s"PASS: all ${2 * nGroups} planted exact-copy docs fully boilerplate-dropped ($fullDropAll full-drop docs total)"
        else s"FAIL: $notFull planted exact-copy docs not fully dropped"
    }

    // ---- r9: Lloyd k-means + cluster-balanced sampling at scale ----
    if (enabled("kmeans")) {
      val assigned = recordAndDump("kmeans_cluster") {
        SimilarityOps.kmeansCluster(spark, emb, k = 64, iters = 5)
      }
      // GATES: (a) planted exact twins are bit-identical vectors -> the
      // argmax must assign them identically, always; (b) spherical-Lloyd
      // monotonicity -> the trained model's objective (mean assignment
      // cosine) must not be below the strided init's. Near-twin
      // co-clustering is reported as a STAT, not gated: how many near
      // pairs straddle a boundary is a property of k vs the 2000 planted
      // centers (k=64 arbitrarily bisects some), not of the implementation.
      val aSide = assigned.select(col("vec_id").as("a_id"), col("cluster").as("ca"))
      val bSide = assigned.select(col("vec_id").as("b_id"), col("cluster").as("cb"))
      val j = planted.join(aSide, "a_id").join(bSide, "b_id")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val exBad = j.filter(col("kind") === "exact" && col("ca") =!= col("cb")).count()
      val nearTot = j.filter(col("kind") === "near").count()
      val nearSame = j.filter(col("kind") === "near" && col("ca") === col("cb")).count()
      j.unpersist()
      val nearFrac = nearSame / math.max(1.0, nearTot.toDouble)
      val objTrained = assigned.agg(avg("cos")).collect()(0).getDouble(0)
      def objOf(cs: Array[Array[Float]]): Double =
        SimilarityOps.assignFromCentroidRelation(spark, emb,
            SimilarityOps.kmeansCentroidRelation(spark, cs))
          .agg(avg("cos")).collect()(0).getDouble(0)
      val objInit = objOf(SimilarityOps.trainKmeans(emb, k = 64, iters = 0))
      // r10: the kmeans||-style init comparison artifact — init objective
      // and post-Lloyd objective for both inits; parallel's own Lloyd
      // monotonicity is gated alongside strided's.
      val objInitPar = objOf(
        SimilarityOps.trainKmeans(emb, k = 64, iters = 0, init = "parallel"))
      val objTrainedPar = objOf(
        SimilarityOps.trainKmeans(emb, k = 64, iters = 5, init = "parallel"))
      checks("kmeans_cluster") =
        if (exBad == 0 && objTrained >= objInit - 1e-6 &&
            objTrainedPar >= objInitPar - 1e-6)
          f"PASS: exact twins co-cluster 100%%, Lloyd objective strided $objInit%.4f -> $objTrained%.4f, kmeans|| $objInitPar%.4f -> $objTrainedPar%.4f (near-twin co-cluster stat: $nearFrac%.4f at k=64)"
        else f"FAIL: exact-split=$exBad obj strided $objInit%.4f -> $objTrained%.4f kmeans|| $objInitPar%.4f -> $objTrainedPar%.4f nearFrac=$nearFrac%.4f"

      // the rank IS the check: per-cluster ranks must be a 1..size
      // permutation and keeps = min(quota, size) — this exercises the
      // two-phase cumsum's bucket arithmetic at full corpus width
      val quota = math.max(1L, n / 128)
      val bal = recordAndDump("cluster_balanced_sample") {
        CurationPipeline.clusterBalancedSample(spark, emb, quota = quota, k = 64)
      }
      val perC = bal.groupBy("cluster").agg(
        count(lit(1)).as("sz"), max("rnk").as("mx"),
        countDistinct("rnk").as("dr"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("keeps"))
      val badC = perC.filter(col("mx") =!= col("sz") || col("dr") =!= col("sz") ||
        col("keeps") =!= least(lit(quota), col("sz"))).count()
      checks("cluster_balanced_sample") =
        if (badC == 0)
          s"PASS: every cluster's ranks are a 1..size permutation, keeps = min($quota, size)"
        else s"FAIL: $badC clusters with broken rank/keep arithmetic"
    }

    // ---- tile-sizing evidence: the measured worst blocks the adaptive
    // sub-splits respond to (recomputed with the ops' own formulas) ----
    if (enabled("tile_sizing")) {
    val simFpBand = {
      val distinctFp = fps.select(col("fp")).distinct()
      val banded = distinctFp.select(col("fp"),
          explode(sequence(lit(0), lit(6))).as("band"))
        .withColumn("lo", (col("band") * 64 / 7).cast("int"))
        .withColumn("hi", ((col("band") + 1) * 64 / 7).cast("int"))
        .withColumn("band_bits",
          expr("shiftrightunsigned(fp, lo) & (shiftleft(1L, hi - lo) - 1)"))
      banded.groupBy(col("band"), col("band_bits")).count().agg(max("count")).collect()(0).getLong(0)
    }
    val levBlock = docs.select(element_at(TextOps.tokens(col("text")), 1).as("tok"),
        (length(substring(col("text"), 1, 48)) / 12).cast("long").as("lb"))
      .groupBy("tok", "lb").count().agg(max("count")).collect()(0).getLong(0)
    checks("tile_sizing") =
      s"simhash worst band bucket=$simFpBand (nsub=${math.max(1L, (simFpBand + 2047) / 2048)}), " +
        s"lev worst block=$levBlock (nsub=${math.max(1L, (levBlock + 511) / 512)})"
    }

    // corpus stamp (the Bench convention): counts, text bytes, and an
    // order-invariant id+CONTENT fingerprint, so every number in the
    // artifact is attributable to a corpus fingerprint without forensics
    // (content in the hash since r12 — the id-only form collided across
    // same-id corpora with different text, see Bench.corpusStamp)
    val corpus = try {
      def fp(cs: org.apache.spark.sql.Column*) =
        sum(xxhash64(cs: _*).cast("decimal(38,0)")).cast("string")
      val d = docs.agg(count(lit(1)), sum(length(col("text"))),
        fp(col("doc_id"), col("text"))).head()
      val e = emb.agg(count(lit(1)), fp(col("vec_id"), col("embedding"))).head()
      s"""{"docs":${d.getLong(0)},"text_bytes":${d.getLong(1)},""" +
      s""""docs_fp":"${d.getString(2)}","vecs":${e.getLong(0)},""" +
      s""""vecs_fp":"${e.getString(1)}"}"""
    } catch { case ex: Throwable =>
      "\"err: " + ex.toString.replace("\"", "'") + "\"" }
    val obsJson = {
      import scala.jdk.CollectionConverters._
      observed.asScala.toSeq.sortBy(_._1)
        .map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    }
    val total = times.values.filter(_ >= 0).sum
    val json = new StringBuilder
    json.append("{\"metric\":\"scale_dedup\",\"value\":")
      .append(f"$total%.3f")
      .append(",\"unit\":\"sec\",\"n_docs\":").append(n)
      .append(",\"generate_sec\":").append(f"$genSec%.3f")
      .append(",\"corpus\":").append(corpus)
      .append(",\"observed\":").append(obsJson)
      .append(",\"runs\":").append(runs)
      .append(",\"oracle\":\"planted ground truth + per-pair recomputation (DuckDB all-pairs oracle deliberately skipped: quadratic in the oracle, not the operator)\"")
      .append(",\"queries\":{")
    json.append(times.map { case (k, v) => s""""$k":${f"$v%.3f"}""" }.mkString(","))
    json.append("},\"checks\":{")
    json.append(checks.map { case (k, v) => s""""$k":"${v.replace("\"", "'")}"""" }.mkString(","))
    json.append("},\"planted_stats\":\"").append(jStats.mkString("; ").replace("\"", "'"))
    json.append("\"}")
    println(json.toString())
    spark.stop()
  }
}
