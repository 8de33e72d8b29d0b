package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import graft.ops._
import graft.ops.TextOps.spreadScan

/** Driver contract — see /root/repo/SURVEY.md §2 (inventory) and §7 (plan).
  *
  * Every implemented operator is exposed as a `queries` entry taking
  * (spark, sfDir); each has a DuckDB oracle twin in `oracleSql` unless the op
  * is not SQL-expressible (then a ScalaTest spec covers it — see §2 notes).
  * Column names and rounding are aligned on both sides: the driver's compare
  * sorts columns by name and hashes values.
  */
object SparkEntry {

  /** Base dir for all Verify-mode materialization dumps. Env-overridable
    * (SPARK_GRAFT_DUMP_BASE) so two concurrent gate runs don't clobber each
    * other's dumps; the oracle SQL interpolates the same vals, so queries
    * and oracles always agree on the path within one process. */
  private val DumpBase = sys.env.getOrElse("SPARK_GRAFT_DUMP_BASE", "/tmp")

  /** Where the Verify-mode dedup_simhash run materializes its fingerprints;
    * the oracle SQL brute-forces all-pairs hamming over this same dump (the
    * path is baked into the static SQL, so it must be stable across runs). */
  val SimhashFpDumpDir = s"$DumpBase/graft_simhash_fp"

  /** dedup_simhash_idf's Verify-mode fingerprint dump — same contract as
    * [[SimhashFpDumpDir]], separate path so the two simhash gate queries
    * never clobber each other's dumps within one Verify run. */
  val SimhashIdfFpDumpDir = s"$DumpBase/graft_simhash_idf_fp"

  /** Verify-mode bucket/probe relation dumps for the two bucketed ANN
    * variants — same materialize-and-reread pattern as the simhash dump:
    * the Spark result is recomputed FROM these relations and the oracle
    * recovers candidates/scores/ranks over the identical parquet, turning
    * the bucket-join + scoring + ranking stages oracle-checked. */
  val IvfBucketDumpDir = s"$DumpBase/graft_ivf_buckets"
  val IvfProbeDumpDir = s"$DumpBase/graft_ivf_probes"
  val LshBucketDumpDir = s"$DumpBase/graft_lsh_buckets"
  val LshProbeDumpDir = s"$DumpBase/graft_lsh_probes"
  val SemAnnBucketDumpDir = s"$DumpBase/graft_sem_ann_buckets"

  /** SPARK_GRAFT_PPJOIN_BUDGET, accepting both integer and the
    * scientific-notation form the docs use (2e8). DEFAULT ARMED at the
    * sweep scripts' measured calibration (2e8 candidate rows — honest
    * corpora bound 13.9 M/47.4 M at 500 k/sf1 while the saturated-
    * vocabulary GC-death regime measured 492 M): the gate corpus is tiny,
    * so the pre-flight bound costs one cheap aggregate there, and the
    * guard stays exercised on every Verify/Bench run instead of rotting
    * sweep-only. Explicit 0 disarms. */
  private def ppjoinBudget: Long =
    sys.env.get("SPARK_GRAFT_PPJOIN_BUDGET").map(_.trim.toDouble.toLong)
      .getOrElse(200000000L)
  val RollingHashDumpDir = s"$DumpBase/graft_rolling_hashes"
  val HllRegDumpDir = s"$DumpBase/graft_hll_registers"
  val ApproxRegDumpDir = s"$DumpBase/graft_approx_registers"
  val BpeWordDumpDir = s"$DumpBase/graft_bpe_words"
  val ClfWeightsDumpDir = s"$DumpBase/graft_clf_weights"
  val ClfFeatsDumpDir = s"$DumpBase/graft_clf_feats"
  val CmsMatrixDumpDir = s"$DumpBase/graft_cms_matrix"
  val CmsCandDumpDir = s"$DumpBase/graft_cms_cand"
  val UnigramWordDumpDir = s"$DumpBase/graft_unigram_words"
  val KmeansCentroidDumpDir = s"$DumpBase/graft_kmeans_centroids"
  val KmeansBalancedDumpDir = s"$DumpBase/graft_kmeans_balanced"
  val IvfIndexDir = s"$DumpBase/graft_ivf_index"
  val IvfIndexProbeDumpDir = s"$DumpBase/graft_ivf_index_probes"
  val MinhashStoreDir = s"$DumpBase/graft_minhash_store"

  /** The committed contract-honoring ffmpeg fixture the gate's
    * `video_frames_bridge` query streams payloads through (overridable so
    * a host with a REAL ffmpeg can point the same gate query at it). */
  val FfmpegFixtureBin = sys.env.getOrElse("SPARK_GRAFT_FFMPEG_FIXTURE",
    "/root/repo/scripts/fake_ffmpeg.sh")

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    AggOps.q1PricingSummary(Tables.lineitem(spark, dir))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // §2.2 SQL analytics surface
    "q1_pricing_summary" -> ((s, d) => AggOps.q1PricingSummary(Tables.lineitem(s, d))),
    "q3_shipping_priority" -> ((s, d) =>
      AggOps.q3ShippingPriority(Tables.customer(s, d), Tables.orders(s, d), Tables.lineitem(s, d))),
    "q5_local_supplier" -> ((s, d) =>
      AggOps.q5LocalSupplier(Tables.region(s, d), Tables.nation(s, d), Tables.customer(s, d),
        Tables.supplier(s, d), Tables.orders(s, d), Tables.lineitem(s, d))),
    "q6_forecast_revenue" -> ((s, d) => AggOps.q6ForecastRevenue(Tables.lineitem(s, d))),
    "q4_order_priority" -> ((s, d) =>
      AggOps.q4OrderPriority(Tables.orders(s, d), Tables.lineitem(s, d))),
    "q7_volume_shipping" -> ((s, d) =>
      AggOps.q7VolumeShipping(Tables.supplier(s, d), Tables.lineitem(s, d),
        Tables.orders(s, d), Tables.customer(s, d), Tables.nation(s, d))),
    "q9_nation_revenue" -> ((s, d) =>
      AggOps.q9NationRevenue(Tables.supplier(s, d), Tables.lineitem(s, d),
        Tables.part(s, d), Tables.orders(s, d), Tables.nation(s, d))),
    "q14_promo_share" -> ((s, d) =>
      AggOps.q14PromoShare(Tables.lineitem(s, d), Tables.part(s, d))),
    "q2_min_cost_supplier" -> ((s, d) =>
      AggOps.q2MinCostSupplier(s, Tables.part(s, d), Tables.supplier(s, d),
        Tables.lineitem(s, d), Tables.nation(s, d), Tables.region(s, d))),
    "q8_market_share" -> ((s, d) =>
      AggOps.q8MarketShare(Tables.lineitem(s, d), Tables.orders(s, d),
        Tables.customer(s, d), Tables.supplier(s, d), Tables.nation(s, d),
        Tables.region(s, d))),
    "q15_top_supplier" -> ((s, d) =>
      AggOps.q15TopSupplier(Tables.supplier(s, d), Tables.lineitem(s, d))),
    "q16_supplier_count" -> ((s, d) =>
      AggOps.q16SupplierCount(s, Tables.part(s, d), Tables.supplier(s, d),
        Tables.lineitem(s, d))),
    "q17_small_qty_revenue" -> ((s, d) =>
      AggOps.q17SmallQtyRevenue(s, Tables.part(s, d), Tables.lineitem(s, d))),
    "q20_promo_suppliers" -> ((s, d) =>
      AggOps.q20PromoSuppliers(Tables.supplier(s, d), Tables.nation(s, d),
        Tables.lineitem(s, d), Tables.part(s, d))),
    "q11_important_parts" -> ((s, d) =>
      AggOps.q11ImportantParts(s, Tables.supplier(s, d), Tables.lineitem(s, d))),
    "q12_returnflag_priority" -> ((s, d) =>
      AggOps.q12ReturnflagPriority(Tables.orders(s, d), Tables.lineitem(s, d))),
    "q13_customer_distribution" -> ((s, d) =>
      AggOps.q13CustomerDistribution(Tables.customer(s, d), Tables.orders(s, d))),
    "q19_discounted_revenue" -> ((s, d) =>
      AggOps.q19DiscountedRevenue(Tables.part(s, d), Tables.lineitem(s, d))),
    "q21_lone_returners" -> ((s, d) =>
      AggOps.q21LoneReturners(s, Tables.supplier(s, d), Tables.orders(s, d),
        Tables.lineitem(s, d))),
    "q22_global_sales" -> ((s, d) =>
      AggOps.q22GlobalSales(s, Tables.customer(s, d), Tables.orders(s, d))),
    "q18_large_orders" -> ((s, d) =>
      AggOps.q18LargeOrders(Tables.customer(s, d), Tables.orders(s, d), Tables.lineitem(s, d))),
    "q10_returned_items" -> ((s, d) =>
      AggOps.q10ReturnedItems(Tables.customer(s, d), Tables.orders(s, d), Tables.lineitem(s, d),
        Tables.nation(s, d))),
    "join_semi" -> ((s, d) => JoinOps.semiJoinBigOrders(Tables.orders(s, d), Tables.lineitem(s, d))),
    "join_anti" -> ((s, d) => JoinOps.antiJoinIdleCustomers(Tables.customer(s, d), Tables.orders(s, d))),
    "mapside_join" -> ((s, d) => JoinOps.broadcastJoinBrandRevenue(Tables.lineitem(s, d), Tables.part(s, d))),
    "reduce_side_join" -> ((s, d) => JoinOps.outerJoinCustomerOrders(Tables.customer(s, d), Tables.orders(s, d))),
    "window_topk_per_group" -> ((s, d) => AggOps.windowTopKPerGroup(Tables.orders(s, d))),
    "window_running_sum" -> ((s, d) => AggOps.windowRunningSum(Tables.orders(s, d))),
    "agg_rollup" -> ((s, d) => AggOps.aggRollup(Tables.lineitem(s, d))),
    "agg_cube" -> ((s, d) => AggOps.aggCube(Tables.lineitem(s, d))),
    "pivot_events" -> ((s, d) => AggOps.pivotEvents(Tables.events(s, d))),
    "unpivot_events" -> ((s, d) => AggOps.unpivotEvents(Tables.events(s, d))),
    "set_ops" -> ((s, d) => AggOps.setOps(Tables.orders(s, d))),
    "distinct_count" -> ((s, d) => AggOps.distinctCount(Tables.lineitem(s, d))),
    "orders_by_month" -> ((s, d) => AggOps.ordersByMonth(Tables.orders(s, d))),
    "db_pageview" -> ((s, d) => AggOps.dbPageview(Tables.events(s, d))),
    "json_props_agg" -> ((s, d) => AggOps.jsonPropsAgg(Tables.events(s, d))),
    "asof_join" -> ((s, d) => AggOps.asofLastPurchase(Tables.events(s, d))),
    "range_join" -> ((s, d) => JoinOps.rangeJoinValueBuckets(Tables.events(s, d))),
    "range_join_bigbig" -> ((s, d) => JoinOps.rangeJoinBigBigRevenue(Tables.events(s, d))),
    "correlated_subquery" -> ((s, d) => AggOps.correlatedMinPerType(s, Tables.part(s, d))),
    // Transparent sketch (register-relation HLL + deterministic-sample
    // order-statistic quantiles): under Verify the registers are dumped and
    // the result recomputed FROM the dump, so distinct estimates AND
    // quantiles are oracle-checked end to end. The Spark-native
    // approx_count_distinct/approx_percentile variant stays as the
    // production API (AggOps.approxSketch, accuracy-spec'd in SketchSpec).
    "approx_sketch" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      if (sys.props.contains("graft.fp.dump")) {
        AggOps.approxSketchRegisters(li).coalesce(1)
          .write.mode("overwrite").parquet(ApproxRegDumpDir)
        AggOps.approxSketchFromRegisters(li, s.read.parquet(ApproxRegDumpDir))
      } else AggOps.approxSketchTransparent(li)
    }),
    "sessionize" -> ((s, d) => AggOps.sessionize(Tables.events(s, d))),
    "sessionize_native" -> ((s, d) => AggOps.sessionizeNative(Tables.events(s, d))),
    "events_sliding" -> ((s, d) => AggOps.eventsSliding(Tables.events(s, d))),
    "funnel_conversion" -> ((s, d) => AggOps.funnelConversion(Tables.events(s, d))),
    "value_histogram" -> ((s, d) => AggOps.valueHistogram(Tables.events(s, d))),
    "value_outliers" -> ((s, d) => AggOps.valueOutliers(Tables.events(s, d))),
    "trailing_window_sum" -> ((s, d) => AggOps.trailingWindowSum(Tables.events(s, d))),
    "window_rank_functions" -> ((s, d) => AggOps.windowRankFunctions(Tables.events(s, d))),
    "grouping_sets_report" -> ((s, d) => AggOps.groupingSetsReport(s, Tables.lineitem(s, d))),
    "events_gapfill" -> ((s, d) => AggOps.eventsGapfill(Tables.events(s, d))),
    "percentiles_by_type" -> ((s, d) => AggOps.percentilesByType(Tables.events(s, d))),
    "value_stats_by_type" -> ((s, d) => AggOps.valueStatsByType(Tables.events(s, d))),
    "user_retention" -> ((s, d) => AggOps.userRetention(Tables.events(s, d))),
    // Transparent-register HLL (p=12): under Verify the daily register
    // relation is dumped and the result recomputed FROM the dump, so the
    // max-union re-aggregation AND the harmonic-mean estimate are
    // oracle-checked (DuckDB runs the identical arithmetic over the same
    // registers). The DataSketches-builtin variant stays as the production
    // API (AggOps.hllReaggregate, spec-compared).
    "hll_reaggregate" -> ((s, d) => {
      val ev = Tables.events(s, d)
      if (sys.props.contains("graft.fp.dump")) {
        AggOps.hllDailyRegisters(ev).coalesce(1)
          .write.mode("overwrite").parquet(HllRegDumpDir)
        AggOps.hllReaggregateFromRegisters(s.read.parquet(HllRegDumpDir))
      } else AggOps.hllReaggregateTransparent(ev)
    }),
    "events_hourly" -> ((s, d) => AggOps.eventsHourly(Tables.events(s, d))),
    // §2.1 MapReduce example surface
    "wordcount" -> ((s, d) => TextOps.wordCount(Tables.documents(s, d))),
    "grep_count" -> ((s, d) => TextOps.grepCount(Tables.documents(s, d))),
    "multifile_wordcount" -> ((s, d) => TextOps.multiSourceWordCount(Seq(
      Tables.documents(s, d).select("text"), Tables.part(s, d).select("p_name")))),
    "word_stats" -> ((s, d) => TextOps.wordStats(Tables.documents(s, d))),
    "topk_words" -> ((s, d) => TextOps.topKWords(Tables.documents(s, d))),
    "spacesaving_topk" -> ((s, d) => TextOps.spaceSavingTopWords(Tables.documents(s, d))),
    "word_histogram" -> ((s, d) => TextOps.wordHistogram(Tables.documents(s, d))),
    "inverted_index" -> ((s, d) => TextOps.invertedIndex(Tables.documents(s, d))),
    "global_sort" -> ((s, d) => SortOps.globalSortTopN(Tables.lineitem(s, d))),
    "sort_validate" -> ((s, d) => SortOps.sortValidate(s, Tables.lineitem(s, d))),
    "secondary_sort" -> ((s, d) => SortOps.secondarySort(Tables.events(s, d))),
    "datagen" -> ((s, _) => DataGen.generate(s)),
    "pi_estimate" -> ((s, _) => DataGen.piEstimate(s)),
    // distributed-compute examples (BBP digits, dancing-links search): input-
    // free like datagen/pi_estimate; oracles are closed-form literal ground
    // truth (pi's hex expansion; published pentomino tiling counts), so the
    // gate proves the distributed computation lands exactly on it
    "bbp_pi_digits" -> ((s, _) => ComputeOps.piDigits(s, nDigits = 128)),
    "pentomino" -> ((s, _) => PuzzleOps.pentominoCounts(s)),
    // one-sided game (no reflections; 18 pieces, 90-cell board) — reference
    // analog dancing/OneSidedPentomino.java:1; published 3x30 count = 46
    "pentomino_one_sided" -> ((s, _) =>
      PuzzleOps.pentominoCounts(s, Seq((3, 30)), oneSided = true)),
    "sudoku" -> ((s, _) =>
      PuzzleOps.sudokuSolveAll(PuzzleOps.sudokuPuzzlesUnique(s, 200, blanks = 40))),
    "streaming_pipe" -> ((s, d) => PipeOps.pipeThrough(
      s, Tables.documents(s, d), "doc_id", "text", Seq("tr", "a-z", "A-Z"))),
    // hadoop-streaming combiner stage (r11, PipeCombiner.java analog):
    // per-partition pre-shuffle awk partial sums -> shuffled awk reducer;
    // the oracle is the plain GROUP BY count the two-stage pipe must equal
    "streaming_pipe_combined" -> ((s, d) => {
      val sumAwk = Seq("awk", "-F", "\t",
        "{ if (NR>1 && $1!=k) print k\"\\t\"s; if ($1!=k) { k=$1; s=0 }; s+=$2 } " +
        "END { if (NR>0) print k\"\\t\"s }")
      PipeOps.pipeThroughCombined(s,
        Tables.events(s, d).select(col("event_type"),
          org.apache.spark.sql.functions.lit("1").as("one")),
        "event_type", "one", sumAwk, sumAwk)
    }),
    // hadoop-extras Logalyzer analog (r10): grep + column-wise sortSpec
    // over synthesized log lines (ISO ts, event type, integer value from
    // events — a pure function of the table, so the oracle rebuilds the
    // corpus verbatim); pos is the two-phase global rank over the
    // composite (sort column ++ line) key, replayed by the oracle's
    // single-window row_number over the identical composite.
    "log_grep_sort" -> ((s, d) => {
      import org.apache.spark.sql.functions.{concat_ws, date_format, floor}
      val lines = Tables.events(s, d).select(concat_ws(" ",
        date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss"),
        col("event_type"),
        floor(col("value")).cast("long").cast("string")).as("line"))
      TextOps.logGrepSort(lines, pattern = "click|view", sortColumns = Seq(1))
    }),
    // IO ops gate-checked for content preservation: the op materializes a
    // new layout, the query returns the re-read rows, and the oracle is the
    // SOURCE table itself — a copy that drops/duplicates/mangles any row
    // hash-mismatches. Layout claims (file counts, partition dirs) live in
    // the IO specs; the gate proves the data survived.
    "distcp_relayout" -> ((s, d) => {
      val out = s"$DumpBase/graft_relayout_dump"
      graft.sources.IO.relayout(s, s"$d/lineitem.parquet", out, Some("l_returnflag"))
      val cols = Tables.lineitem(s, d).columns
      s.read.parquet(out).select(cols.head, cols.tail: _*)
    }),
    "compaction" -> ((s, d) => {
      val frag = s"$DumpBase/graft_frag_dump"
      val out = s"$DumpBase/graft_compacted_dump"
      val ev = s.read.parquet(s"$d/events.parquet")
      ev.repartition(64).write.mode("overwrite").parquet(frag) // many-small-files input
      graft.sources.IO.compact(s, frag, out)
      s.read.parquet(out).select(ev.columns.head, ev.columns.tail: _*)
    }),
    // §2.3 LLM-data-pipeline operators
    "dedup_exact" -> ((s, d) => DedupOps.dedupExact(Tables.documents(s, d))),
    // the shingle family spreads a narrow scan itself, inside shingleDocs
    // (under its persist, so the spread exchange runs once); no call-site
    // spreadScan here or on the other shingle-family entries
    "dedup_ngram_jaccard" -> ((s, d) => DedupOps.ngramJaccardPairs(Tables.documents(s, d))),
    "dedup_substring" -> ((s, d) => DedupOps.substringDupSpans(Tables.documents(s, d))),
    "substring_dup_stats" -> ((s, d) => DedupOps.substringDupStats(Tables.documents(s, d))),
    "dedup_minhash_lsh" -> ((s, d) => DedupOps.minhashLshPairs(Tables.documents(s, d))),
    "dedup_groups" -> ((s, d) => DedupOps.dedupGroups(Tables.documents(s, d))),
    "dedup_levenshtein" -> ((s, d) => DedupOps.levenshteinPairs(Tables.documents(s, d))),
    // Under Verify (graft.fp.dump set) the fingerprints are materialized to a
    // fixed path and the pair stage re-reads them, so the DuckDB oracle can
    // brute-force all-pairs hamming over the IDENTICAL fingerprint relation —
    // turning the banding stage from spec-trusted into oracle-checked. Bench
    // and library callers take the direct single-plan path.
    "dedup_simhash" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      if (sys.props.contains("graft.fp.dump")) {
        DedupOps.simhashFingerprints(docs).coalesce(1)
          .write.mode("overwrite").parquet(SimhashFpDumpDir)
        DedupOps.simhashPairsFromFingerprints(s.read.parquet(SimhashFpDumpDir))
      } else DedupOps.simhashPairs(docs)
    }),
    // Idf-weighted twin: same dump pattern, the oracle brute-forces
    // all-pairs hamming over the WEIGHTED fingerprint relation (weight
    // computation itself is spec-covered; what the oracle proves is that
    // the banding stage recalls every within-radius pair of these fps).
    "dedup_simhash_idf" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      if (sys.props.contains("graft.fp.dump")) {
        DedupOps.simhashIdfFingerprints(docs).coalesce(1)
          .write.mode("overwrite").parquet(SimhashIdfFpDumpDir)
        DedupOps.simhashPairsFromFingerprints(s.read.parquet(SimhashIdfFpDumpDir))
      } else DedupOps.simhashIdfPairs(docs)
    }),
    "embedding_neardup" -> ((s, d) => SimilarityOps.embeddingNearDup(s, Tables.embeddings(s, d))),
    "ann_bruteforce_topk" -> ((s, d) => SimilarityOps.bruteForceTopK(s, Tables.embeddings(s, d))),
    // Under Verify (graft.fp.dump set) the bucket/probe relations are
    // materialized and the result recomputed from them, so the DuckDB
    // oracle can recover candidates + score + rank over the identical
    // relations (simhash-dump pattern). Bench/library take the direct path.
    "ann_ivf_topk" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      if (sys.props.contains("graft.fp.dump")) {
        val (buckets, probes) = SimilarityOps.ivfBucketRelations(s, emb)
        buckets.coalesce(1).write.mode("overwrite").parquet(IvfBucketDumpDir)
        probes.coalesce(1).write.mode("overwrite").parquet(IvfProbeDumpDir)
        SimilarityOps.topKFromBucketDumps(s, emb,
          s.read.parquet(IvfBucketDumpDir), s.read.parquet(IvfProbeDumpDir), k = 5)
      } else SimilarityOps.ivfTopK(s, emb)
    }),
    "ann_lsh_topk" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      if (sys.props.contains("graft.fp.dump")) {
        val (buckets, probes) = SimilarityOps.lshBucketRelations(s, emb)
        buckets.coalesce(1).write.mode("overwrite").parquet(LshBucketDumpDir)
        probes.coalesce(1).write.mode("overwrite").parquet(LshProbeDumpDir)
        SimilarityOps.topKFromBucketDumps(s, emb,
          s.read.parquet(LshBucketDumpDir), s.read.parquet(LshProbeDumpDir), k = 5)
      } else SimilarityOps.annLshTopK(s, emb)
    }),
    // The index build (centroids + bucket-partitioned postings) is part of
    // the query body on purpose: an index op's honest cost IS build+probe.
    // Under Verify the probe relation is additionally dumped so the oracle
    // reads probes as data instead of replaying the argmax's unrounded
    // tie-breaking (the ann_ivf_topk dump convention); the ORACLE's
    // postings come from the persisted index itself.
    "ann_ivf_persisted" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val queries = emb.filter(col("vec_id") < 10)
      // Bench/direct runs build under a SEPARATE dir: the oracle reads the
      // Verify-built index from IvfIndexDir, and a Bench run between the
      // Verify dump and the DuckDB compare must not clobber it (it may run
      // at a different SF entirely).
      val dir = if (sys.props.contains("graft.fp.dump")) IvfIndexDir
                else s"${IvfIndexDir}_bench"
      SimilarityOps.ivfWriteIndex(s, emb, dir)
      if (sys.props.contains("graft.fp.dump")) {
        SimilarityOps.ivfIndexProbes(s, dir, queries)
          .select("q_id", "bucket")
          .coalesce(1).write.mode("overwrite").parquet(IvfIndexProbeDumpDir)
      }
      SimilarityOps.ivfQueryIndex(s, dir, queries)
    }),
    // The next snapshot is DERIVED from the corpus inside the query (drop
    // doc_id%17==0, edit %13==1, re-add %29==3 under shifted ids), so the
    // oracle replays the derivation and the diff from the same table.
    "corpus_diff" -> ((s, d) => {
      val old = Tables.documents(s, d)
      CurationPipeline.corpusDiff(old, CurationPipeline.deriveNextSnapshot(old))
    }),
    "dataset_card" -> ((s, d) => CurationPipeline.datasetCard(Tables.documents(s, d))),
    "lang_id" -> ((s, d) => TextAnalysis.langId(spreadScan(Tables.documents(s, d)))),
    "quality_score" -> ((s, d) => TextAnalysis.qualityScore(spreadScan(Tables.documents(s, d)))),
    "token_count" -> ((s, d) => TextAnalysis.tokenCount(spreadScan(Tables.documents(s, d)))),
    "doc_fingerprint" -> ((s, d) => TextAnalysis.docFingerprint(Tables.documents(s, d))),
    "tfidf_top_terms" -> ((s, d) => TextAnalysis.tfidfTopTerms(Tables.documents(s, d))),
    "ngram_counts" -> ((s, d) => TextAnalysis.ngramCounts(Tables.documents(s, d))),
    "mixture_sample" -> ((s, d) => TextAnalysis.mixtureSample(Tables.documents(s, d))),
    "repetition_score" -> ((s, d) => TextAnalysis.repetitionScore(spreadScan(Tables.documents(s, d)))),
    // Dump-mode: materialize every window hash and recompute the per-doc min
    // FROM the dump, so the DuckDB oracle reduces the identical relation —
    // the min-sampling reduction becomes oracle-checked (the polynomial hash
    // itself stays spec-covered; it IS the dumped relation).
    "rolling_fingerprint" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      if (sys.props.contains("graft.fp.dump")) {
        import org.apache.spark.sql.functions.{explode, length, min}
        graft.functions.GraftFunctions.register(s)
        docs.select(col("doc_id"),
            explode(graft.functions.GraftFunctions.rollingWindowHashes(col("text"), 16)).as("h"))
          .coalesce(1).write.mode("overwrite").parquet(RollingHashDumpDir)
        s.read.parquet(RollingHashDumpDir)
          .groupBy(col("doc_id")).agg(min(col("h")).as("rh"))
          .join(docs.select(col("doc_id"), length(col("text")).cast("long").as("n_chars")), "doc_id")
          .select(col("doc_id"), col("rh"), col("n_chars"))
      } else TextAnalysis.rollingFingerprint(docs)
    }),
    // The exact op's pre-flight volume guard is ARMED BY DEFAULT (2e8
    // candidate rows; SPARK_GRAFT_PPJOIN_BUDGET overrides, 0 disarms): a
    // corpus too dense for the prefix join fails fast with the measured
    // bound and the LSH/df-cap remediations instead of GC-killing the JVM
    // (the sf10 saturated-vocabulary skip, NOTES_PERF r11).
    // shingleDocs spreads a narrow scan for this op too. A call-site spread
    // had measured a loss here (sf0.1, 1.3-1.6 s → 1.6-2.2 s) while the
    // shingle filter ran before the exchange; with the text-only filter it
    // does not (4 cores, warm runs, cache cleared between: sf0.1 2.8-3.7 →
    // 2.7-3.3 s, the 10k-doc perfbench corpus 7.0-9.9 → 5.3-7.7 s).
    "dedup_jaccard_ppjoin" -> ((s, d) => DedupOps.ngramJaccardPairsPrefix(Tables.documents(s, d),
      maxCandidates = ppjoinBudget)),
    "multimodal_meta" -> ((s, d) => MultimodalOps.multimodalMeta(Tables.documents(s, d))),
    // REAL-decoder round trips: payloads are synthesized from closed-form
    // per-doc parameters, run through the actual JDK codecs / container
    // parsers, and every decoded field is predicted by the SQL oracle.
    "audio_decode" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.functions.round
      // repartition the 8-byte ids BEFORE the synth+decode map: the corpus
      // is a single parquet row group (unsplittable — the scan is ONE task
      // at any core count, guide §2.5 "input skew"), and the decode cost is
      // per-row CPU that must spread; the shuffle moves ids only, never
      // payloads (§8: decide/spread on light rows, move heavy bytes once).
      val media = Tables.documents(s, d).select(col("doc_id")).as[Long]
        .repartition(s.sparkContext.defaultParallelism)
        .map(id => MultimodalOps.MediaRecord(id,
          MultimodalOps.synthWav((100 + id % 400).toInt, 8000f, ((id % 9) + 1) / 10.0),
          "audio"))
      MultimodalOps.decodeAudio(s, media).toDF()
        .select(col("media_id"), col("format"), col("sample_rate"), col("channels"),
          col("bits"), col("n_frames"), round(col("duration_sec"), 6).as("duration_sec"),
          round(col("rms"), 6).as("rms"))
    }),
    "video_meta" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.functions.round
      // id-only repartition before the synth+parse map — single-row-group
      // input, one scan task otherwise (§2.5); ids are 8 bytes/row
      val media = Tables.documents(s, d).select(col("doc_id")).as[Long]
        .repartition(s.sparkContext.defaultParallelism)
        .map { id =>
          val w = 160 + 16 * (id % 20).toInt
          val h = 120 + 16 * (id % 15).toInt
          val bytes =
            if (id % 2 == 0) MultimodalOps.synthMp4(w, h, 1000L, 1000L + 100L * (id % 30))
            else MultimodalOps.synthAvi(w, h, 40000L, 250L + id % 100, streams = 2)
          MultimodalOps.MediaRecord(id, bytes, "video")
        }
      MultimodalOps.parseVideoMeta(s, media).toDF()
        .select(col("media_id"), col("container"), col("width"), col("height"),
          round(col("duration_sec"), 6).as("duration_sec"), col("n_tracks"))
    }),
    // MJPEG-in-AVI frame decode round trip: per-doc synthetic AVIs whose
    // frames are real JPEGs of constant grays planted on a 16-step grid;
    // the decoded mean luminance recovers the grid level exactly (JPEG
    // round-trip error ±3 ≪ half the grid step), which the SQL oracle
    // predicts in closed form — frame sampling, dimensions, and the fact
    // that REAL pixel decode happened are all oracle-checked.
    "video_frames" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.functions.round
      // every 10th doc: the round trip ENCODES each synthetic frame as a
      // real JPEG before decoding it, so the oracle query's cost is encode-
      // bound — 1/10 of the docs keeps hundreds of decoded frames of
      // coverage without the suite paying ~30k JPEG encodes (oracle filter
      // matches)
      // column-level filter (codegen, no typed deserialization) + id-only
      // repartition before the JPEG encode+decode map (§2.5 — the scan is
      // one task on this single-row-group corpus)
      val media = Tables.documents(s, d).select(col("doc_id"))
        .filter(col("doc_id") % 10 === 0).as[Long]
        .repartition(s.sparkContext.defaultParallelism)
        .map { id =>
          val w = 48 + 16 * (id % 4).toInt
          val h = 32 + 16 * (id % 3).toInt
          val nf = 4 + (id % 5).toInt
          val lumas = (0 until nf).map(f => 16 + 16 * ((id + f) % 13).toInt)
          MultimodalOps.MediaRecord(id, MultimodalOps.synthMjpegAvi(w, h, 40000L, lumas), "video")
        }
      MultimodalOps.decodeVideoFrames(s, media, everyK = 2).toDF()
        .select(col("media_id"), col("frame_idx").cast("long").as("frame_idx"),
          col("width").cast("long").as("width"), col("height").cast("long").as("height"),
          round((col("mean_luma") - 16.0) / 16.0).cast("long").as("luma_level"))
    }),
    // External-decoder bridge IN THE GATE (r10): payloads stream through the
    // committed contract-honoring fixture (scripts/fake_ffmpeg.sh — answers
    // the -version probe, emits three 16x16 gray rasters whose constant
    // fill is (payload_len + i) % 256), so the non-MJPEG bridge path
    // (subprocess plumbing, writer thread, raw-raster arithmetic, frame_idx
    // reconstruction) executes under Verify with a closed-form DuckDB
    // oracle. doc_id < 200 bounds the subprocess count at any SF. A real
    // ffmpeg honors the same rawvideo-gray byte contract.
    "video_frames_bridge" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.functions.round
      // doc_id < 200 as a COLUMN predicate (pushes into the parquet scan —
      // PushedFilters row-group skipping at scale, §6) and an id-only
      // repartition so the 200 subprocess spawns run across every core
      // instead of serially in the single scan task (§2.5): measured 2.56 s
      // → the spawn cost /= cores
      val media = Tables.documents(s, d).select(col("doc_id"))
        .filter(col("doc_id") < 200L).as[Long]
        .repartition(s.sparkContext.defaultParallelism)
        .map(id => MultimodalOps.MediaRecord(id,
          Array.tabulate(((id % 400) + 100).toInt)(i => (i * 7 + id).toByte), "video"))
      MultimodalOps.decodeVideoFramesFfmpeg(s, media, bin = FfmpegFixtureBin,
          everyK = 4, maxFramesPerVideo = 8, frameDim = 16).toDF()
        .select(col("media_id"), col("frame_idx").cast("long").as("frame_idx"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("frame_bytes").cast("long").as("frame_bytes"),
          round(col("mean_luma"), 6).as("mean_luma"), col("real_decode"))
    }),
    // REAL pixel resize round trip: constant-gray PNGs of closed-form dims
    // → bomb-guarded decode → bilinear resample into the aspect-kept 64-box
    // (shrink-only integer arithmetic) → lossless re-encode; the oracle
    // predicts the box arithmetic exactly and the constant gray survives
    // resampling + PNG bit-for-bit, so real pixel work is oracle-checked.
    "image_resize" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.functions.round
      // same shape as video_frames: column filter + id-only repartition
      // before the PNG encode/decode map (§2.5)
      val media = Tables.documents(s, d).select(col("doc_id"))
        .filter(col("doc_id") % 10 === 0).as[Long]
        .repartition(s.sparkContext.defaultParallelism)
        .map { id =>
          val w = 40 + 16 * (id % 7).toInt
          val h = 24 + 16 * (id % 5).toInt
          MultimodalOps.MediaRecord(id,
            MultimodalOps.synthPng(w, h, 16 + 16 * (id % 13).toInt), "image")
        }
      MultimodalOps.resizeImages(s, media, maxDim = 64).toDF()
        .select(col("media_id"), col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          round((col("mean_luma") - 16.0) / 16.0).cast("long").as("luma_level"))
    }),
    "pii_scrub" -> ((s, d) => TextAnalysis.piiScrub(spreadScan(Tables.documents(s, d)))),
    "decontaminate" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      CurationPipeline.decontaminate(
        docs.filter(col("doc_id") % 100 =!= 0),
        docs.filter(col("doc_id") % 100 === 0))
    }),
    // Same split + same output as decontaminate, via the bloom-prefilter
    // scale path (no broadcast; the blob replaces the gram-set broadcast).
    "decontaminate_bloom" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      CurationPipeline.decontaminateBloom(
        docs.filter(col("doc_id") % 100 =!= 0),
        docs.filter(col("doc_id") % 100 === 0))
    }),
    // Cross-corpus near-dup: corpus = the 18 non-reference sources, ref =
    // src0/src1 (the "eval suite"); exact inverted-index form, the LSH
    // bucketed twin (identical output at tau=0.8, recall 1.0 — the
    // dedup_minhash_lsh precedent), and the fuzzy-decontamination survivor
    // set built on the exact pairs.
    "dedup_cross_jaccard" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      DedupOps.crossJaccardPairs(
        docs.filter(!col("source").isin("src0", "src1")),
        docs.filter(col("source").isin("src0", "src1")))
    }),
    "dedup_cross_minhash" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      DedupOps.crossMinhashPairs(
        docs.filter(!col("source").isin("src0", "src1")),
        docs.filter(col("source").isin("src0", "src1")))
    }),
    // Both composites take the LSH candidate path (useLsh=true): output
    // identical to the exact form at tau=0.8 (CrossDedupSpec pins it; the
    // 500 k/5 M planted runs prove recall 1.0) and ~11x faster at sf1 —
    // the oracle still replays the EXACT inverted-index definition, so the
    // gate independently re-derives every pair.
    "decontaminate_neardup" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      CurationPipeline.decontaminateNearDup(
        docs.filter(!col("source").isin("src0", "src1")),
        docs.filter(col("source").isin("src0", "src1")), useLsh = true)
    }),
    "leakage_free_split" -> ((s, d) =>
      CurationPipeline.leakageFreeSplit(Tables.documents(s, d))),
    // new batch = ids not divisible by 5, existing corpus = the rest —
    // an id split so the gate exercises BOTH drop reasons (batch-internal
    // smaller-id pairs and collisions against the existing side)
    "dedup_incremental" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      CurationPipeline.incrementalDedup(
        docs.filter(col("doc_id") % 5 =!= 0),
        docs.filter(col("doc_id") % 5 === 0))
    }),
    // Same split, routed through the PERSISTED signature store (built here
    // from the existing side — the build is part of the query body, the
    // ivf_persisted convention). Survivors must be id-for-id identical to
    // dedup_incremental, so both share one oracle.
    "dedup_incremental_store" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val existing = docs.filter(col("doc_id") % 5 === 0)
      DedupOps.minhashWriteStore(existing, MinhashStoreDir)
      CurationPipeline.incrementalDedupFromStore(
        docs.filter(col("doc_id") % 5 =!= 0), existing, MinhashStoreDir)
    }),
    "temperature_sample" -> ((s, d) =>
      TextAnalysis.temperatureSample(Tables.documents(s, d))),
    "contamination_report" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      CurationPipeline.contaminationReport(
        docs.filter(!col("source").isin("src0", "src1")),
        docs.filter(col("source").isin("src0", "src1")), useLsh = true)
    }),
    "pack_sequences" -> ((s, d) => CurationPipeline.packSequences(Tables.documents(s, d))),
    "curation_pipeline" -> ((s, d) => CurationPipeline.curate(Tables.documents(s, d))),
    "curation_full" -> ((s, d) => CurationPipeline.curateFull(Tables.documents(s, d))),
    "global_shuffle" -> ((s, d) => CurationPipeline.globalShuffle(Tables.documents(s, d))),
    "quota_sample" -> ((s, d) => CurationPipeline.quotaSample(Tables.documents(s, d))),
    "gopher_rules" -> ((s, d) => TextAnalysis.gopherRules(spreadScan(Tables.documents(s, d)))),
    // spreadScan composes with the op's framed-relation persist: the spread
    // exchange runs once (the persist materialization), so the multi-
    // consumer recompute that made spreadScan a loss on other multi-pass
    // plans does not apply here
    "dedup_paragraph" -> ((s, d) => DedupOps.dedupParagraphs(spreadScan(Tables.documents(s, d)))),
    "chunk_overlap" -> ((s, d) => CurationPipeline.chunkOverlap(Tables.documents(s, d))),
    // Under Verify the trained centroid relation is materialized and the
    // assignment recomputed FROM it (the IVF bucket-dump pattern), so the
    // DuckDB oracle replays the identical argmax-cosine assignment; the
    // Lloyd trainer itself stays spec-covered — it IS the dumped relation.
    "kmeans_cluster" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      if (sys.props.contains("graft.fp.dump")) {
        val cs = SimilarityOps.trainKmeans(emb)
        SimilarityOps.kmeansCentroidRelation(s, cs)
          .coalesce(1).write.mode("overwrite").parquet(KmeansCentroidDumpDir)
        SimilarityOps.assignFromCentroidRelation(s, emb,
          s.read.parquet(KmeansCentroidDumpDir))
      } else SimilarityOps.kmeansCluster(s, emb)
    }),
    "text_normalize" -> ((s, d) => TextAnalysis.textNormalize(spreadScan(Tables.documents(s, d)))),
    "embedding_quantize" -> ((s, d) => SimilarityOps.embeddingQuantize(Tables.embeddings(s, d))),
    // Same dump-recovery pattern as kmeans_cluster, with its OWN centroid
    // dump (Lloyd training is run-deterministic only given partials order,
    // so each consumer materializes exactly the model it was checked on).
    "cluster_balanced_sample" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      if (sys.props.contains("graft.fp.dump")) {
        val cs = SimilarityOps.trainKmeans(emb)
        SimilarityOps.kmeansCentroidRelation(s, cs)
          .coalesce(1).write.mode("overwrite").parquet(KmeansBalancedDumpDir)
        CurationPipeline.clusterBalancedSampleFrom(s, emb,
          s.read.parquet(KmeansBalancedDumpDir))
      } else CurationPipeline.clusterBalancedSample(s, emb)
    }),
    "lm_perplexity" -> ((s, d) => TextAnalysis.lmPerplexity(Tables.documents(s, d))),
    // Under Verify the per-distinct-word BPE encodings are materialized and
    // the per-doc counts recomputed FROM the dump, so the DuckDB oracle
    // re-runs the tokenize-join-aggregate over the identical relation (the
    // materialized-relation pattern of dedup_simhash/rolling_fingerprint;
    // the BPE loop itself stays spec-covered — it IS the dumped relation).
    "bpe_token_count" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val merges = TextAnalysis.trainBpe(docs)
      if (sys.props.contains("graft.fp.dump")) {
        import org.apache.spark.sql.functions.{coalesce, count, explode, lit, size, sum}
        graft.functions.GraftFunctions.register(s)
        docs.select(explode(TextOps.tokens(col("text"))).as("word")).distinct()
          .select(col("word"),
            size(graft.functions.GraftFunctions.bpeEncode(col("word"), merges))
              .cast("long").as("n_sub"))
          .coalesce(1).write.mode("overwrite").parquet(BpeWordDumpDir)
        val agg = docs.select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("word"))
          .join(s.read.parquet(BpeWordDumpDir), "word")
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_tokens"), sum(col("n_sub")).as("n_bpe_tokens"))
        docs.select(col("doc_id")).join(agg, Seq("doc_id"), "left")
          .select(col("doc_id"), coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
            coalesce(col("n_bpe_tokens"), lit(0L)).as("n_bpe_tokens"))
      } else TextAnalysis.bpeTokenCount(docs, merges)
    }),
    "dedup_semantic" -> ((s, d) => SimilarityOps.semanticDedup(s, Tables.embeddings(s, d))),
    // ANN (sign-LSH) scale path of dedup_semantic: candidates from the
    // multi-table bucket self-join, exact-cosine verify, same CC tail.
    // Under Verify the (vec_id, bucket) relation is dumped and both sides
    // recover pairs FROM it (the ann_lsh_topk convention) — candidate
    // join, verify, and grouping are oracle-checked; the bucketing
    // function is the dumped relation itself (spec-covered).
    "dedup_semantic_ann" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      if (sys.props.contains("graft.fp.dump")) {
        // same measured-walk bits AND budget as the operator, so the
        // dumped relation IS the one the direct path buckets with
        SimilarityOps.lshIndexRelation(s, emb,
            bits = SimilarityOps.selfJoinBitsMeasured(s, emb,
              SimilarityOps.DefaultSemAnnPairBudget)._1)
          .coalesce(1).write.mode("overwrite").parquet(SemAnnBucketDumpDir)
        SimilarityOps.semanticDedupFromBuckets(s, emb, s.read.parquet(SemAnnBucketDumpDir))
      } else SimilarityOps.semanticDedupAnn(s, emb)
    }),
    // Unigram-LM (SentencePiece) twin of bpe_token_count — identical
    // dump-relation oracle pattern: the per-distinct-word Viterbi
    // segmentations are materialized and the per-doc counts recomputed
    // FROM the dump, so DuckDB re-runs tokenize-join-aggregate over the
    // identical relation; the Viterbi/EM loop itself is spec-covered.
    "unigram_token_count" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val model = TextAnalysis.trainUnigram(docs)
      if (sys.props.contains("graft.fp.dump")) {
        import org.apache.spark.sql.functions.{coalesce, count, explode, lit, size, sum}
        graft.functions.GraftFunctions.register(s)
        docs.select(explode(TextOps.tokens(col("text"))).as("word")).distinct()
          .select(col("word"),
            size(graft.functions.GraftFunctions.unigramEncode(col("word"), model))
              .cast("long").as("n_sub"))
          .coalesce(1).write.mode("overwrite").parquet(UnigramWordDumpDir)
        val agg = docs.select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("word"))
          .join(s.read.parquet(UnigramWordDumpDir), "word")
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_tokens"), sum(col("n_sub")).as("n_unigram_tokens"))
        docs.select(col("doc_id")).join(agg, Seq("doc_id"), "left")
          .select(col("doc_id"), coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
            coalesce(col("n_unigram_tokens"), lit(0L)).as("n_unigram_tokens"))
      } else TextAnalysis.unigramTokenCount(docs, model)
    }),
    // fastText-style hashed-feature logistic classifier (label = the
    // stopword-density quality rule). Under Verify the trained weight vector and the
    // hashed feature relation are materialized and scoring runs the
    // declarative join over the dump, so the DuckDB oracle replays the
    // identical margin arithmetic; training itself is spec-covered (it IS
    // the dumped weight relation). Prod path scores via the map-side
    // native expression — one Scan+Project.
    "quality_classifier" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val dump = if (sys.props.contains("graft.fp.dump"))
        Some((ClfWeightsDumpDir, ClfFeatsDumpDir)) else None
      Classifier.qualityClassifier(s, docs, dumpDirs = dump)
    }),
    // Count-Min Sketch point queries over the true top-20 words. Under
    // Verify the counter matrix and candidate cell map are materialized;
    // the oracle recomputes true counts from raw text and replays the
    // min-over-rows lookup from the dumps.
    "cms_heavyhitters" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      if (sys.props.contains("graft.fp.dump")) {
        TextAnalysis.cmsMatrix(docs).coalesce(1)
          .write.mode("overwrite").parquet(CmsMatrixDumpDir)
        TextAnalysis.cmsCandidateMap(
            ops.TextOps.topKWords(docs).select(col("word")), 4, 2048)
          .coalesce(1).write.mode("overwrite").parquet(CmsCandDumpDir)
        TextAnalysis.cmsHeavyHitters(docs,
          matrixIn = Some(s.read.parquet(CmsMatrixDumpDir)))
      } else TextAnalysis.cmsHeavyHitters(docs)
    }),
    // §2 preference-(c) showcase: custom LogicalPlan+Strategy+Exec operator
    "topk_custom_operator" -> ((s, d) => {
      import org.apache.spark.sql.functions.{col, round}
      val o = Tables.orders(s, d).select(col("o_custkey"), col("o_orderkey"),
        round(col("o_totalprice"), 2).as("o_totalprice_r"))
      graft.plans.TopK.perGroup(o, Seq("o_custkey"),
        Seq(o("o_totalprice_r").desc, o("o_orderkey")), 3)
    }),
  )


  /** Shared by dedup_incremental and dedup_incremental_store: the store
    * path is defined to produce id-for-id identical survivors. */
  private val IncrementalDedupOracle: String =
    """WITH tok AS (SELECT doc_id,
           list_filter(string_split_regex(text,'\s+'), x->x<>'') AS t FROM documents),
       sh AS (SELECT doc_id, CASE WHEN len(t)>=3
           THEN list_distinct([t[i]||' '||t[i+1]||' '||t[i+2]
                               FOR i IN generate_series(1, len(t)-2)])
           ELSE [] END AS s FROM tok),
       ex AS (SELECT doc_id, unnest(s) AS sg, len(s) AS nsh FROM sh WHERE len(s)>0),
       cand AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter,
           any_value(a.nsh) AS na, any_value(b.nsh) AS nb
         FROM ex a JOIN ex b ON a.sg=b.sg AND a.doc_id<b.doc_id GROUP BY 1,2),
       pairs AS (SELECT a_id, b_id FROM cand
         WHERE round(inter/(na+nb-inter),6) >= 0.8),
       dropd AS (
         SELECT b_id AS doc_id FROM pairs WHERE a_id % 5 <> 0 AND b_id % 5 <> 0
         UNION
         SELECT a_id FROM pairs WHERE a_id % 5 <> 0 AND b_id % 5 = 0
         UNION
         SELECT b_id FROM pairs WHERE b_id % 5 <> 0 AND a_id % 5 = 0)
       SELECT doc_id FROM documents
       WHERE doc_id % 5 <> 0
         AND doc_id NOT IN (SELECT doc_id FROM dropd)"""

  def oracleSql: Map[String, String] = Map(
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
         round(sum(l_quantity),2) AS sum_qty,
         round(sum(l_extendedprice),2) AS sum_base_price,
         round(sum(l_extendedprice*(1-l_discount)),2) AS sum_disc_price,
         round(sum(l_extendedprice*(1-l_discount)*(1+l_tax)),2) AS sum_charge,
         round(avg(l_quantity),4) AS avg_qty,
         round(avg(l_extendedprice),4) AS avg_price,
         round(avg(l_discount),6) AS avg_disc,
         count(*) AS count_order
         FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
         GROUP BY l_returnflag, l_linestatus""",
    "q3_shipping_priority" ->
      """SELECT l_orderkey, o_orderpriority,
         round(sum(l_extendedprice*(1-l_discount)),2) AS revenue
         FROM customer JOIN orders ON c_custkey=o_custkey
         JOIN lineitem ON o_orderkey=l_orderkey
         WHERE c_mktsegment='BUILDING' AND o_orderdate < TIMESTAMP '1998-01-01'
           AND l_shipdate > TIMESTAMP '1998-01-01'
         GROUP BY l_orderkey, o_orderpriority
         ORDER BY revenue DESC, l_orderkey LIMIT 10""",
    "q5_local_supplier" ->
      """SELECT n_name, round(sum(l_extendedprice*(1-l_discount)),2) AS revenue
         FROM region JOIN nation ON n_regionkey=r_regionkey
         JOIN customer ON c_nationkey=n_nationkey
         JOIN orders ON o_custkey=c_custkey
         JOIN lineitem ON l_orderkey=o_orderkey
         JOIN supplier ON l_suppkey=s_suppkey AND s_nationkey=c_nationkey
         WHERE r_name='ASIA' AND o_orderdate >= TIMESTAMP '1996-01-01'
           AND o_orderdate < TIMESTAMP '1998-01-01'
         GROUP BY n_name""",
    "q6_forecast_revenue" ->
      """SELECT round(sum(l_extendedprice*l_discount),2) AS revenue, count(*) AS n_rows
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
           AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24""",
    "q4_order_priority" ->
      """SELECT o_orderpriority, count(*) AS order_count FROM orders
         WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
           AND EXISTS (SELECT 1 FROM lineitem
             WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate + INTERVAL 90 DAY)
         GROUP BY o_orderpriority""",
    "q7_volume_shipping" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         strftime(l_shipdate, '%Y') AS l_year,
         round(sum(l_extendedprice*(1-l_discount)),2) AS revenue
         FROM lineitem
         JOIN orders ON l_orderkey=o_orderkey
         JOIN customer ON o_custkey=c_custkey
         JOIN supplier ON l_suppkey=s_suppkey
         JOIN nation n1 ON s_nationkey=n1.n_nationkey
         JOIN nation n2 ON c_nationkey=n2.n_nationkey
         WHERE (n1.n_name='NATION_1' AND n2.n_name='NATION_2')
            OR (n1.n_name='NATION_2' AND n2.n_name='NATION_1')
         GROUP BY 1, 2, 3""",
    "q9_nation_revenue" ->
      """SELECT n_name AS nation, strftime(o_orderdate, '%Y') AS o_year,
         round(sum(l_extendedprice*(1-l_discount)),2) AS revenue
         FROM lineitem
         JOIN part ON l_partkey=p_partkey
         JOIN orders ON l_orderkey=o_orderkey
         JOIN supplier ON l_suppkey=s_suppkey
         JOIN nation ON s_nationkey=n_nationkey
         WHERE p_type='PROMO'
         GROUP BY 1, 2""",
    "q2_min_cost_supplier" ->
      """WITH ps AS (
           SELECT l_partkey, l_suppkey,
                  floor(min(l_extendedprice / l_quantity) * 10000) / 10000 AS unit_cost
           FROM lineitem GROUP BY l_partkey, l_suppkey),
         aps AS (
           SELECT ps.l_partkey, ps.l_suppkey, ps.unit_cost, s.s_name, n.n_name
           FROM ps JOIN supplier s ON ps.l_suppkey = s.s_suppkey
           JOIN nation n ON s.s_nationkey = n.n_nationkey
           JOIN region r ON n.n_regionkey = r.r_regionkey
           WHERE r.r_name = 'ASIA')
         SELECT p.p_partkey, p.p_name, a.s_name, a.n_name, a.unit_cost
         FROM part p JOIN aps a ON p.p_partkey = a.l_partkey
         WHERE p.p_type = 'ECONOMY'
           AND a.unit_cost = (SELECT min(x.unit_cost) FROM aps x
                              WHERE x.l_partkey = p.p_partkey)""",
    "q8_market_share" ->
      """SELECT strftime(o_orderdate, '%Y') AS o_year,
         round(sum(CASE WHEN n2.n_name = 'NATION_7'
                        THEN l_extendedprice*(1-l_discount) ELSE 0.0 END)
               / sum(l_extendedprice*(1-l_discount)), 6) AS mkt_share
         FROM lineitem
         JOIN orders ON l_orderkey=o_orderkey
         JOIN customer ON o_custkey=c_custkey
         JOIN nation n1 ON c_nationkey=n1.n_nationkey
         JOIN region ON n1.n_regionkey=r_regionkey
         JOIN supplier ON l_suppkey=s_suppkey
         JOIN nation n2 ON s_nationkey=n2.n_nationkey
         WHERE r_name='ASIA'
         GROUP BY 1""",
    "q15_top_supplier" ->
      """WITH rev AS (
           SELECT l_suppkey, round(sum(l_extendedprice*(1-l_discount)),2) AS total_rev
           FROM lineitem
           WHERE l_shipdate >= TIMESTAMP '1996-01-01'
             AND l_shipdate < TIMESTAMP '1996-04-01'
           GROUP BY l_suppkey)
         SELECT s_suppkey, s_name, total_rev
         FROM supplier JOIN rev ON s_suppkey = l_suppkey
         WHERE total_rev = (SELECT max(total_rev) FROM rev)""",
    "q16_supplier_count" ->
      """SELECT p_type, p_size, CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
         FROM part JOIN lineitem ON p_partkey = l_partkey
         WHERE p_type <> 'PROMO'
           AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
         GROUP BY p_type, p_size""",
    "q17_small_qty_revenue" ->
      """SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
         FROM lineitem JOIN part ON p_partkey = l_partkey
         WHERE p_type = 'SMALL'
           AND l_quantity < (SELECT 0.2 * avg(l2.l_quantity)
                             FROM lineitem l2
                             WHERE l2.l_partkey = p_partkey)""",
    "q20_promo_suppliers" ->
      """SELECT s_suppkey, s_name, n_name
         FROM supplier JOIN nation ON s_nationkey = n_nationkey
         WHERE s_suppkey IN (
           SELECT l_suppkey FROM lineitem JOIN part ON l_partkey = p_partkey
           WHERE p_type = 'PROMO'
           GROUP BY l_suppkey HAVING sum(l_quantity) > 100)""",
    "q11_important_parts" ->
      """SELECT l_partkey, round(sum(l_extendedprice * (1 - l_discount)), 2) AS part_value
         FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
         WHERE s_nationkey < 13
         GROUP BY l_partkey
         HAVING sum(l_extendedprice * (1 - l_discount)) > (
           SELECT 0.001 * sum(l_extendedprice * (1 - l_discount))
           FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
           WHERE s_nationkey < 13)""",
    "q12_returnflag_priority" ->
      """SELECT l_returnflag,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT)
             AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 0 ELSE 1 END) AS BIGINT)
             AS low_line_count
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
         GROUP BY l_returnflag""",
    "q13_customer_distribution" ->
      """WITH per_cust AS (
           SELECT c_custkey, count(o_orderkey) AS c_count
           FROM customer LEFT OUTER JOIN orders
             ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
           GROUP BY c_custkey)
         SELECT c_count, count(*) AS custdist FROM per_cust GROUP BY c_count""",
    "q19_discounted_revenue" ->
      """SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
            OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
            OR (p_brand = 'Brand#9'  AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 30)""",
    "q21_lone_returners" ->
      """SELECT s_name, count(*) AS numwait
         FROM supplier
         JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
         JOIN orders ON o_orderkey = l1.l_orderkey
         WHERE o_orderstatus = 'F' AND l1.l_returnflag = 'R'
           AND EXISTS (SELECT 1 FROM lineitem l2
                       WHERE l2.l_orderkey = l1.l_orderkey
                         AND l2.l_suppkey <> l1.l_suppkey)
           AND NOT EXISTS (SELECT 1 FROM lineitem l3
                           WHERE l3.l_orderkey = l1.l_orderkey
                             AND l3.l_suppkey <> l1.l_suppkey
                             AND l3.l_returnflag = 'R')
         GROUP BY s_name""",
    "q22_global_sales" ->
      """SELECT c_custkey % 10 AS cntrycode, count(*) AS numcust,
           round(sum(c_acctbal), 2) AS totacctbal
         FROM customer
         WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
           AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
         GROUP BY c_custkey % 10""",
    "q14_promo_share" ->
      """SELECT round(
           sum(CASE WHEN p_type='PROMO' THEN l_extendedprice*(1-l_discount) ELSE 0.0 END) * 100.0
             / sum(l_extendedprice*(1-l_discount)), 4) AS promo_share,
         count(*) AS n_rows
         FROM lineitem JOIN part ON l_partkey=p_partkey
         WHERE l_shipdate >= TIMESTAMP '1996-09-01' AND l_shipdate < TIMESTAMP '1996-10-01'""",
    "q18_large_orders" ->
      """SELECT c_custkey, c_name, o_orderkey,
         strftime(o_orderdate, '%Y-%m-%d') AS o_date,
         round(o_totalprice,2) AS o_totalprice_r, total_qty_r
         FROM orders
         JOIN (SELECT l_orderkey, round(sum(l_quantity),2) AS total_qty_r
               FROM lineitem GROUP BY l_orderkey
               HAVING sum(l_quantity) > 150) b ON o_orderkey = b.l_orderkey
         JOIN customer ON o_custkey = c_custkey""",
    "q10_returned_items" ->
      """SELECT c_custkey, c_name, n_name,
         round(sum(l_extendedprice*(1-l_discount)),2) AS revenue
         FROM lineitem JOIN orders ON l_orderkey=o_orderkey
         JOIN customer ON o_custkey=c_custkey
         JOIN nation ON c_nationkey=n_nationkey
         WHERE l_returnflag='R' AND o_orderdate >= TIMESTAMP '1996-01-01'
           AND o_orderdate < TIMESTAMP '1997-01-01'
         GROUP BY c_custkey, c_name, n_name
         ORDER BY revenue DESC, c_custkey LIMIT 20""",
    "join_semi" ->
      """SELECT o_orderkey, o_custkey, round(o_totalprice,2) AS o_totalprice_r
         FROM orders WHERE EXISTS (
           SELECT 1 FROM lineitem WHERE l_orderkey=o_orderkey AND l_quantity >= 49)""",
    "join_anti" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders
           WHERE o_custkey=c_custkey AND o_orderpriority='1-URGENT')""",
    "mapside_join" ->
      """SELECT p_brand, count(*) AS n_items,
         round(sum(l_extendedprice*(1-l_discount)),2) AS revenue
         FROM lineitem JOIN part ON l_partkey=p_partkey GROUP BY p_brand""",
    "reduce_side_join" ->
      """SELECT c_custkey, c_name, count(o_orderkey) AS n_orders,
         round(coalesce(sum(o_totalprice),0),2) AS total_spent
         FROM customer LEFT JOIN orders ON c_custkey=o_custkey
         GROUP BY c_custkey, c_name""",
    "window_topk_per_group" ->
      """SELECT * FROM (
           SELECT o_custkey, o_orderkey, round(o_totalprice,2) AS o_totalprice_r,
             row_number() OVER (PARTITION BY o_custkey
               ORDER BY round(o_totalprice,2) DESC, o_orderkey) AS rn
           FROM orders) WHERE rn <= 3""",
    "window_running_sum" ->
      """SELECT o_custkey, o_orderkey,
         round(sum(o_totalprice) OVER (PARTITION BY o_custkey
           ORDER BY o_orderdate, o_orderkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),2) AS running_total
         FROM orders""",
    "agg_rollup" ->
      """SELECT coalesce(l_returnflag,'ALL') AS returnflag,
         coalesce(l_linestatus,'ALL') AS linestatus,
         round(sum(l_quantity),2) AS sum_qty, count(*) AS n_rows
         FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""",
    "agg_cube" ->
      """SELECT coalesce(l_returnflag,'ALL') AS returnflag,
         coalesce(l_linestatus,'ALL') AS linestatus,
         round(sum(l_extendedprice),2) AS sum_price, count(*) AS n_rows
         FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)""",
    "pivot_events" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS day,
         count(*) FILTER (WHERE event_type='click') AS "click",
         count(*) FILTER (WHERE event_type='error') AS "error",
         count(*) FILTER (WHERE event_type='purchase') AS "purchase",
         count(*) FILTER (WHERE event_type='signup') AS "signup",
         count(*) FILTER (WHERE event_type='view') AS "view"
         FROM events GROUP BY 1""",
    "unpivot_events" ->
      """WITH d AS (SELECT DISTINCT strftime(ts, '%Y-%m-%d') AS day FROM events),
         t AS (SELECT unnest(['click','error','purchase','signup','view']) AS event_type),
         c AS (SELECT strftime(ts, '%Y-%m-%d') AS day, event_type, count(*) AS n
           FROM events GROUP BY 1, 2)
         SELECT d.day, t.event_type, coalesce(c.n, 0) AS n_events
         FROM d CROSS JOIN t
         LEFT JOIN c ON c.day = d.day AND c.event_type = t.event_type""",
    "set_ops" ->
      """SELECT o_custkey, 'both' AS tag FROM (
           SELECT o_custkey FROM orders
           WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
           INTERSECT
           SELECT o_custkey FROM orders
           WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01')
         UNION ALL
         SELECT o_custkey, 'only_1996' AS tag FROM (
           SELECT o_custkey FROM orders
           WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
           EXCEPT
           SELECT o_custkey FROM orders
           WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01')""",
    "distinct_count" ->
      """SELECT count(DISTINCT l_partkey) AS n_parts,
         count(DISTINCT l_suppkey) AS n_supps,
         count(DISTINCT l_orderkey) AS n_orders FROM lineitem""",
    "orders_by_month" ->
      """SELECT strftime(o_orderdate, '%Y-%m') AS month, count(*) AS n_orders,
         round(sum(o_totalprice),2) AS total
         FROM orders GROUP BY 1""",
    "db_pageview" ->
      """SELECT event_type, count(*) AS n_events, round(sum(value),2) AS sum_value
         FROM events GROUP BY event_type""",
    "correlated_subquery" ->
      """SELECT p_partkey, p_type, round(p_retailprice, 2) AS price
         FROM part p
         WHERE p_retailprice = (SELECT min(p2.p_retailprice) FROM part p2
                                WHERE p2.p_type = p.p_type)""",
    "range_join" ->
      """SELECT bucket, count(*) AS n_events, round(sum(value),2) AS sum_value
         FROM events JOIN (VALUES
           (0.0, 20.0, 'b0_20'), (20.0, 40.0, 'b20_40'), (40.0, 60.0, 'b40_60'),
           (60.0, 80.0, 'b60_80'), (80.0, 1000000000.0, 'b80_up')) t(lo, hi, bucket)
         ON value >= lo AND value < hi
         GROUP BY bucket""",
    "range_join_bigbig" ->
      """WITH intervals AS (SELECT i AS interval_id, i * 0.1::DOUBLE AS lo,
             i * 0.1::DOUBLE + 0.3::DOUBLE AS hi
           FROM range(1000) t(i))
         SELECT interval_id, count(*) AS n_points, round(sum(value), 2) AS sum_value
         FROM intervals JOIN events ON value >= lo AND value < hi
         GROUP BY interval_id""",
    "asof_join" ->
      """SELECT event_id, user_id, event_type,
         last_value(CASE WHEN event_type='purchase' THEN CAST(floor(epoch(ts)) AS BIGINT) END IGNORE NULLS)
           OVER w AS last_purchase_epoch,
         round(last_value(CASE WHEN event_type='purchase' THEN value END IGNORE NULLS)
           OVER w, 2) AS last_purchase_value
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""",
    "json_props_agg" ->
      """SELECT event_type,
         CAST(sum(json_extract_string(props,'$.k')::BIGINT) AS BIGINT) AS sum_k,
         count(json_extract_string(props,'$.k')) AS n_with_k,
         min(json_extract_string(props,'$.k')::BIGINT) AS min_k,
         max(json_extract_string(props,'$.k')::BIGINT) AS max_k
         FROM events GROUP BY event_type""",
    "sessionize" ->
      """WITH flagged AS (
           SELECT user_id, ts, event_id,
             CASE WHEN lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER w IS NULL
                    OR CAST(floor(epoch(ts)) AS BIGINT) - lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER w > 1800
                  THEN 1 ELSE 0 END AS new_session
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         sessions AS (
           SELECT user_id, ts,
             CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
           FROM flagged)
         SELECT user_id, session_id, count(*) AS n_events,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end
         FROM sessions GROUP BY user_id, session_id""",
    "sessionize_native" ->
      """WITH flagged AS (
           SELECT user_id, ts, event_id,
             CASE WHEN lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER w IS NULL
                    OR CAST(floor(epoch(ts)) AS BIGINT) - lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER w > 1800
                  THEN 1 ELSE 0 END AS new_session
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         sessions AS (
           SELECT user_id, ts,
             CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
           FROM flagged)
         SELECT user_id,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(max(ts) + INTERVAL 1800 SECONDS, '%Y-%m-%d %H:%M:%S') AS session_end_plus_gap,
           count(*) AS n_events
         FROM sessions GROUP BY user_id, session_id""",
    "events_sliding" ->
      """WITH e AS (SELECT CAST(floor(epoch(ts)) AS BIGINT) AS es, event_type, value
           FROM events),
         x AS (SELECT ((es // 900) - k) * 900 AS window_start, event_type, value
           FROM e CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS k))
         SELECT window_start, event_type, count(*) AS n_events,
           round(sum(value), 2) AS sum_value
         FROM x GROUP BY window_start, event_type""",
    "events_hourly" ->
      """SELECT strftime(ts, '%Y-%m-%d %H') AS hour, event_type,
         count(*) AS n_events, round(sum(value),2) AS sum_value
         FROM events GROUP BY 1, 2""",
    "funnel_conversion" ->
      """WITH s1 AS (SELECT user_id, min(CAST(floor(epoch(ts)) AS BIGINT)) AS t1
           FROM events WHERE event_type='view' GROUP BY user_id),
         s2 AS (SELECT e.user_id, min(CAST(floor(epoch(e.ts)) AS BIGINT)) AS t2
           FROM events e JOIN s1 USING (user_id)
           WHERE e.event_type='click' AND CAST(floor(epoch(e.ts)) AS BIGINT) > t1
           GROUP BY e.user_id),
         s3 AS (SELECT e.user_id, min(CAST(floor(epoch(e.ts)) AS BIGINT)) AS t3
           FROM events e JOIN s2 USING (user_id)
           WHERE e.event_type='purchase' AND CAST(floor(epoch(e.ts)) AS BIGINT) > t2
           GROUP BY e.user_id)
         SELECT (SELECT count(*) FROM s1) AS n_view,
                (SELECT count(*) FROM s2) AS n_view_click,
                (SELECT count(*) FROM s3) AS n_view_click_purchase""",
    "value_outliers" ->
      """WITH med AS (SELECT event_type, quantile_cont(value, 0.5) AS med
           FROM events GROUP BY event_type),
         j AS (SELECT e.event_id, e.event_type, e.value, m.med
           FROM events e JOIN med m USING (event_type)),
         mad AS (SELECT event_type, quantile_cont(abs(value - med), 0.5) AS mad
           FROM j GROUP BY event_type)
         SELECT j.event_id, j.event_type, j.value,
           round(j.med, 6) AS med, round(mad.mad, 6) AS mad
         FROM j JOIN mad USING (event_type)
         WHERE abs(j.value - j.med) > 1.8 * mad.mad""",
    "trailing_window_sum" ->
      """SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec,
           round(sum(value) OVER (PARTITION BY user_id
             ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW), 2) AS trailing_sum
         FROM events""",
    "window_rank_functions" ->
      """SELECT event_id, event_type, value,
           CAST(dense_rank() OVER w AS BIGINT) AS drank,
           round(percent_rank() OVER w, 6) AS prank,
           round(cume_dist() OVER w, 6) AS cdist,
           CAST(ntile(10) OVER w AS BIGINT) AS decile
         FROM events
         WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)""",
    "grouping_sets_report" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
           coalesce(l_linestatus, 'ALL') AS linestatus,
           round(sum(l_quantity), 2) AS sum_qty, count(*) AS n_rows
         FROM lineitem
         GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())""",
    "events_gapfill" ->
      """WITH h AS (SELECT CAST(floor(floor(epoch(ts)) / 3600) * 3600 AS BIGINT) AS hour_sec,
             count(*) AS n, round(sum(value), 2) AS sv
           FROM events GROUP BY 1),
         b AS (SELECT min(hour_sec) AS lo, max(hour_sec) AS hi FROM h),
         spine AS (SELECT unnest(generate_series(lo, hi, 3600)) AS hour_sec FROM b)
         SELECT spine.hour_sec, coalesce(h.n, 0) AS n_events,
           coalesce(h.sv, 0.0) AS sum_value
         FROM spine LEFT JOIN h ON spine.hour_sec = h.hour_sec""",
    "value_histogram" ->
      """SELECT least(greatest(CAST(floor((value - 0.0) / 5.0) AS BIGINT), 0), 19) AS bucket,
           count(*) AS n, round(min(value), 2) AS min_v, round(max(value), 2) AS max_v
         FROM events
         GROUP BY least(greatest(CAST(floor((value - 0.0) / 5.0) AS BIGINT), 0), 19)""",
    "percentiles_by_type" ->
      """SELECT event_type,
           round(quantile_cont(value, 0.5), 6) AS p50,
           round(quantile_cont(value, 0.95), 6) AS p95,
           round(quantile_cont(value, 0.99), 6) AS p99
         FROM events GROUP BY event_type""",
    "value_stats_by_type" ->
      """SELECT event_type,
           round(avg(value), 6) AS avg_v,
           round(stddev_samp(value), 6) AS stddev_v,
           round(var_samp(value), 6) AS var_v,
           round(corr(value, hour(ts)), 6) AS corr_v_hour
         FROM events GROUP BY event_type""",
    // Re-aggregates the DUMPED daily register relation with the identical
    // published arithmetic (Flajolet harmonic mean + linear-counting
    // correction) — the union algebra and the estimate are cross-engine-
    // checked; the xxhash64/rho register build stays Spark-side (it IS the
    // dumped relation, spec-covered — same pattern as dedup_simhash).
    // Recomputes BOTH halves: the HLL estimates from the dumped register
    // relation (identical Flajolet arithmetic, same pattern as
    // hll_reaggregate) and the quantiles from scratch — the md5 1/16
    // Bernoulli sample and the ceil(q*n) order statistic are
    // engine-independent (md5 is md5; rank selection has no interpolation
    // arithmetic to diverge).
    "approx_sketch" ->
      s"""WITH regs AS (SELECT which, bucket, r
             FROM read_parquet('$ApproxRegDumpDir/*.parquet')),
         u AS (SELECT which, bucket, max(r) AS r FROM regs GROUP BY 1, 2),
         agg AS (SELECT which, sum(power(2.0, -r)) AS sp, count(*) AS np
             FROM u GROUP BY 1),
         est AS (SELECT which,
             CASE WHEN raw <= 2.5 * 4096 AND zeros > 0
               THEN 4096 * ln(4096 / zeros::DOUBLE) ELSE raw END AS est
           FROM (SELECT which,
               0.7213 / (1 + 1.079 / 4096.0) * 4096 * 4096
                 / (sp + (4096 - np)) AS raw,
               4096 - np AS zeros FROM agg)),
         hll AS (SELECT
             round(max(CASE WHEN which = 'parts' THEN est END), 2) AS approx_parts,
             round(max(CASE WHEN which = 'orders' THEN est END), 2) AS approx_orders
           FROM est),
         s AS (SELECT l_extendedprice AS v FROM lineitem
           WHERE substr(md5(l_orderkey::VARCHAR || '-' || l_linenumber::VARCHAR),
                        1, 1) = '0'),
         nn AS (SELECT count(*) AS n FROM s),
         ranked AS (SELECT v, row_number() OVER (ORDER BY v) AS rn FROM s),
         qs AS (SELECT
             max(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT) THEN v END) AS q50,
             max(CASE WHEN rn = CAST(ceil(0.95 * n) AS BIGINT) THEN v END) AS q95,
             max(CASE WHEN rn = CAST(ceil(0.99 * n) AS BIGINT) THEN v END) AS q99
           FROM ranked CROSS JOIN nn)
         SELECT * FROM hll CROSS JOIN qs""",
    "hll_reaggregate" ->
      s"""WITH regs AS (SELECT day, event_type, bucket, r
             FROM read_parquet('$HllRegDumpDir/*.parquet')),
         u AS (SELECT event_type, bucket, max(r) AS r FROM regs GROUP BY 1, 2),
         agg AS (SELECT event_type, sum(power(2.0, -r)) AS sp,
             count(*) AS np FROM u GROUP BY 1),
         est AS (SELECT event_type,
             0.7213 / (1 + 1.079 / 4096.0) * 4096 * 4096 / (sp + (4096 - np)) AS raw,
             4096 - np AS zeros FROM agg)
         SELECT e.event_type,
           round(CASE WHEN raw <= 2.5 * 4096 AND zeros > 0
             THEN 4096 * ln(4096 / zeros::DOUBLE) ELSE raw END, 2) AS est_users,
           d.n_days
         FROM est e JOIN (SELECT event_type,
             CAST(count(DISTINCT day) AS BIGINT) AS n_days
           FROM regs GROUP BY 1) d USING (event_type)""",
    "user_retention" ->
      """WITH first AS (SELECT user_id, min(CAST(ts AS DATE)) AS cohort_day
           FROM events GROUP BY user_id),
         active AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events)
         SELECT cohort_day, CAST(d - cohort_day AS BIGINT) AS day_k,
           count(*) AS n_returned
         FROM first JOIN active USING (user_id)
         WHERE d - cohort_day BETWEEN 1 AND 7
         GROUP BY cohort_day, day_k""",
    "wordcount" ->
      """SELECT word, count(*) AS n FROM (
           SELECT unnest(string_split_regex(text, '\s+')) AS word FROM documents)
         WHERE word <> '' GROUP BY word""",
    "grep_count" ->
      """SELECT "match", count(*) AS n FROM (
           SELECT unnest(regexp_extract_all(text, '[a-z]+a[a-z]*')) AS "match"
           FROM documents)
         GROUP BY "match"""",
    "multifile_wordcount" ->
      """SELECT word, count(*) AS n FROM (
           SELECT unnest(string_split_regex(txt, '\s+')) AS word FROM (
             SELECT text AS txt FROM documents UNION ALL SELECT p_name FROM part))
         WHERE word <> '' GROUP BY word""",
    "word_stats" ->
      """SELECT count(*) AS n_words, round(avg(len),6) AS mean_len,
         round(median(len),6) AS median_len, round(stddev_pop(len),6) AS stddev_len
         FROM (SELECT length(word) AS len FROM (
           SELECT unnest(string_split_regex(text, '\s+')) AS word FROM documents)
           WHERE word <> '')""",
    "topk_words" ->
      """SELECT word, count(*) AS n FROM (
           SELECT unnest(string_split_regex(text, '\s+')) AS word FROM documents)
         WHERE word <> '' GROUP BY word ORDER BY n DESC, word LIMIT 20""",
    // capacity (64) >= vocabulary size, so the sketch never evicts => exact
    "spacesaving_topk" ->
      """SELECT word, count(*) AS n FROM (
           SELECT unnest(string_split_regex(text, '\s+')) AS word FROM documents)
         WHERE word <> '' GROUP BY word ORDER BY n DESC, word LIMIT 64""",
    "word_histogram" ->
      """SELECT n AS freq, count(*) AS n_words FROM (
           SELECT word, count(*) AS n FROM (
             SELECT unnest(string_split_regex(text, '\s+')) AS word FROM documents)
           WHERE word <> '' GROUP BY word)
         GROUP BY n""",
    "inverted_index" ->
      """SELECT word, count(DISTINCT doc_id) AS n_docs, min(doc_id) AS first_doc
         FROM (SELECT doc_id,
                 unnest(list_distinct(string_split_regex(text, '\s+'))) AS word
               FROM documents)
         WHERE word <> '' GROUP BY word""",
    "global_sort" ->
      """SELECT row_number() OVER (ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS pos,
         l_orderkey, l_linenumber, round(l_extendedprice,2) AS price
         FROM lineitem ORDER BY pos LIMIT 1000""",
    "sort_validate" ->
      """SELECT count(*) AS row_cnt, CAST(0 AS BIGINT) AS inversions,
         CAST(sum(CAST(round(l_extendedprice*100,0) AS BIGINT) + l_orderkey % 1000003 + l_linenumber) AS BIGINT) AS checksum
         FROM lineitem""",
    "secondary_sort" ->
      """SELECT user_id,
         string_agg(event_id::VARCHAR, ',' ORDER BY ts, event_id) AS ordered_events,
         count(*) AS n_events
         FROM events GROUP BY user_id""",
    "datagen" ->
      """WITH a AS (SELECT range AS id,
             ((range%2147483648)*1103515245+12345)%2147483648 AS r1 FROM range(10000)),
         b AS (SELECT id, r1, (r1*1103515245+12345)%2147483648 AS r2 FROM a)
         SELECT id, r1, r2,
           (['alpha','beta','gamma','delta','epsilon','zeta','eta','theta','iota',
             'kappa','lambda','mu','nu','xi','omicron','pi','rho','sigma','tau',
             'upsilon'])[(r1%20+1)::INT] AS word,
           round(r2/2147483648.0, 9) AS value
         FROM b""",
    "pi_estimate" ->
      """WITH a AS (SELECT range AS id,
             (range*1103515245+12345)%2147483648 AS xi FROM range(100000)),
         b AS (SELECT xi, (xi*1103515245+12345)%2147483648 AS yi FROM a),
         c AS (SELECT xi/2147483648.0 AS x, yi/2147483648.0 AS y FROM b)
         SELECT count(*) AS n,
           CAST(sum(CASE WHEN x*x + y*y <= 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS in_circle,
           round(sum(CASE WHEN x*x + y*y <= 1.0 THEN 1 ELSE 0 END) * 4.0 / count(*), 6) AS pi_est
         FROM c""",
    "streaming_pipe" ->
      """SELECT doc_id, upper(text) AS out FROM documents""",
    "streaming_pipe_combined" ->
      """SELECT event_type, CAST(count(*) AS VARCHAR) AS out
         FROM events GROUP BY event_type""",
    // Logalyzer analog: the oracle rebuilds the synthesized log corpus
    // verbatim, filters with the same regex, and ranks with a single
    // global window over the IDENTICAL composite key (sort token ++ NUL ++
    // line, chr(0) here == the Scala side's explicit U+0000 joiner — NUL
    // makes prefix tokens rank in tuple order). DuckDB list indexing is
    // 1-based (the Spark side's sortSpec column 1 == [2] here).
    "log_grep_sort" ->
      """WITH l AS (SELECT strftime(ts, '%Y-%m-%dT%H:%M:%S') || ' ' ||
             event_type || ' ' ||
             CAST(CAST(floor(value) AS BIGINT) AS VARCHAR) AS line FROM events),
         f AS (SELECT line FROM l WHERE regexp_matches(line, 'click|view')),
         k AS (SELECT line, string_split(line, ' ')[2] || chr(0) || line AS k FROM f)
         SELECT CAST(row_number() OVER (ORDER BY k) AS BIGINT) AS pos, line
         FROM k""",
    // closed-form literal oracles: pi's fractional hex expansion (any bignum
    // Machin evaluation reproduces it), the published pentomino tiling
    // counts (incl. symmetric duplicates), and sudoku's PLANTED solutions —
    // the corpus is uniqueness-repaired, so the solver must recover exactly
    // the grid each puzzle was blanked from, a pure function of the id that
    // the driver bakes into a literal VALUES table (no SQL solver needed).
    "bbp_pi_digits" ->
      """SELECT CAST(pos AS BIGINT) AS pos, hex4 FROM (VALUES
         (0,'243F'),(4,'6A88'),(8,'85A3'),(12,'08D3'),(16,'1319'),(20,'8A2E'),
         (24,'0370'),(28,'7344'),(32,'A409'),(36,'3822'),(40,'299F'),(44,'31D0'),
         (48,'082E'),(52,'FA98'),(56,'EC4E'),(60,'6C89'),(64,'4528'),(68,'21E6'),
         (72,'38D0'),(76,'1377'),(80,'BE54'),(84,'66CF'),(88,'34E9'),(92,'0C6C'),
         (96,'C0AC'),(100,'29B7'),(104,'C97C'),(108,'50DD'),(112,'3F84'),
         (116,'D5B5'),(120,'B547'),(124,'0917')) AS t(pos, hex4)""",
    "pentomino" ->
      """SELECT board, CAST(solutions AS BIGINT) AS solutions FROM (VALUES
         ('3x20',8),('4x15',1472),('5x12',4040),('6x10',9356)) AS t(board, solutions)""",
    // 184 = 4 x the published 46 distinct solutions: the published count is
    // up to the rectangle's 4 symmetries (no 3x30 one-sided tiling is
    // self-symmetric), and this suite counts symmetric duplicates included,
    // same convention as the free family (6x10 = 9356 = 4 x 2339).
    "pentomino_one_sided" ->
      """SELECT board, CAST(solutions AS BIGINT) AS solutions FROM (VALUES
         ('3x30',184)) AS t(board, solutions)""",
    "sudoku" -> {
      val rows = (0L until 200L).map { id =>
        val sol = graft.ops.PuzzleOps.puzzleAndSolutionForId(id, 40)._2
        s"($id,'$sol',true,true)"
      }.mkString(",\n         ")
      s"""SELECT CAST(puzzle_id AS BIGINT) AS puzzle_id, solution, valid, clues_kept
         FROM (VALUES $rows) AS t(puzzle_id, solution, valid, clues_kept)"""
    },
    // content-preservation oracles: the source table IS the expected output
    "distcp_relayout" -> """SELECT * FROM lineitem""",
    "compaction" -> """SELECT * FROM events""",
    "dedup_exact" ->
      """SELECT md5(text) AS h, min(doc_id) AS canonical_id, count(*) AS n_copies
         FROM documents GROUP BY md5(text)""",
    "dedup_ngram_jaccard" ->
      """WITH tok AS (SELECT doc_id,
             list_filter(string_split_regex(text,'\s+'), x->x<>'') AS t FROM documents),
         sh AS (SELECT doc_id, CASE WHEN len(t)>=3
             THEN list_distinct([t[i]||' '||t[i+1]||' '||t[i+2]
                                 FOR i IN generate_series(1, len(t)-2)])
             ELSE [] END AS s FROM tok),
         ex AS (SELECT doc_id, unnest(s) AS sg, len(s) AS nsh FROM sh WHERE len(s)>0),
         pairs AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter,
             any_value(a.nsh) AS na, any_value(b.nsh) AS nb
           FROM ex a JOIN ex b ON a.sg=b.sg AND a.doc_id<b.doc_id GROUP BY 1,2)
         SELECT a_id, b_id, round(inter/(na+nb-inter),6) AS jacc FROM pairs
         WHERE round(inter/(na+nb-inter),6) >= 0.5""",
    "dedup_substring" ->
      """WITH doc AS (SELECT doc_id, text FROM documents WHERE length(text) >= 40),
         pos AS (SELECT unnest(generate_series(1, (SELECT max(length(text)) FROM doc) - 39)) AS pos),
         w AS (SELECT doc_id, pos, substr(text, pos, 40) AS win
               FROM doc, pos WHERE pos <= length(text) - 39),
         d AS (SELECT win FROM w GROUP BY win HAVING count(*) > 1),
         occ AS (SELECT doc_id, pos FROM w JOIN d USING (win)),
         g AS (SELECT doc_id, pos,
                 max(pos + 39) OVER (PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
               FROM occ),
         i AS (SELECT doc_id, pos,
                 sum(CASE WHEN prev_end IS NULL OR pos > prev_end + 1 THEN 1 ELSE 0 END)
                   OVER (PARTITION BY doc_id ORDER BY pos) AS span
               FROM g)
         SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
                CAST(max(pos) + 39 AS BIGINT) AS span_end,
                CAST(max(pos) + 39 - min(pos) + 1 AS BIGINT) AS span_len
         FROM i GROUP BY doc_id, span""",
    "substring_dup_stats" ->
      """WITH doc AS (SELECT doc_id, text FROM documents WHERE length(text) >= 40),
         pos AS (SELECT unnest(generate_series(1, (SELECT max(length(text)) FROM doc) - 39)) AS pos),
         w AS (SELECT doc_id, pos, substr(text, pos, 40) AS win
               FROM doc, pos WHERE pos <= length(text) - 39),
         d AS (SELECT win FROM w GROUP BY win HAVING count(*) > 1),
         occ AS (SELECT doc_id, pos FROM w JOIN d USING (win)),
         g AS (SELECT doc_id, pos,
                 max(pos + 39) OVER (PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
               FROM occ),
         i AS (SELECT doc_id, pos,
                 sum(CASE WHEN prev_end IS NULL OR pos > prev_end + 1 THEN 1 ELSE 0 END)
                   OVER (PARTITION BY doc_id ORDER BY pos) AS span
               FROM g),
         spans AS (SELECT doc_id, min(pos) AS span_start, max(pos) + 39 AS span_end
                   FROM i GROUP BY doc_id, span),
         st AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
                       CAST(sum(span_end - span_start + 1) AS BIGINT) AS dup_chars
                FROM spans GROUP BY doc_id)
         SELECT st.doc_id, st.n_spans, st.dup_chars,
                CAST(length(documents.text) AS BIGINT) AS n_chars,
                round(st.dup_chars / length(documents.text), 6) AS dup_frac
         FROM st JOIN documents ON st.doc_id = documents.doc_id""",
    "dedup_jaccard_ppjoin" ->
      """WITH tok AS (SELECT doc_id,
             list_filter(string_split_regex(text,'\s+'), x->x<>'') AS t FROM documents),
         sh AS (SELECT doc_id, CASE WHEN len(t)>=3
             THEN list_distinct([t[i]||' '||t[i+1]||' '||t[i+2]
                                 FOR i IN generate_series(1, len(t)-2)])
             ELSE [] END AS s FROM tok),
         ex AS (SELECT doc_id, unnest(s) AS sg, len(s) AS nsh FROM sh WHERE len(s)>0),
         pairs AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter,
             any_value(a.nsh) AS na, any_value(b.nsh) AS nb
           FROM ex a JOIN ex b ON a.sg=b.sg AND a.doc_id<b.doc_id GROUP BY 1,2)
         SELECT a_id, b_id, round(inter/(na+nb-inter),6) AS jacc FROM pairs
         WHERE round(inter/(na+nb-inter),6) >= 0.5""",
    "dedup_minhash_lsh" ->
      """WITH tok AS (SELECT doc_id,
             list_filter(string_split_regex(text,'\s+'), x->x<>'') AS t FROM documents),
         sh AS (SELECT doc_id, CASE WHEN len(t)>=3
             THEN list_distinct([t[i]||' '||t[i+1]||' '||t[i+2]
                                 FOR i IN generate_series(1, len(t)-2)])
             ELSE [] END AS s FROM tok),
         ex AS (SELECT doc_id, unnest(s) AS sg, len(s) AS nsh FROM sh WHERE len(s)>0),
         pairs AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter,
             any_value(a.nsh) AS na, any_value(b.nsh) AS nb
           FROM ex a JOIN ex b ON a.sg=b.sg AND a.doc_id<b.doc_id GROUP BY 1,2)
         SELECT a_id, b_id, round(inter/(na+nb-inter),6) AS jacc FROM pairs
         WHERE round(inter/(na+nb-inter),6) >= 0.8""",
    "dedup_levenshtein" ->
      """WITH p AS (SELECT doc_id, substr(text, 1, 48) AS pfx,
             list_filter(string_split_regex(text,'\s+'), x->x<>'')[1] AS tok
           FROM documents)
         SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           CAST(levenshtein(a.pfx, b.pfx) AS BIGINT) AS dist
         FROM p a JOIN p b ON a.tok = b.tok AND a.doc_id < b.doc_id
         WHERE levenshtein(a.pfx, b.pfx) <= 12""",
    "dedup_groups" ->
      """WITH RECURSIVE tok AS (SELECT doc_id,
             list_filter(string_split_regex(text,'\s+'), x->x<>'') AS t FROM documents),
         sh AS (SELECT doc_id, CASE WHEN len(t)>=3
             THEN list_distinct([t[i]||' '||t[i+1]||' '||t[i+2]
                                 FOR i IN generate_series(1, len(t)-2)])
             ELSE [] END AS s FROM tok),
         ex AS (SELECT doc_id, unnest(s) AS sg, len(s) AS nsh FROM sh WHERE len(s)>0),
         cand AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter,
             any_value(a.nsh) AS na, any_value(b.nsh) AS nb
           FROM ex a JOIN ex b ON a.sg=b.sg AND a.doc_id<b.doc_id GROUP BY 1,2),
         pairs AS (SELECT a_id, b_id FROM cand
           WHERE round(inter/(na+nb-inter),6) >= 0.8),
         edges AS (SELECT a_id AS src, b_id AS dst FROM pairs
                   UNION ALL SELECT b_id, a_id FROM pairs),
         r(id, comp) AS (
           SELECT DISTINCT src, src FROM edges
           UNION
           SELECT e.src, r.comp FROM edges e JOIN r ON e.dst = r.id),
         lab AS (SELECT id, min(comp) AS comp FROM r GROUP BY id)
         SELECT d.doc_id, coalesce(l.comp, d.doc_id) AS group_id
         FROM documents d LEFT JOIN lab l ON d.doc_id = l.id""",
    "embedding_neardup" ->
      """SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]),5) AS cos
         FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
         WHERE round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]),5) >= 0.4""",
    "ann_bruteforce_topk" ->
      """WITH scored AS (
           SELECT q.vec_id AS q_id, n.vec_id AS n_id,
             round(list_cosine_similarity(q.embedding::DOUBLE[], n.embedding::DOUBLE[]),6) AS cos
           FROM embeddings q JOIN embeddings n ON n.vec_id <> q.vec_id
           WHERE q.vec_id < 10),
         ranked AS (SELECT q_id, n_id, cos,
           row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rn FROM scored)
         SELECT q_id, n_id, cos, rn FROM ranked WHERE rn <= 5""",
    "lang_id" ->
      """WITH tok AS (SELECT doc_id,
             list_filter(string_split_regex(text,'\s+'), x->x<>'') AS t FROM documents),
         sc AS (SELECT doc_id,
           len(list_filter(t, x->list_contains(['der','die','das','und','ein','eine','zu','von'], x))) AS s_de,
           len(list_filter(t, x->list_contains(['the','a','of','and','to','in','is','it'], x))) AS s_en,
           len(list_filter(t, x->list_contains(['el','la','de','los','las','que','y','en'], x))) AS s_es,
           len(list_filter(t, x->list_contains(['le','la','les','des','un','une','et','du'], x))) AS s_fr,
           len(list_filter(t, x->list_contains(['zhong','wen','shi','bu','wo','ni','ta','men'], x))) AS s_zh
           FROM tok)
         SELECT doc_id, s_de, s_en, s_es, s_fr, s_zh,
           CASE WHEN greatest(s_de,s_en,s_es,s_fr,s_zh)=0 THEN 'und'
                WHEN s_de=greatest(s_de,s_en,s_es,s_fr,s_zh) THEN 'de'
                WHEN s_en=greatest(s_de,s_en,s_es,s_fr,s_zh) THEN 'en'
                WHEN s_es=greatest(s_de,s_en,s_es,s_fr,s_zh) THEN 'es'
                WHEN s_fr=greatest(s_de,s_en,s_es,s_fr,s_zh) THEN 'fr'
                ELSE 'zh' END AS pred_lang
         FROM sc""",
    // mean quality over round(q*1e6) BIGINTs — integer sums are
    // reassociation-free (the float-determinism note on the Scala side)
    "dataset_card" ->
      """WITH tok AS (SELECT doc_id, source, text,
             list_filter(string_split_regex(text,'\s+'), x->x<>'') AS t FROM documents),
         c AS (SELECT doc_id, source, length(text) AS n_chars, len(t) AS n_tokens,
             len(list_filter(t, x->list_contains(['the','a','of','and','to','in','is','it'], x))) AS n_stop,
             len(list_filter(t, x->regexp_matches(x,'[A-Za-z]'))) AS n_alpha,
             length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS n_punct,
             coalesce(list_sum(list_transform(t, x->length(x))), 0) AS tls,
             md5(text) AS h FROM tok),
         q AS (SELECT doc_id, source, n_tokens, h,
             round(round(least(1.0, n_tokens/50.0)*0.4
               + round(n_stop / (CASE WHEN n_tokens>0 THEN n_tokens ELSE 1 END)::DOUBLE, 6)*0.4
               + (1.0 - round(n_punct / (CASE WHEN n_chars>0 THEN n_chars ELSE 1 END)::DOUBLE, 6))*0.2, 6)
               * 1000000)::BIGINT AS q_micro,
             (CASE WHEN n_tokens >= 50 AND n_tokens <= 100000
               AND round(tls / (CASE WHEN n_tokens>0 THEN n_tokens ELSE 1 END)::DOUBLE, 6) >= 3.0
               AND round(tls / (CASE WHEN n_tokens>0 THEN n_tokens ELSE 1 END)::DOUBLE, 6) <= 10.0
               AND round(n_alpha / (CASE WHEN n_tokens>0 THEN n_tokens ELSE 1 END)::DOUBLE, 6) >= 0.8
               AND n_stop >= 2 THEN 1 ELSE 0 END)::BIGINT AS keep1
           FROM c),
         dup AS (SELECT h, count(*) AS nc FROM q GROUP BY h)
         SELECT source, count(*)::BIGINT AS n_docs,
           sum(n_tokens)::BIGINT AS n_tokens,
           round((sum(q_micro)::BIGINT / count(*)) / 1000000.0, 6) AS mean_quality,
           round(sum(keep1)::BIGINT / count(*)::DOUBLE, 6) AS gopher_keep_frac,
           round(sum(CASE WHEN d.nc > 1 THEN 1 ELSE 0 END)::BIGINT / count(*)::DOUBLE, 6) AS dup_frac
         FROM q JOIN dup d USING (h)
         GROUP BY source""",
    "quality_score" ->
      """WITH tok AS (SELECT doc_id, text,
             list_filter(string_split_regex(text,'\s+'), x->x<>'') AS t FROM documents),
         c AS (SELECT doc_id, length(text) AS n_chars, len(t) AS n_tokens,
             len(list_filter(t, x->list_contains(['the','a','of','and','to','in','is','it'], x))) AS n_stop,
             length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS n_punct,
             list_sum(list_transform(t, x->length(x))) AS tls FROM tok)
         SELECT doc_id, n_chars, n_tokens, n_stop, n_punct,
           round(tls / (CASE WHEN n_tokens>0 THEN n_tokens ELSE 1 END)::DOUBLE, 6) AS mean_tok_len,
           round(n_stop / (CASE WHEN n_tokens>0 THEN n_tokens ELSE 1 END)::DOUBLE, 6) AS stop_ratio,
           round(n_punct / (CASE WHEN n_chars>0 THEN n_chars ELSE 1 END)::DOUBLE, 6) AS punct_ratio,
           round(least(1.0, n_tokens/50.0)*0.4
             + round(n_stop / (CASE WHEN n_tokens>0 THEN n_tokens ELSE 1 END)::DOUBLE, 6)*0.4
             + (1.0 - round(n_punct / (CASE WHEN n_chars>0 THEN n_chars ELSE 1 END)::DOUBLE, 6))*0.2, 6) AS quality
         FROM c""",
    "token_count" ->
      """SELECT doc_id,
         len(list_filter(string_split_regex(text,'\s+'), x->x<>'')) AS n_ws,
         len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS n_bpe,
         length(text) AS n_chars
         FROM documents""",
    "doc_fingerprint" ->
      """SELECT doc_id, md5(text) AS fp, substr(md5(text),1,8) AS fp8,
         length(text) AS n_chars,
         len(list_filter(string_split_regex(text,'\s+'), x->x<>'')) AS n_tokens
         FROM documents""",
    "mixture_sample" ->
      """SELECT doc_id, source, lang, n_chars FROM documents
         WHERE ((doc_id * 2654435761) % 4294967296) / 4294967296.0
             < ((CAST(substr(source, 4) AS INT) % 5) + 1) / 5.0""",
    "repetition_score" ->
      """WITH tok AS (SELECT doc_id,
             list_filter(string_split_regex(text,'\s+'), x->x<>'') AS t FROM documents),
         c AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
             CAST(len(list_distinct(t)) AS BIGINT) AS n_distinct,
             CAST(CASE WHEN len(t) >= 2 THEN len(t) - 1 ELSE 0 END AS BIGINT) AS n_bigrams,
             CAST(CASE WHEN len(t) >= 2
               THEN len(list_distinct([t[i]||' '||t[i+1] FOR i IN generate_series(1, len(t)-1)]))
               ELSE 0 END AS BIGINT) AS n_distinct_bigrams
           FROM tok)
         SELECT doc_id, n_tokens, n_distinct, n_bigrams, n_distinct_bigrams,
           CASE WHEN n_tokens > 0
             THEN round(1.0 - n_distinct / n_tokens::DOUBLE, 6) ELSE 0.0 END AS dup_token_ratio,
           CASE WHEN n_bigrams > 0
             THEN round(1.0 - n_distinct_bigrams / n_bigrams::DOUBLE, 6) ELSE 0.0 END AS dup_bigram_ratio,
           CAST(CASE WHEN n_bigrams > 0
               AND round(1.0 - n_distinct_bigrams / n_bigrams::DOUBLE, 6) > 0.5
             THEN 1 ELSE 0 END AS INT) AS flag_repetitive
         FROM c""",
    "pii_scrub" ->
      """WITH staged AS (SELECT doc_id, text,
             regexp_replace(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t1
           FROM documents),
         staged2 AS (SELECT doc_id, text, t1,
             regexp_replace(t1, '[0-9]{3}-[0-9]{2}-[0-9]{4}', '<SSN>', 'g') AS t2
           FROM staged)
         SELECT doc_id,
           regexp_replace(t2, '\+?[0-9][0-9() -]{7,}[0-9]', '<PHONE>', 'g') AS text_scrubbed,
           CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
              + len(regexp_extract_all(t1, '[0-9]{3}-[0-9]{2}-[0-9]{4}'))
              + len(regexp_extract_all(t2, '\+?[0-9][0-9() -]{7,}[0-9]')) AS BIGINT)
             AS n_redactions
         FROM staged2""",
    "decontaminate" ->
      """WITH tok AS (SELECT doc_id,
             list_filter(string_split_regex(text,'\s+'), x->x<>'') AS t FROM documents),
         sh AS (SELECT doc_id, CASE WHEN len(t)>=3
             THEN list_distinct([t[i]||' '||t[i+1]||' '||t[i+2]
                                 FOR i IN generate_series(1, len(t)-2)])
             ELSE [] END AS s FROM tok),
         bench AS (SELECT DISTINCT unnest(s) AS gram FROM sh WHERE doc_id % 100 = 0),
         corp AS (SELECT doc_id, unnest(s) AS gram FROM sh WHERE doc_id % 100 <> 0),
         contaminated AS (SELECT doc_id FROM corp JOIN bench USING (gram)
           GROUP BY doc_id HAVING count(*) >= 5)
         SELECT doc_id FROM documents
         WHERE doc_id % 100 <> 0
           AND doc_id NOT IN (SELECT doc_id FROM contaminated)""",
    // The bloom path is output-identical to decontaminate by construction
    // (the exact join kills bloom false positives), so the oracle is the
    // same exact-set SQL — the approximation is an internal pre-filter,
    // not a semantic.
    "decontaminate_bloom" ->
      """WITH tok AS (SELECT doc_id,
             list_filter(string_split_regex(text,'\s+'), x->x<>'') AS t FROM documents),
         sh AS (SELECT doc_id, CASE WHEN len(t)>=3
             THEN list_distinct([t[i]||' '||t[i+1]||' '||t[i+2]
                                 FOR i IN generate_series(1, len(t)-2)])
             ELSE [] END AS s FROM tok),
         bench AS (SELECT DISTINCT unnest(s) AS gram FROM sh WHERE doc_id % 100 = 0),
         corp AS (SELECT doc_id, unnest(s) AS gram FROM sh WHERE doc_id % 100 <> 0),
         contaminated AS (SELECT doc_id FROM corp JOIN bench USING (gram)
           GROUP BY doc_id HAVING count(*) >= 5)
         SELECT doc_id FROM documents
         WHERE doc_id % 100 <> 0
           AND doc_id NOT IN (SELECT doc_id FROM contaminated)""",
    "dedup_cross_jaccard" ->
      """WITH tok AS (SELECT doc_id, source,
             list_filter(string_split_regex(text,'\s+'), x->x<>'') AS t FROM documents),
         sh AS (SELECT doc_id, source, CASE WHEN len(t)>=3
             THEN list_distinct([t[i]||' '||t[i+1]||' '||t[i+2]
                                 FOR i IN generate_series(1, len(t)-2)])
             ELSE [] END AS s FROM tok),
         ex AS (SELECT doc_id, source, unnest(s) AS sg, len(s) AS nsh FROM sh WHERE len(s)>0),
         pairs AS (SELECT a.doc_id AS corpus_id, b.doc_id AS ref_id, count(*) AS inter,
             any_value(a.nsh) AS na, any_value(b.nsh) AS nb
           FROM ex a JOIN ex b ON a.sg=b.sg
           WHERE a.source NOT IN ('src0','src1') AND b.source IN ('src0','src1')
           GROUP BY 1,2)
         SELECT corpus_id, ref_id, round(inter/(na+nb-inter),6) AS jacc FROM pairs
         WHERE round(inter/(na+nb-inter),6) >= 0.8""",
    // The LSH twin is output-identical at tau=0.8 (32x4-band recall 1.0 on
    // near-dup thresholds — the dedup_minhash_lsh precedent; candidates are
    // exact-Jaccard verified, so no unsound pair can appear).
    "dedup_cross_minhash" ->
      """WITH tok AS (SELECT doc_id, source,
             list_filter(string_split_regex(text,'\s+'), x->x<>'') AS t FROM documents),
         sh AS (SELECT doc_id, source, CASE WHEN len(t)>=3
             THEN list_distinct([t[i]||' '||t[i+1]||' '||t[i+2]
                                 FOR i IN generate_series(1, len(t)-2)])
             ELSE [] END AS s FROM tok),
         ex AS (SELECT doc_id, source, unnest(s) AS sg, len(s) AS nsh FROM sh WHERE len(s)>0),
         pairs AS (SELECT a.doc_id AS corpus_id, b.doc_id AS ref_id, count(*) AS inter,
             any_value(a.nsh) AS na, any_value(b.nsh) AS nb
           FROM ex a JOIN ex b ON a.sg=b.sg
           WHERE a.source NOT IN ('src0','src1') AND b.source IN ('src0','src1')
           GROUP BY 1,2)
         SELECT corpus_id, ref_id, round(inter/(na+nb-inter),6) AS jacc FROM pairs
         WHERE round(inter/(na+nb-inter),6) >= 0.8""",
    "decontaminate_neardup" ->
      """WITH tok AS (SELECT doc_id, source,
             list_filter(string_split_regex(text,'\s+'), x->x<>'') AS t FROM documents),
         sh AS (SELECT doc_id, source, CASE WHEN len(t)>=3
             THEN list_distinct([t[i]||' '||t[i+1]||' '||t[i+2]
                                 FOR i IN generate_series(1, len(t)-2)])
             ELSE [] END AS s FROM tok),
         ex AS (SELECT doc_id, source, unnest(s) AS sg, len(s) AS nsh FROM sh WHERE len(s)>0),
         pairs AS (SELECT a.doc_id AS corpus_id, count(*) AS inter,
             any_value(a.nsh) AS na, any_value(b.nsh) AS nb
           FROM ex a JOIN ex b ON a.sg=b.sg
           WHERE a.source NOT IN ('src0','src1') AND b.source IN ('src0','src1')
           GROUP BY a.doc_id, b.doc_id),
         flagged AS (SELECT DISTINCT corpus_id FROM pairs
           WHERE round(inter/(na+nb-inter),6) >= 0.8)
         SELECT doc_id FROM documents
         WHERE source NOT IN ('src0','src1')
           AND doc_id NOT IN (SELECT corpus_id FROM flagged)""",
    // exact replay: all-pairs qualifying Jaccard over the whole table, then
    // the three drop reasons — batch-internal bigger id, and either
    // orientation of a (new, existing) pair
    "dedup_incremental" -> IncrementalDedupOracle,
    // the store path must be id-for-id identical — one shared oracle
    "dedup_incremental_store" -> IncrementalDedupOracle,
    "temperature_sample" ->
      """WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY 1),
         m AS (SELECT min(n) AS n_min FROM c),
         rates AS (SELECT source, round(pow(n_min * 1.0 / n, 0.5), 6) AS p_keep
                   FROM c, m)
         SELECT d.doc_id, d.source, r.p_keep
         FROM documents d JOIN rates r ON d.source = r.source
         WHERE ((d.doc_id * 2654435761) % 4294967296) / 4294967296.0 < r.p_keep""",
    "contamination_report" ->
      """WITH tok AS (SELECT doc_id, source,
             list_filter(string_split_regex(text,'\s+'), x->x<>'') AS t FROM documents),
         sh AS (SELECT doc_id, source, CASE WHEN len(t)>=3
             THEN list_distinct([t[i]||' '||t[i+1]||' '||t[i+2]
                                 FOR i IN generate_series(1, len(t)-2)])
             ELSE [] END AS s FROM tok),
         ex AS (SELECT doc_id, source, unnest(s) AS sg, len(s) AS nsh FROM sh WHERE len(s)>0),
         pairs AS (SELECT a.doc_id AS corpus_id, b.doc_id AS ref_id, count(*) AS inter,
             any_value(a.nsh) AS na, any_value(b.nsh) AS nb
           FROM ex a JOIN ex b ON a.sg=b.sg
           WHERE a.source NOT IN ('src0','src1') AND b.source IN ('src0','src1')
           GROUP BY 1,2),
         qual AS (SELECT ref_id, round(inter/(na+nb-inter),6) AS jacc FROM pairs
           WHERE round(inter/(na+nb-inter),6) >= 0.8)
         SELECT ref_id, count(*) AS n_contaminating, max(jacc) AS max_jacc
         FROM qual GROUP BY 1""",
    // the dedup_groups recursive-CTE oracle with the split coin on top:
    // group_id is the component's canonical member, the coin is the same
    // Knuth multiplicative hash mixture_sample's oracle replays.
    "leakage_free_split" ->
      """WITH RECURSIVE tok AS (SELECT doc_id,
             list_filter(string_split_regex(text,'\s+'), x->x<>'') AS t FROM documents),
         sh AS (SELECT doc_id, CASE WHEN len(t)>=3
             THEN list_distinct([t[i]||' '||t[i+1]||' '||t[i+2]
                                 FOR i IN generate_series(1, len(t)-2)])
             ELSE [] END AS s FROM tok),
         ex AS (SELECT doc_id, unnest(s) AS sg, len(s) AS nsh FROM sh WHERE len(s)>0),
         cand AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter,
             any_value(a.nsh) AS na, any_value(b.nsh) AS nb
           FROM ex a JOIN ex b ON a.sg=b.sg AND a.doc_id<b.doc_id GROUP BY 1,2),
         pairs AS (SELECT a_id, b_id FROM cand
           WHERE round(inter/(na+nb-inter),6) >= 0.8),
         edges AS (SELECT a_id AS src, b_id AS dst FROM pairs
                   UNION ALL SELECT b_id, a_id FROM pairs),
         r(id, comp) AS (
           SELECT DISTINCT src, src FROM edges
           UNION
           SELECT e.src, r.comp FROM edges e JOIN r ON e.dst = r.id),
         lab AS (SELECT id, min(comp) AS comp FROM r GROUP BY id),
         g AS (SELECT d.doc_id, coalesce(l.comp, d.doc_id) AS group_id
               FROM documents d LEFT JOIN lab l ON d.doc_id = l.id)
         SELECT doc_id, group_id,
           CASE WHEN ((group_id * 2654435761) % 4294967296) / 4294967296.0 < 0.1
                THEN 'val' ELSE 'train' END AS split
         FROM g""",
    "pack_sequences" ->
      """WITH tok AS (SELECT doc_id,
             list_filter(string_split_regex(text,'\s+'), x->x<>'') AS t FROM documents),
         tt AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens FROM tok),
         c AS (SELECT doc_id, n_tokens,
             coalesce(sum(n_tokens) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb FROM tt)
         SELECT doc_id, n_tokens, CAST(floor(cb / 512) AS BIGINT) AS seq_id FROM c""",
    "global_shuffle" ->
      """SELECT doc_id, CAST(row_number() OVER (
           ORDER BY md5('42-' || CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS pos
         FROM documents""",
    "quota_sample" ->
      """WITH t AS (SELECT doc_id, source,
             CAST(len(list_filter(string_split_regex(text,'\s+'), x->x<>'')) AS BIGINT)
               AS n_tokens,
             md5(CAST(doc_id AS VARCHAR)) AS pri FROM documents)
         SELECT doc_id, source, n_tokens,
           CAST(coalesce(sum(n_tokens) OVER (PARTITION BY source ORDER BY pri, doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
             AS tokens_before,
           CAST(coalesce(sum(n_tokens) OVER (PARTITION BY source ORDER BY pri, doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
             < 2000 AS keep
         FROM t""",
    "gopher_rules" ->
      """WITH tok AS (SELECT doc_id,
             list_filter(string_split_regex(text,'\s+'), x->x<>'') AS t FROM documents),
         c AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_words,
             CAST(len(list_filter(t, x->regexp_matches(x,'[A-Za-z]'))) AS BIGINT) AS n_alpha,
             CAST(len(list_filter(t, x->list_contains(['the','a','of','and','to','in','is','it'], x))) AS BIGINT) AS n_stop,
             coalesce(list_sum(list_transform(t, x->length(x))), 0) AS tls FROM tok),
         m AS (SELECT doc_id, n_words, n_stop,
             round(tls / (CASE WHEN n_words>0 THEN n_words ELSE 1 END)::DOUBLE, 6) AS mean_word_len,
             round(n_alpha / (CASE WHEN n_words>0 THEN n_words ELSE 1 END)::DOUBLE, 6) AS alpha_frac
           FROM c)
         SELECT doc_id, n_words, n_stop, mean_word_len, alpha_frac,
           (n_words >= 50 AND n_words <= 100000) AS ok_words,
           (mean_word_len >= 3.0 AND mean_word_len <= 10.0) AS ok_mean_len,
           (alpha_frac >= 0.8) AS ok_alpha, (n_stop >= 2) AS ok_stop,
           (n_words >= 50 AND n_words <= 100000 AND mean_word_len >= 3.0
             AND mean_word_len <= 10.0 AND alpha_frac >= 0.8 AND n_stop >= 2) AS keep
         FROM m""",
    "dedup_paragraph" ->
      """WITH tok AS (SELECT doc_id,
             list_filter(string_split_regex(text,'\s+'), x->x<>'') AS t FROM documents),
         f AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n, t FROM tok WHERE len(t) > 0),
         paras AS (SELECT doc_id, u.i AS idx,
             array_to_string(t[(u.i*10+1)::BIGINT : (u.i*10+10)::BIGINT], ' ') AS para
           FROM f, UNNEST(range(0, ((n + 9) // 10)::BIGINT)) AS u(i)),
         boiler AS (SELECT para FROM
             (SELECT para, count(DISTINCT doc_id) AS nd FROM paras GROUP BY para)
           WHERE nd >= 2),
         m AS (SELECT p.doc_id, p.idx, p.para,
             CASE WHEN b.para IS NULL THEN 0 ELSE 1 END AS is_dup
           FROM paras p LEFT JOIN boiler b ON p.para = b.para)
         SELECT doc_id, count(*)::BIGINT AS n_paras, sum(is_dup)::BIGINT AS n_dropped,
           coalesce(array_to_string(list(para ORDER BY idx) FILTER (WHERE is_dup = 0), ' '), '')
             AS text_clean
         FROM m GROUP BY doc_id""",
    "chunk_overlap" ->
      """WITH tok AS (SELECT doc_id,
             list_filter(string_split_regex(text,'\s+'), x->x<>'') AS t FROM documents),
         f AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n, t FROM tok WHERE len(t) > 0)
         SELECT doc_id, u.i AS chunk_id,
           least(32, n - u.i*24)::BIGINT AS n_chunk_tokens,
           array_to_string(t[(u.i*24+1)::BIGINT : (u.i*24+32)::BIGINT], ' ') AS chunk_text
         FROM f, UNNEST(range(0, (1 + greatest(0, (n - 32 + 23) // 24))::BIGINT)) AS u(i)""",
    // Assignment replayed from the centroid relation the Verify run dumped
    // (the IVF bucket-dump pattern): exact scoring + (cos desc, cluster)
    // ranking over the identical model — the Lloyd trainer itself is
    // spec-covered; it IS the dumped relation.
    "kmeans_cluster" ->
      s"""WITH c AS (SELECT cluster, centroid
             FROM read_parquet('$KmeansCentroidDumpDir/*.parquet')),
           scored AS (SELECT e.vec_id, c.cluster,
               round(list_cosine_similarity(e.embedding::DOUBLE[], c.centroid::DOUBLE[]),6) AS cos
             FROM embeddings e CROSS JOIN c),
           r AS (SELECT vec_id, cluster, cos,
               row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cluster) AS rn
             FROM scored)
         SELECT vec_id, cluster, cos FROM r WHERE rn = 1""",
    // The accent translate is spelled with the same 27-char from/to tables
    // as TextAnalysis.AccentFrom/AccentTo (unicode_escape'd there, literal
    // UTF-8 here — DuckDB string literals take the bytes verbatim).
    "text_normalize" ->
      """WITH n AS (SELECT doc_id,
             trim(regexp_replace(regexp_replace(
               translate(lower(text), 'àáâãäåèéêëìíîïòóôõöùúûüçñýÿ', 'aaaaaaeeeeiiiiooooouuuucnyy'),
               '[0-9]+', '0', 'g'), '[^a-z0]+', ' ', 'g')) AS text_norm
           FROM documents)
         SELECT doc_id, text_norm,
           (CASE WHEN text_norm = '' THEN 0
                 ELSE len(string_split(text_norm, ' ')) END)::BIGINT AS n_words,
           length(text_norm)::BIGINT AS n_chars
         FROM n""",
    // floor(x+0.5) on BOTH engines (round() half-modes differ); max is
    // order-free; the cosine accumulates left-to-right in list order on
    // both engines (list_sum == sequential fold), formula spelled as
    // dot/(sqrt(nx)*sqrt(ny)) to match CosineSimilarity exactly.
    "embedding_quantize" ->
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
         s AS (SELECT vec_id, e,
             list_max(list_transform(e, x -> abs(x))) AS amax FROM v),
         q AS (SELECT vec_id, e,
             CASE WHEN amax = 0 THEN 0.0 ELSE amax / 127.0 END AS scale FROM s),
         r AS (SELECT vec_id, e, scale,
             list_transform(e, x -> CASE WHEN scale = 0 THEN 0.0
               ELSE greatest(-127.0, least(127.0, floor(x / scale + 0.5))) * scale
               END) AS recon FROM q),
         m AS (SELECT vec_id, scale,
             list_max(list_transform(e, x -> abs(x - (CASE WHEN scale = 0 THEN 0.0
               ELSE greatest(-127.0, least(127.0, floor(x / scale + 0.5))) * scale
               END)))) AS maxerr,
             list_sum(list_transform(list_zip(e, recon), p -> p[1] * p[2])) AS dot,
             list_sum(list_transform(e, x -> x * x)) AS nx,
             list_sum(list_transform(recon, x -> x * x)) AS ny
           FROM r)
         SELECT vec_id, round(scale, 9) AS scale, round(maxerr, 9) AS max_abs_err,
           round(CASE WHEN nx = 0 OR ny = 0 THEN 0.0
             ELSE dot / (sqrt(nx) * sqrt(ny)) END, 6) AS cos_recon
         FROM m""",
    // Assignment replayed from this query's OWN dumped centroid relation
    // (kmeans_cluster pattern), then the per-cluster md5-priority rank.
    "cluster_balanced_sample" ->
      s"""WITH c AS (SELECT cluster, centroid
             FROM read_parquet('$KmeansBalancedDumpDir/*.parquet')),
           scored AS (SELECT e.vec_id, c.cluster,
               round(list_cosine_similarity(e.embedding::DOUBLE[], c.centroid::DOUBLE[]),6) AS cos
             FROM embeddings e CROSS JOIN c),
           a AS (SELECT vec_id, cluster,
               row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cluster) AS rn
             FROM scored),
           asg AS (SELECT vec_id, cluster FROM a WHERE rn = 1),
           r AS (SELECT vec_id, cluster,
               row_number() OVER (PARTITION BY cluster
                 ORDER BY md5(vec_id::VARCHAR), vec_id) AS rnk
             FROM asg)
         SELECT vec_id, cluster, rnk::BIGINT AS rnk, rnk <= 20 AS keep FROM r""",
    "lm_perplexity" ->
      """WITH tok AS (SELECT doc_id,
             list_filter(string_split_regex(text,'\s+'), x->x<>'') AS t FROM documents),
         uni AS (SELECT doc_id, unnest(t) AS w FROM tok),
         c1 AS (SELECT w, count(*) AS c FROM uni GROUP BY w),
         v AS (SELECT count(DISTINCT w) AS v FROM uni),
         bg AS (SELECT doc_id, t[i] AS w1, t[i+1] AS w2
                FROM tok, unnest(generate_series(1, len(t)-1)) AS g(i)
                WHERE len(t) >= 2),
         c2 AS (SELECT w1, w2, count(*) AS c FROM bg GROUP BY w1, w2),
         sc AS (SELECT b.doc_id, count(*) AS n_bigrams,
                  avg(ln((c2.c + 1.0)/(c1.c + v.v))) AS a
                FROM bg b JOIN c2 USING (w1, w2) JOIN c1 ON b.w1 = c1.w CROSS JOIN v
                GROUP BY b.doc_id)
         SELECT d.doc_id, coalesce(sc.n_bigrams, 0) AS n_bigrams,
           round(sc.a, 6) AS avg_ll, round(exp(-sc.a), 4) AS ppl
         FROM documents d LEFT JOIN sc USING (doc_id)""",
    "bpe_token_count" ->
      ("""WITH tok AS (SELECT doc_id,
             list_filter(string_split_regex(text,'\s+'), x->x<>'') AS t FROM documents),
         w AS (SELECT doc_id, unnest(t) AS word FROM tok),
         enc AS (SELECT * FROM read_parquet('""" + BpeWordDumpDir + """/*.parquet')),
         agg AS (SELECT doc_id, count(*) AS n_tokens,
                   CAST(sum(n_sub) AS BIGINT) AS n_bpe
                 FROM w JOIN enc USING (word) GROUP BY doc_id)
         SELECT d.doc_id, coalesce(agg.n_tokens, 0) AS n_tokens,
           coalesce(agg.n_bpe, 0) AS n_bpe_tokens
         FROM documents d LEFT JOIN agg USING (doc_id)"""),
    "dedup_semantic" ->
      """WITH RECURSIVE pairs AS (
           SELECT a.vec_id AS a_id, b.vec_id AS b_id
           FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
           WHERE round(list_cosine_similarity(a.embedding::DOUBLE[],
             b.embedding::DOUBLE[]),5) >= 0.4),
         edges AS (SELECT a_id AS src, b_id AS dst FROM pairs
           UNION SELECT b_id, a_id FROM pairs),
         r AS (SELECT vec_id AS id, vec_id AS comp FROM embeddings
           UNION SELECT e.src, r.comp FROM edges e JOIN r ON e.dst = r.id),
         lab AS (SELECT id, min(comp) AS comp FROM r GROUP BY id)
         SELECT v.vec_id, coalesce(l.comp, v.vec_id) AS group_id,
           v.vec_id = coalesce(l.comp, v.vec_id) AS keep
         FROM embeddings v LEFT JOIN lab l ON v.vec_id = l.id""",
    // Same grouping recursion, but the pair graph is recovered from the
    // dumped sign-LSH bucket relation (candidates = any shared table
    // bucket) and verified by exact cosine — the whole ANN downstream
    // replayed by an independent engine over the identical relation.
    "dedup_semantic_ann" ->
      s"""WITH RECURSIVE bk AS (
           SELECT vec_id, bucket FROM read_parquet('$SemAnnBucketDumpDir/*.parquet')),
         cand AS (SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
           FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
         pairs AS (SELECT c.a_id, c.b_id FROM cand c
           JOIN embeddings ea ON ea.vec_id = c.a_id
           JOIN embeddings eb ON eb.vec_id = c.b_id
           WHERE round(list_cosine_similarity(ea.embedding::DOUBLE[],
             eb.embedding::DOUBLE[]),5) >= 0.4),
         edges AS (SELECT a_id AS src, b_id AS dst FROM pairs
           UNION SELECT b_id, a_id FROM pairs),
         r AS (SELECT vec_id AS id, vec_id AS comp FROM embeddings
           UNION SELECT e.src, r.comp FROM edges e JOIN r ON e.dst = r.id),
         lab AS (SELECT id, min(comp) AS comp FROM r GROUP BY id)
         SELECT v.vec_id, coalesce(l.comp, v.vec_id) AS group_id,
           v.vec_id = coalesce(l.comp, v.vec_id) AS keep
         FROM embeddings v LEFT JOIN lab l ON v.vec_id = l.id""",
    "unigram_token_count" ->
      ("""WITH tok AS (SELECT doc_id,
             list_filter(string_split_regex(text,'\s+'), x->x<>'') AS t FROM documents),
         w AS (SELECT doc_id, unnest(t) AS word FROM tok),
         enc AS (SELECT * FROM read_parquet('""" + UnigramWordDumpDir + """/*.parquet')),
         agg AS (SELECT doc_id, count(*) AS n_tokens,
                   CAST(sum(n_sub) AS BIGINT) AS n_uni
                 FROM w JOIN enc USING (word) GROUP BY doc_id)
         SELECT d.doc_id, coalesce(agg.n_tokens, 0) AS n_tokens,
           coalesce(agg.n_uni, 0) AS n_unigram_tokens
         FROM documents d LEFT JOIN agg USING (doc_id)"""),
    // Scoring arithmetic replayed over the dumped weight + feature
    // relations (training is spec-covered — it produced the dump);
    // labels recomputed from the raw lang column.
    "quality_classifier" ->
      ("""WITH w AS (SELECT idx, w FROM read_parquet('""" + ClfWeightsDumpDir + """/*.parquet')),
         b AS (SELECT w FROM w WHERE idx = -1),
         f AS (SELECT * FROM read_parquet('""" + ClfFeatsDumpDir + """/*.parquet')),
         s AS (SELECT f.doc_id, sum(f.v * w.w) AS dot
               FROM f JOIN w ON f.idx = w.idx GROUP BY f.doc_id),
         lab AS (SELECT doc_id,
             list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
           FROM documents)
         SELECT d.doc_id,
           CASE WHEN len(list_filter(lab.t, x -> list_contains(
                  ['the','a','of','and','to','in','is','it'], x)))::DOUBLE
                  >= 0.06 * len(lab.t)::DOUBLE AND len(lab.t) > 0
                THEN 1 ELSE 0 END AS y,
           round(coalesce(s.dot, 0) + (SELECT w FROM b), 5) AS margin,
           CASE WHEN coalesce(s.dot, 0) + (SELECT w FROM b) > 0
                THEN 1 ELSE 0 END AS pred
         FROM documents d
         LEFT JOIN s ON d.doc_id = s.doc_id
         JOIN lab ON d.doc_id = lab.doc_id"""),
    // True counts from raw text; estimates replayed as the min-over-rows
    // lookup from the dumped counter matrix + candidate cell map.
    "cms_heavyhitters" ->
      ("""WITH m AS (SELECT * FROM read_parquet('""" + CmsMatrixDumpDir + """/*.parquet')),
         cand AS (SELECT * FROM read_parquet('""" + CmsCandDumpDir + """/*.parquet')),
         topk AS (SELECT word, count(*) AS n_true FROM (
             SELECT unnest(string_split_regex(text, '\s+')) AS word FROM documents)
           WHERE word <> '' GROUP BY word ORDER BY n_true DESC, word LIMIT 20),
         est AS (SELECT c.word, min(m.c) AS n_est FROM cand c
             JOIN m ON c.d = m.d AND c.idx = m.idx GROUP BY c.word)
         SELECT t.word, t.n_true, e.n_est FROM topk t JOIN est e ON t.word = e.word"""),
    "tfidf_top_terms" ->
      """WITH tok AS (SELECT doc_id,
             list_filter(string_split_regex(text,'\s+'), x->x<>'') AS t FROM documents),
         ex AS (SELECT doc_id, unnest(t) AS term FROM tok),
         tf AS (SELECT doc_id, term, count(*) AS tf FROM ex GROUP BY 1, 2),
         df AS (SELECT term, count(DISTINCT doc_id) AS df FROM ex GROUP BY 1),
         n AS (SELECT count(*) AS n FROM documents),
         scored AS (SELECT doc_id, term, tf,
             round(tf * ln(n / df), 6) AS tfidf
           FROM tf JOIN df USING (term) CROSS JOIN n),
         ranked AS (SELECT *, row_number() OVER
             (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rn FROM scored)
         SELECT doc_id, term, tf, tfidf, rn FROM ranked WHERE rn <= 3""",
    "ngram_counts" ->
      """WITH tok AS (SELECT doc_id,
             list_filter(string_split_regex(text,'\s+'), x->x<>'') AS t FROM documents),
         sh AS (SELECT doc_id, list_distinct([t[i]||' '||t[i+1]
                  FOR i IN generate_series(1, len(t)-1)]) AS s FROM tok),
         ex AS (SELECT unnest(s) AS ngram FROM sh)
         SELECT ngram, count(*) AS n_docs FROM ex
         GROUP BY ngram HAVING count(*) >= 2""",
    // Decoded-field predictions in closed form from the same per-doc
    // parameters the Spark side synthesizes payloads with; rms mirrors the
    // builder's quantization (round(amp*32768)/32768) arithmetic exactly.
    "audio_decode" ->
      """SELECT doc_id AS media_id, 'wave' AS format, 8000.0::DOUBLE AS sample_rate,
         1 AS channels, 16 AS bits, 100 + doc_id % 400 AS n_frames,
         round((100 + doc_id % 400) / 8000.0, 6) AS duration_sec,
         round(round(((doc_id % 9) + 1) / 10.0 * 32768.0) / 32768.0, 6) AS rms
         FROM documents""",
    "video_meta" ->
      """SELECT doc_id AS media_id,
         CASE WHEN doc_id % 2 = 0 THEN 'mp4' ELSE 'avi' END AS container,
         160 + 16 * (doc_id % 20) AS width,
         120 + 16 * (doc_id % 15) AS height,
         round(CASE WHEN doc_id % 2 = 0 THEN (1000 + 100 * (doc_id % 30)) / 1000.0
               ELSE (250 + doc_id % 100) * 40000 / 1000000.0 END, 6) AS duration_sec,
         2 AS n_tracks
         FROM documents""",
    // Frame-sampling structure + planted luma grid recovered in closed
    // form (everyK=2 over 4 + doc_id%5 frames; decoded luma rounds back to
    // its planted 16-step grid level).
    "video_frames" ->
      """SELECT doc_id AS media_id, u.frame_idx,
         48 + 16 * (doc_id % 4) AS width,
         32 + 16 * (doc_id % 3) AS height,
         (doc_id + u.frame_idx) % 13 AS luma_level
         FROM documents, UNNEST(range(0, (4 + doc_id % 5)::BIGINT, 2)) AS u(frame_idx)
         WHERE doc_id % 10 = 0""",
    // The bridge fixture is a pure function of payload LENGTH (100 + id%400
    // bytes by construction): three 16x16 frames, frame i filled with
    // (len + i) % 256, frame_idx reconstructed at everyK = 4 spacing.
    "video_frames_bridge" ->
      """WITH f AS (SELECT doc_id, (100 + doc_id % 400)::BIGINT AS len
           FROM documents WHERE doc_id < 200),
         u AS (SELECT doc_id, len, unnest(range(0, 3)) AS i FROM f)
         SELECT doc_id AS media_id, (i * 4)::BIGINT AS frame_idx,
           16::BIGINT AS width, 16::BIGINT AS height,
           256::BIGINT AS frame_bytes,
           round(((len + i) % 256)::DOUBLE, 6) AS mean_luma,
           TRUE AS real_decode
         FROM u""",
    // Shrink-only aspect-kept box fit, same integer arithmetic as the Scala
    // path (// is floor division, as is Scala Int /); constant gray is
    // invariant under resampling so luma_level recovers id%13 exactly.
    "image_resize" ->
      """SELECT doc_id AS media_id,
         greatest(1, (40 + 16*(doc_id%7)) * 64 // greatest(40 + 16*(doc_id%7), 24 + 16*(doc_id%5), 64)) AS width,
         greatest(1, (24 + 16*(doc_id%5)) * 64 // greatest(40 + 16*(doc_id%7), 24 + 16*(doc_id%5), 64)) AS height,
         doc_id % 13 AS luma_level
         FROM documents WHERE doc_id % 10 = 0""",
    // Candidate recovery + exact scoring + ranking over the bucket/probe
    // relations the Verify run dumped — checks the bucket join, the cosine
    // scoring, and the (cos desc, n_id) ranking independently; the bucketing
    // function itself is the dumped relation (spec-covered).
    "ann_ivf_topk" ->
      s"""WITH b AS (SELECT n_id, bucket FROM read_parquet('$IvfBucketDumpDir/*.parquet')),
           p AS (SELECT q_id, bucket FROM read_parquet('$IvfProbeDumpDir/*.parquet')),
           cand AS (SELECT DISTINCT p.q_id, b.n_id
             FROM b JOIN p ON b.bucket = p.bucket WHERE p.q_id <> b.n_id),
           scored AS (SELECT c.q_id, c.n_id,
             round(list_cosine_similarity(q.embedding::DOUBLE[], n.embedding::DOUBLE[]),6) AS cos
             FROM cand c JOIN embeddings q ON q.vec_id = c.q_id
                         JOIN embeddings n ON n.vec_id = c.n_id),
           ranked AS (SELECT q_id, n_id, cos,
             row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rn FROM scored)
         SELECT q_id, n_id, cos, rn FROM ranked WHERE rn <= 5""",
    // Postings come FROM the persisted hive-partitioned index (the bucket
    // is the partition directory); probes from the dumped probe relation.
    "ann_ivf_persisted" ->
      s"""WITH post AS (SELECT vec_id AS n_id, bucket::BIGINT AS bucket
             FROM read_parquet('$IvfIndexDir/postings/*/*.parquet', hive_partitioning=1)),
           p AS (SELECT q_id, bucket::BIGINT AS bucket
             FROM read_parquet('$IvfIndexProbeDumpDir/*.parquet')),
           cand AS (SELECT DISTINCT p.q_id, post.n_id
             FROM post JOIN p ON post.bucket = p.bucket WHERE p.q_id <> post.n_id),
           scored AS (SELECT c.q_id, c.n_id,
             round(list_cosine_similarity(q.embedding::DOUBLE[], n.embedding::DOUBLE[]),6) AS cos
             FROM cand c JOIN embeddings q ON q.vec_id = c.q_id
                         JOIN embeddings n ON n.vec_id = c.n_id),
           ranked AS (SELECT q_id, n_id, cos,
             row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rn FROM scored)
         SELECT q_id, n_id, cos, rn FROM ranked WHERE rn <= 5""",
    "corpus_diff" ->
      """WITH old AS (SELECT doc_id, text FROM documents),
           nw AS (
             SELECT doc_id,
               CASE WHEN doc_id % 13 = 1 THEN text || ' v2' ELSE text END AS text
             FROM old WHERE doc_id % 17 <> 0
             UNION ALL
             SELECT doc_id + 1000000, text FROM old WHERE doc_id % 29 = 3),
           o AS (SELECT doc_id, md5(text) AS old_hash FROM old),
           n AS (SELECT doc_id, md5(text) AS new_hash FROM nw),
           j AS (SELECT coalesce(o.doc_id, n.doc_id) AS doc_id, old_hash, new_hash
             FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id)
         SELECT doc_id,
           CASE WHEN new_hash IS NULL THEN 'removed'
                WHEN old_hash IS NULL THEN 'added'
                ELSE 'changed' END AS status,
           old_hash, new_hash
         FROM j
         WHERE new_hash IS NULL OR old_hash IS NULL OR old_hash <> new_hash""",
    "ann_lsh_topk" ->
      s"""WITH b AS (SELECT n_id, bucket FROM read_parquet('$LshBucketDumpDir/*.parquet')),
           p AS (SELECT q_id, bucket FROM read_parquet('$LshProbeDumpDir/*.parquet')),
           cand AS (SELECT DISTINCT p.q_id, b.n_id
             FROM b JOIN p ON b.bucket = p.bucket WHERE p.q_id <> b.n_id),
           scored AS (SELECT c.q_id, c.n_id,
             round(list_cosine_similarity(q.embedding::DOUBLE[], n.embedding::DOUBLE[]),6) AS cos
             FROM cand c JOIN embeddings q ON q.vec_id = c.q_id
                         JOIN embeddings n ON n.vec_id = c.n_id),
           ranked AS (SELECT q_id, n_id, cos,
             row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rn FROM scored)
         SELECT q_id, n_id, cos, rn FROM ranked WHERE rn <= 5""",
    // Min reduction over the window-hash relation the Verify run dumped —
    // checks the winnowing min-sampling step against an independent engine.
    "rolling_fingerprint" ->
      s"""WITH m AS (SELECT doc_id, min(h) AS rh
             FROM read_parquet('$RollingHashDumpDir/*.parquet') GROUP BY doc_id)
         SELECT d.doc_id, m.rh, length(d.text)::BIGINT AS n_chars
         FROM documents d JOIN m ON d.doc_id = m.doc_id""",
    // All-pairs hamming over the fingerprint relation the Verify run dumped —
    // checks the banding stage found EVERY pair within the radius, not just
    // plausible ones (the fingerprint function itself is spec-covered).
    "dedup_simhash" ->
      s"""WITH fp AS (SELECT doc_id, fp
           FROM read_parquet('$SimhashFpDumpDir/*.parquet'))
         SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           bit_count(xor(a.fp, b.fp)) AS hamming
         FROM fp a JOIN fp b ON a.doc_id < b.doc_id
         WHERE bit_count(xor(a.fp, b.fp)) <= 6""",
    "dedup_simhash_idf" ->
      s"""WITH fp AS (SELECT doc_id, fp
           FROM read_parquet('$SimhashIdfFpDumpDir/*.parquet'))
         SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           bit_count(xor(a.fp, b.fp)) AS hamming
         FROM fp a JOIN fp b ON a.doc_id < b.doc_id
         WHERE bit_count(xor(a.fp, b.fp)) <= 6""",
    "multimodal_meta" ->
      """SELECT doc_id, strlen(text) AS byte_len, md5(text) AS content_md5,
         CASE WHEN ascii(text[1])%3=0 THEN 'image'
              WHEN ascii(text[1])%3=1 THEN 'audio'
              ELSE 'video' END AS kind
         FROM documents""",
    "curation_pipeline" ->
      """WITH tok AS (SELECT doc_id, text,
             list_filter(string_split_regex(text,'\s+'), x->x<>'') AS t FROM documents),
         q AS (SELECT doc_id, len(t) AS n_tokens,
             round(least(1.0, len(t)/50.0)*0.4
               + round(len(list_filter(t, x->list_contains(['the','a','of','and','to','in','is','it'], x)))
                   / (CASE WHEN len(t)>0 THEN len(t) ELSE 1 END)::DOUBLE, 6)*0.4
               + (1.0 - round((length(text) - length(regexp_replace(text,'[.,!?;:]','','g')))
                   / (CASE WHEN length(text)>0 THEN length(text) ELSE 1 END)::DOUBLE, 6))*0.2, 6) AS quality
           FROM tok),
         canon AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
         surv AS (SELECT doc_id FROM q WHERE quality >= 0.5
                    AND doc_id IN (SELECT doc_id FROM canon)),
         sh AS (SELECT doc_id, CASE WHEN len(t)>=3
             THEN list_distinct([t[i]||' '||t[i+1]||' '||t[i+2]
                                 FOR i IN generate_series(1, len(t)-2)])
             ELSE [] END AS s FROM tok
           WHERE doc_id IN (SELECT doc_id FROM surv)),
         ex AS (SELECT doc_id, unnest(s) AS sg, len(s) AS nsh FROM sh WHERE len(s)>0),
         pairs AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter,
             any_value(a.nsh) AS na, any_value(b.nsh) AS nb
           FROM ex a JOIN ex b ON a.sg=b.sg AND a.doc_id<b.doc_id GROUP BY 1,2),
         losers AS (SELECT b_id FROM pairs WHERE round(inter/(na+nb-inter),6) >= 0.8)
         SELECT doc_id, n_tokens, quality FROM q
         WHERE quality >= 0.5
           AND doc_id IN (SELECT doc_id FROM canon)
           AND doc_id NOT IN (SELECT b_id FROM losers)""",
    "topk_custom_operator" ->
      """SELECT o_custkey, o_orderkey, o_totalprice_r FROM (
           SELECT o_custkey, o_orderkey, round(o_totalprice,2) AS o_totalprice_r,
             row_number() OVER (PARTITION BY o_custkey
               ORDER BY round(o_totalprice,2) DESC, o_orderkey) AS rn
           FROM orders) WHERE rn <= 3""",
    // curation_pipeline's SQL re-based onto the mixture-sampled +
    // repetition-kept document set (the two predicate stages fused ahead).
    "curation_full" ->
      """WITH base AS (SELECT doc_id, text FROM documents
           WHERE ((doc_id * 2654435761) % 4294967296) / 4294967296.0
               < ((CAST(substr(source, 4) AS INT) % 5) + 1) / 5.0),
         tok0 AS (SELECT doc_id, text,
             list_filter(string_split_regex(text,'\s+'), x->x<>'') AS t FROM base),
         tok AS (SELECT doc_id, text, t FROM tok0
           WHERE (CASE WHEN len(t) >= 2
             THEN round(1.0 - len(list_distinct([t[i]||' '||t[i+1]
                 FOR i IN generate_series(1, len(t)-1)])) / (len(t)-1)::DOUBLE, 6)
             ELSE 0.0 END) <= 0.5),
         q AS (SELECT doc_id, len(t) AS n_tokens,
             round(least(1.0, len(t)/50.0)*0.4
               + round(len(list_filter(t, x->list_contains(['the','a','of','and','to','in','is','it'], x)))
                   / (CASE WHEN len(t)>0 THEN len(t) ELSE 1 END)::DOUBLE, 6)*0.4
               + (1.0 - round((length(text) - length(regexp_replace(text,'[.,!?;:]','','g')))
                   / (CASE WHEN length(text)>0 THEN length(text) ELSE 1 END)::DOUBLE, 6))*0.2, 6) AS quality
           FROM tok),
         canon AS (SELECT min(doc_id) AS doc_id FROM tok GROUP BY md5(text)),
         surv AS (SELECT doc_id FROM q WHERE quality >= 0.5
                    AND doc_id IN (SELECT doc_id FROM canon)),
         sh AS (SELECT doc_id, CASE WHEN len(t)>=3
             THEN list_distinct([t[i]||' '||t[i+1]||' '||t[i+2]
                                 FOR i IN generate_series(1, len(t)-2)])
             ELSE [] END AS s FROM tok
           WHERE doc_id IN (SELECT doc_id FROM surv)),
         ex AS (SELECT doc_id, unnest(s) AS sg, len(s) AS nsh FROM sh WHERE len(s)>0),
         pairs AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter,
             any_value(a.nsh) AS na, any_value(b.nsh) AS nb
           FROM ex a JOIN ex b ON a.sg=b.sg AND a.doc_id<b.doc_id GROUP BY 1,2),
         losers AS (SELECT b_id FROM pairs WHERE round(inter/(na+nb-inter),6) >= 0.8)
         SELECT doc_id, n_tokens, quality FROM q
         WHERE quality >= 0.5
           AND doc_id IN (SELECT doc_id FROM canon)
           AND doc_id NOT IN (SELECT b_id FROM losers)""",
  )
}
