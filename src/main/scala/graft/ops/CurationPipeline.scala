package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** End-to-end training-data curation: the composition every LLM data
  * pipeline runs, as ONE declarative plan —
  *
  *   quality filter → exact dedup (canonical copy) → near-dup removal
  *
  * Each stage is an already-oracle-checked operator; the composition stays
  * lazy, so Catalyst fuses the map-side stages (quality metrics, hashing)
  * into the scan and the only shuffles are the dedup groupBy and the
  * near-dup pair join. Survivors = canonical, high-quality, near-dup-free.
  *
  * At 100 TB: quality scoring is scan-speed; exact dedup one shuffle;
  * near-dup stage swaps in minhashLshPairs (same output contract) when the
  * corpus outgrows the exact pair join.
  */
object CurationPipeline {

  def curate(docs: DataFrame, minQuality: Double = 0.5,
             nearDupTau: Double = 0.8): DataFrame = {
    val quality = TextAnalysis.qualityScore(docs)
      .filter(col("quality") >= minQuality)
      .select(col("doc_id"), col("n_tokens"), col("quality"))
    // canonical exact copies (min doc_id per content hash)
    val canonical = DedupOps.dedupExact(docs).select(col("canonical_id").as("doc_id"))
    val preNearDup = quality.join(canonical, Seq("doc_id"), "left_semi")
    // Near-dup pairs are computed over the post-quality canonical SURVIVORS,
    // not the full corpus: if the lower-id member of a pair was already
    // dropped (quality / exact dedup), the higher-id copy must NOT also be
    // removed — otherwise every copy of that content could vanish.
    val survivorDocs = docs.join(preNearDup.select(col("doc_id")), Seq("doc_id"), "left_semi")
    // PPJoin prefix-filtered pair join: identical output to the full
    // inverted-index form (both hash-match the same oracle), ~4× cheaper
    // here and the zero-recall-loss exact path at 100 TB.
    val losers = DedupOps.ngramJaccardPairsPrefix(survivorDocs, tau = nearDupTau)
      .select(col("b_id").as("doc_id"))
    preNearDup.join(losers, Seq("doc_id"), "left_anti")
  }

  /** The full curation composition a training-mixture build runs:
    *
    *   mixture sample → repetition filter → quality filter →
    *   exact dedup → near-dup removal
    *
    * The two new stages are pure predicate Columns, so they FUSE into the
    * same scan as the quality metrics (one pass over text, zero extra
    * shuffles — the plan is curate()'s plan with two more conjuncts in the
    * scan-side filter). Survivor-set semantics are curate()'s: near-dup
    * pairs are computed over post-filter canonical survivors only, so no
    * content is orphaned by a dropped lower-id copy. */
  def curateFull(docs: DataFrame, minQuality: Double = 0.5,
                 nearDupTau: Double = 0.8, maxDupBigram: Double = 0.5): DataFrame =
    curate(docs.filter(TextAnalysis.mixtureKeep && TextAnalysis.repetitionOk(maxDupBigram)),
      minQuality, nearDupTau)

  /** curate() with end-to-end counters riding the job (the MR Counters
    * contract — reference Counters.java:1 — via Dataset.observe): one
    * action yields the survivors AND (input_rows) + (survivor_rows,
    * survivor_tokens) without extra scans. Read the Observations after the
    * next action on the returned frame. */
  def curateWithCounters(docs: DataFrame, minQuality: Double = 0.5,
                         nearDupTau: Double = 0.8)
      : (DataFrame, org.apache.spark.sql.Observation, org.apache.spark.sql.Observation) = {
    val inObs = org.apache.spark.sql.Observation()
    val outObs = org.apache.spark.sql.Observation()
    val observed = docs.observe(inObs, count(lit(1)).as("input_rows"))
    val out = curate(observed, minQuality, nearDupTau)
      .observe(outObs, count(lit(1)).as("survivor_rows"),
        sum(col("n_tokens")).as("survivor_tokens"))
    (out, inObs, outObs)
  }

  /** Benchmark decontamination (the eval-leak guard every training corpus
    * needs): drop corpus docs sharing ≥ minOverlap distinct word n-grams
    * with the benchmark set's n-gram UNION. The benchmark gram set is
    * vocabulary-sized — explode + distinct + broadcast — so the corpus side
    * stays one scan + one semi-structured join + one groupBy; survivors via
    * anti join. Returns surviving (doc_id) rows. */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame,
                    n: Int = 3, minOverlap: Long = 5): DataFrame = {
    def grams(df: DataFrame) = df.select(col("doc_id"),
      explode(graft.functions.GraftFunctions.shingleArray(
        TextOps.tokens(col("text")), n)).as("gram"))
    val benchGrams = grams(benchmark).select(col("gram")).distinct()
    val contaminated = grams(corpus)
      .join(broadcast(benchGrams), "gram")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minOverlap)
    corpus.select(col("doc_id"))
      .join(contaminated.select(col("doc_id")), Seq("doc_id"), "left_anti")
  }

  /** [[decontaminate]]'s beyond-broadcast twin — IDENTICAL output, built for
    * the scale where the benchmark n-gram union no longer broadcasts (at
    * 100 TB an eval-suite union can run to 10^9 grams — GBs of strings).
    * Shape: (1) one distributed pass builds a bloom filter over the bench
    * grams (`BloomBuildAgg`, OR-merged bit arrays; driver holds one
    * ~bitsPerGram/8·|grams| blob — bounded model state, not a data
    * collect); (2) corpus grams are pre-filtered MAP-SIDE by the codegen'd
    * `bloom_might_contain(xxhash64(gram))`, so the exact gram join that
    * follows shuffles only true hits + ~fpr false positives instead of
    * every corpus gram; (3) the exact string equi-join kills the false
    * positives — bloom filters have no false negatives, so the survivor
    * set is decontaminate's to the row. The bench-gram relation itself
    * joins shuffle-side (no broadcast anywhere), completing the scale
    * story. Defaults: 10 bits/gram, k=7 ≈ 1% FPR. */
  def decontaminateBloom(corpus: DataFrame, benchmark: DataFrame,
                         n: Int = 3, minOverlap: Long = 5,
                         bitsPerGram: Int = 10, numHashes: Int = 7): DataFrame = {
    def grams(df: DataFrame) = df.select(col("doc_id"),
      explode(graft.functions.GraftFunctions.shingleArray(
        TextOps.tokens(col("text")), n)).as("gram"))
    val benchGrams = grams(benchmark).select(col("gram")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Size the filter from the measured distinct-gram count (cheap: the
    // persisted relation this same plan re-reads for the exact join).
    val nGrams = math.max(1L, benchGrams.count())
    val numBits = math.min(1L << 30, math.max(1024L, nGrams * bitsPerGram)).toInt
    val blob = benchGrams
      .agg(graft.functions.GraftFunctions.bloomBuild(
        xxhash64(col("gram")), numBits, numHashes).as("blob"))
      .head().getAs[Array[Byte]](0)
    val contaminated = grams(corpus)
      .filter(graft.functions.GraftFunctions.bloomMightContain(
        xxhash64(col("gram")), blob))
      // exact verify: SHUFFLE join on survivors only. shuffle_hash hint, not
      // Catalyst's choice: at toy SF it would pick broadcast, which is the
      // regime this twin exists to escape — the plan must demonstrate the
      // no-broadcast shape at every scale.
      .join(benchGrams.hint("shuffle_hash"), "gram")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minOverlap)
    corpus.select(col("doc_id"))
      .join(contaminated.select(col("doc_id")), Seq("doc_id"), "left_anti")
  }

  /** Fuzzy decontamination: drop corpus docs NEAR-DUPLICATE to any benchmark
    * doc (shingle Jaccard ≥ tau) — catches the paraphrased/lightly-edited
    * contamination that [[decontaminate]]'s exact n-gram overlap misses.
    * Same output contract as decontaminate: surviving (doc_id) rows.
    * useLsh=true routes candidates through the MinHash-LSH bucketed join
    * ([[DedupOps.crossMinhashPairs]]) — the 100 TB path; both forms emit
    * identical survivors at τ ≥ ~0.8 (LSH recall 1.0 there, spec-pinned). */
  def decontaminateNearDup(corpus: DataFrame, benchmark: DataFrame,
                           tau: Double = 0.8, useLsh: Boolean = false): DataFrame = {
    val pairs =
      if (useLsh) DedupOps.crossMinhashPairs(corpus, benchmark, tau)
      else DedupOps.crossJaccardPairs(corpus, benchmark, tau)
    corpus.select(col("doc_id"))
      .join(pairs.select(col("corpus_id").as("doc_id")).distinct(), Seq("doc_id"), "left_anti")
  }

  /** Incremental ingest dedup — the composite an ingestion pipeline runs on
    * every new batch: keep a new doc only if it is NOT a near-duplicate of
    * (i) the already-ingested corpus (cross-corpus LSH) or (ii) a
    * smaller-id doc in the same batch (the batch's own pair graph, the
    * same min-id-survives greedy rule the dedup family uses throughout —
    * deterministic, non-transitive by design: a doc is dropped for HAVING a
    * smaller near-dup, kept or not, so the rule needs no component
    * resolution and one batch's verdicts never depend on iteration order).
    * Both pair stages are the scale-proven MinHash-LSH paths and share ONE
    * banded shingle pass of the new batch ([[DedupOps.incrementalDropIds]]);
    * the existing side never reshuffles more than its banded (hash-only)
    * relation. Output: surviving new-doc (doc_id) rows. */
  def incrementalDedup(newDocs: DataFrame, existing: DataFrame,
                       tau: Double = 0.8): DataFrame =
    newDocs.select(col("doc_id"))
      .join(DedupOps.incrementalDropIds(newDocs, existing, tau),
        Seq("doc_id"), "left_anti")

  /** [[incrementalDedup]] routed through a persisted MinHash signature
    * store ([[DedupOps.minhashWriteStore]]) — identical survivors, but the
    * existing corpus's signature pass is amortized across batches instead
    * of recomputed per ingest. */
  def incrementalDedupFromStore(newDocs: DataFrame, existing: DataFrame,
                                storeDir: String, tau: Double = 0.8): DataFrame =
    newDocs.select(col("doc_id"))
      .join(DedupOps.incrementalDropIdsFromStore(newDocs, existing, storeDir, tau),
        Seq("doc_id"), "left_anti")

  /** Per-benchmark-doc contamination rollup — the report an eval owner
    * reads before trusting a score: for each benchmark doc with at least
    * one near-duplicate in the corpus, how many corpus docs collide and how
    * close the closest is. One tiny agg over [[DedupOps.crossJaccardPairs]]
    * (or the LSH path at scale — identical pairs, identical report).
    * Output: (ref_id, n_contaminating, max_jacc). */
  def contaminationReport(corpus: DataFrame, benchmark: DataFrame,
                          tau: Double = 0.8, useLsh: Boolean = false): DataFrame = {
    val pairs =
      if (useLsh) DedupOps.crossMinhashPairs(corpus, benchmark, tau)
      else DedupOps.crossJaccardPairs(corpus, benchmark, tau)
    pairs.groupBy(col("ref_id"))
      .agg(count(lit(1)).as("n_contaminating"), max(col("jacc")).as("max_jacc"))
  }

  /** Dedup-aware train/validation split (the leakage-free holdout rule):
    * every near-dup GROUP lands wholly on one side. A validation doc with a
    * near-duplicate in train is leaked supervision — per-doc random splits
    * leak exactly in proportion to the corpus's duplication rate — so the
    * split coin flips on the group's CANONICAL id, not the doc's. Coin =
    * the deterministic Knuth multiplicative hash [[TextAnalysis.mixtureKeep]]
    * uses (engine-portable, resume-stable: the same doc lands on the same
    * side across runs, engines, and retries). Output: (doc_id, group_id,
    * split). Pure map-side on top of [[DedupOps.dedupGroups]] — the only
    * shuffles are the dedup pipeline's own. */
  def leakageFreeSplit(docs: DataFrame, valFrac: Double = 0.1,
                       tau: Double = 0.8): DataFrame = {
    val groups = DedupOps.dedupGroups(docs, tau)
    val u = pmod(col("group_id") * lit(2654435761L), lit(4294967296L))
      .cast("double") / 4294967296.0
    groups.select(col("doc_id"), col("group_id"),
      when(u < valFrac, lit("val")).otherwise(lit("train")).as("split"))
  }

  /** Token-budget sequence packing (the training-batch assembly step):
    * concatenate docs in doc_id order into a token stream and assign each
    * doc the index of the `budget`-token sequence where it STARTS —
    * seq_id = floor(tokens_before / budget). The global ordered cumsum is
    * the TeraSort two-phase shape, not a single-partition window: a
    * deterministic bucket id (collected-once quantile bounds — see
    * [[Buckets.quantileBucket]]), per-bucket cumsum window, plus a broadcast of
    * per-bucket totals (one tiny row per bucket). The bucket id is a pure
    * row function, so the offsets branch and the window branch agree by
    * construction — no dependence on exchange-boundary reuse. */
  def packSequences(docs: DataFrame, budget: Long = 512L,
                    partitions: Int = 32): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bucket = Buckets.quantileBucket(docs.select(col("doc_id")), "doc_id", partitions)
    val t = docs
      .select(col("doc_id"), size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"))
      .withColumn("pid", bucket)
    val offsets = t.groupBy(col("pid")).agg(sum(col("n_tokens")).as("ptotal"))
      .withColumn("offset",
        coalesce(sum(col("ptotal")).over(
          // ≤ `partitions` rows total — the single-partition window is the
          // point (it's the tiny phase-2 of the two-phase cumsum); the
          // constant partition key just keeps the no-partition warning out
          // of log audits.
          Window.partitionBy(lit(0)).orderBy(col("pid"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("pid"), col("offset"))
    val intraW = Window.partitionBy(col("pid")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    t.withColumn("intra", coalesce(sum(col("n_tokens")).over(intraW), lit(0L)))
      .join(broadcast(offsets), "pid")
      .select(col("doc_id"), col("n_tokens"),
        floor((col("intra") + col("offset")) / budget).as("seq_id"))
  }

  /** Deterministic global corpus shuffle — the pre-training permutation step
    * (training consumes documents in a random-but-reproducible order so every
    * epoch, resume, and engine sees the same sequence). The permutation key
    * is md5(seed "-" doc_id): engine-portable (both Spark and any SQL engine
    * produce the identical hex string), uniform, and re-derivable row-by-row.
    * Output: (doc_id, pos) with pos = the doc's 1-based position in
    * (key, doc_id) order.
    *
    * The global rank is the TeraSort two-phase shape (same as
    * [[packSequences]]): a deterministic key-prefix bucket id (see
    * [[Buckets.hexBucket]] — a pure row function, monotone in the key, so the
    * counts branch and the rank branch agree by construction), per-bucket
    * row_number, plus a broadcast of per-bucket counts — no
    * single-partition sort, so the stage scales with bucket count, never
    * serializing the corpus. At 100 TB this is one hash shuffle of
    * (doc_id, 32-char key) rows — narrow regardless of document size —
    * with no range-boundary sampling job at all (md5 is uniform, so the
    * prefix buckets are balanced by construction). */
  def globalShuffle(docs: DataFrame, seed: String = "42",
                    partitions: Int = 32): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val keyed = docs.select(col("doc_id"),
        md5(concat_ws("-", lit(seed), col("doc_id").cast("string"))).as("k"))
      .withColumn("pid", Buckets.hexBucket(col("k"), partitions))
    val offsets = keyed.groupBy(col("pid")).agg(count(lit(1)).as("pcnt"))
      .withColumn("offset", coalesce(sum(col("pcnt")).over(
        // ≤ `partitions` rows — the tiny phase-2 window (see packSequences)
        Window.partitionBy(lit(0)).orderBy(col("pid"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    keyed.withColumn("intra", row_number().over(
        Window.partitionBy(col("pid")).orderBy(col("k"), col("doc_id"))).cast("long"))
      .join(broadcast(offsets.select(col("pid"), col("offset"))), "pid")
      .select(col("doc_id"), (col("offset") + col("intra")).as("pos"))
  }

  /** Per-source token-budget capping (the "cap each domain's contribution"
    * mixture rule — a crawl dump must not drown the curated sources): within
    * each source, documents are ranked by a deterministic priority
    * (md5(doc_id) — reproducible across engines/runs/retries, same property
    * as [[TextAnalysis.mixtureKeep]]), and a document is kept iff it STARTS
    * within the source's token budget (tokens_before < budget). Output is one
    * row per doc with its audit columns: (doc_id, source, n_tokens,
    * tokens_before, keep).
    *
    * The per-source running sum is the two-phase cumsum, not a naive
    * per-source window: a deterministic priority-prefix bucket id (see
    * [[Buckets.hexBucket]] — a pure row function of `pri`, monotone in priority
    * order, so the totals branch and the window branch agree by
    * construction; no `spark_partition_id()`, no exchange-boundary reuse),
    * per-(bucket, source) window, plus a broadcast of per-(source, bucket)
    * totals. A naive Window.partitionBy(source) puts each source on ONE
    * task — with a handful of sources at 100 TB that is a handful of
    * tasks; here a hot source spreads across every priority bucket (md5 is
    * uniform), so per-task state stays bounded by the bucket chunk, not
    * the source. */
  def quotaSample(docs: DataFrame, budgetTokens: Long = 2000L,
                  partitions: Int = 32): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val t = docs.select(col("doc_id"), col("source"),
        size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"),
        md5(col("doc_id").cast("string")).as("pri"))
      .withColumn("pid", Buckets.hexBucket(col("pri"), partitions))
    val offsets = t.groupBy(col("source"), col("pid")).agg(sum(col("n_tokens")).as("ptotal"))
      .withColumn("offset", coalesce(sum(col("ptotal")).over(
        // ≤ sources × partitions rows — the tiny phase-2 window
        Window.partitionBy(col("source")).orderBy(col("pid"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("source"), col("pid"), col("offset"))
    val intraW = Window.partitionBy(col("pid"), col("source"))
      .orderBy(col("pri"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    t.withColumn("intra", coalesce(sum(col("n_tokens")).over(intraW), lit(0L)))
      .join(broadcast(offsets), Seq("source", "pid"))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        (col("intra") + col("offset")).as("tokens_before"))
      .withColumn("keep", col("tokens_before") < budgetTokens)
  }

  /** Forensic sidecar for [[quotaSample]] — the per-row INPUTS to the
    * two-phase cumsum (doc_id, pri, pid, n_tokens), so a gate-side hash
    * mismatch on quota_sample can be diffed to the exact cell: if these
    * inputs agree between environments, any output divergence is in the
    * comparator, not the plan (the plan is a pure function of these rows).
    * Verify dumps this next to the result; never on the bench path. */
  def quotaSampleForensics(docs: DataFrame, partitions: Int = 32): DataFrame =
    docs.select(col("doc_id"), col("source"),
        size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"),
        md5(col("doc_id").cast("string")).as("pri"))
      .withColumn("pid", Buckets.hexBucket(col("pri"), partitions))
      .select(col("doc_id"), col("source"), col("n_tokens"), col("pri"), col("pid"))

  /** Sliding-window document chunking with overlap — the RAG / embedding-
    * prep framing (and the "context window with stride" eval convention):
    * token windows of `size` starting every `stride` tokens, so consecutive
    * chunks share `size − stride` tokens of context; the final window is
    * partial rather than dropped (no text is lost), and a doc shorter than
    * `size` yields exactly one chunk. Chunk count per doc:
    * 1 + max(0, ceil((n − size) / stride)).
    *
    * Pure map-side: one tokenize + one in-row transform + posexplode — no
    * shuffle, no window, whole-stage codegen, so at 100 TB chunking runs at
    * scan speed and the output streams straight into the embedding or
    * packing stage. Per-row memory is O(doc), the same bound as the scan.
    * Output: (doc_id, chunk_id, n_chunk_tokens, chunk_text). */
  def chunkOverlap(docs: DataFrame, size: Int = 32, stride: Int = 24): DataFrame = {
    require(size >= 1 && stride >= 1 && stride <= size)
    val w = TextOps.tokens(col("text"))
    docs.select(col("doc_id"), w.as("w"))
      .withColumn("n", org.apache.spark.sql.functions.size(col("w")))
      .filter(col("n") > 0) // token-less docs chunk to nothing on either engine
      .select(col("doc_id"), col("n"), posexplode(transform(
          sequence(lit(0),
            greatest(lit(0L), ceil((col("n") - size).cast("double") / stride)).cast("int")),
          i => array_join(slice(col("w"), i * stride + 1, lit(size)), " ")))
        .as(Seq("chunk_id", "chunk_text")))
      .select(col("doc_id"), col("chunk_id").cast("long").as("chunk_id"),
        least(lit(size), col("n") - col("chunk_id") * stride).cast("long")
          .as("n_chunk_tokens"),
        col("chunk_text"))
  }

  /** Per-cluster cap over an (vec_id, cluster) assignment — the DIVERSITY
    * half of cluster-balanced sampling (the D4 / SemDedup-family recipe,
    * Abbas et al. 2023: cluster the embedding space, then sample evenly
    * across clusters so one dense mode can't dominate the mixture). Within
    * each cluster rows are ranked by the deterministic engine-portable
    * priority md5(vec_id) (the [[quotaSample]] convention) and kept iff
    * rank ≤ quota. Output: (vec_id, cluster, rnk, keep) — audit-shaped, so
    * the mixture report is one groupBy over this relation.
    *
    * The per-cluster rank is the two-phase cumsum, not a naive per-cluster
    * window: k clusters would otherwise mean k tasks at 100 TB. The bucket
    * id is [[Buckets.hexBucket]] over the priority itself — a pure row
    * function, monotone in (pri, vec_id) order, so the counts branch and
    * the rank branch agree by construction (no spark_partition_id, no
    * exchange-boundary reuse — the quota_sample hardening). */
  private[graft] def balancedRank(assigned: DataFrame, quota: Long,
                                  partitions: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val t = assigned.select(col("vec_id"), col("cluster"),
        md5(col("vec_id").cast("string")).as("pri"))
      .withColumn("pid", Buckets.hexBucket(col("pri"), partitions))
    val offsets = t.groupBy(col("cluster"), col("pid")).agg(count(lit(1)).as("pcnt"))
      .withColumn("offset", coalesce(sum(col("pcnt")).over(
        // ≤ clusters × partitions rows — the tiny phase-2 window
        Window.partitionBy(col("cluster")).orderBy(col("pid"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("cluster"), col("pid"), col("offset"))
    t.withColumn("intra", row_number().over(
        Window.partitionBy(col("pid"), col("cluster"))
          .orderBy(col("pri"), col("vec_id"))).cast("long"))
      .join(broadcast(offsets), Seq("cluster", "pid"))
      .select(col("vec_id"), col("cluster"),
        (col("offset") + col("intra")).as("rnk"))
      .withColumn("keep", col("rnk") <= quota)
  }

  /** Cluster-balanced sampling, direct path: Lloyd k-means assignment
    * ([[SimilarityOps.kmeansCluster]] — map-side argmax, bounded-model
    * training) + [[balancedRank]]. */
  def clusterBalancedSample(spark: org.apache.spark.sql.SparkSession,
                            emb: DataFrame, quota: Long = 20, k: Int = 16,
                            iters: Int = 5, partitions: Int = 32): DataFrame =
    balancedRank(SimilarityOps.kmeansCluster(emb, k, iters)
      .select(col("vec_id"), col("cluster")), quota, partitions)

  /** Cluster-balanced sampling from a materialized centroid relation — the
    * Verify/oracle path (assignment recomputed from the dumped model, so
    * DuckDB replays assignment + ranking over identical inputs). */
  def clusterBalancedSampleFrom(spark: org.apache.spark.sql.SparkSession,
                                emb: DataFrame, cents: DataFrame,
                                quota: Long = 20, partitions: Int = 32): DataFrame =
    balancedRank(SimilarityOps.assignFromCentroidRelation(emb, cents)
      .select(col("vec_id"), col("cluster")), quota, partitions)

  /** Corpus snapshot diff — the doc-level distcp -diff analog (the
    * file-level twin is IO.syncPartitions): which documents were added,
    * removed, or changed between two corpus snapshots. Content identity is
    * md5(text), computed MAP-SIDE on each snapshot so the full-outer join
    * shuffles (doc_id, 32-char hash) rows, never document bodies — at
    * 100 TB the exchange carries ~40 bytes/doc regardless of doc size.
    * Output: one row per non-identical doc — (doc_id, status ∈
    * added|removed|changed, old_hash, new_hash); unchanged docs are
    * filtered before the sink so the result is change-sized, not
    * corpus-sized. */
  /** Per-source dataset card — the observability report a mixture owner
    * reads before weighting sources: doc count, token total, mean quality,
    * Gopher-rule pass rate, and exact-duplicate rate, one row per source.
    * Float determinism: the only cross-row float reduction (mean quality)
    * is computed over round(quality × 1e6) LONGS — integer sums are
    * reassociation-free, so Spark's partial aggs and DuckDB's sequential
    * sum agree bit-for-bit; every ratio is a single exact-integer division
    * rounded once. Two shuffles total at any scale: the md5 dup-count
    * groupBy and the per-source agg (the metric columns ride map-side). */
  def datasetCard(docs: DataFrame): DataFrame = {
    val q = TextAnalysis.qualityScore(docs).select(col("doc_id"),
      col("n_tokens"), round(col("quality") * 1e6).cast("long").as("q_micro"))
    val g = TextAnalysis.gopherRules(docs).select(col("doc_id"),
      when(col("keep"), 1L).otherwise(0L).as("keep1"))
    val h = docs.select(col("doc_id"), col("source"), md5(col("text")).as("h"))
    val dupN = h.groupBy(col("h")).agg(count(lit(1)).as("nc"))
    h.join(dupN, "h").join(q, "doc_id").join(g, "doc_id")
      .groupBy(col("source")).agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        round((sum(col("q_micro")) / count(lit(1))) / 1e6, 6).as("mean_quality"),
        round(sum(col("keep1")).cast("double") / count(lit(1)), 6)
          .as("gopher_keep_frac"),
        round(sum(when(col("nc") > 1, 1L).otherwise(0L)).cast("double") /
          count(lit(1)), 6).as("dup_frac"))
  }

  /** Deterministic "next snapshot" derivation for the corpus_diff gate
    * query (and any parity test): drop doc_id%17==0, append an edit marker
    * to %13==1, re-add %29==3 under shifted ids — a known mix of removed /
    * changed / added the oracle replays verbatim. */
  def deriveNextSnapshot(docs: DataFrame): DataFrame =
    docs.filter(pmod(col("doc_id"), lit(17)) =!= 0)
      .withColumn("text", when(pmod(col("doc_id"), lit(13)) === 1,
        concat(col("text"), lit(" v2"))).otherwise(col("text")))
      .unionByName(docs.filter(pmod(col("doc_id"), lit(29)) === 3)
        .withColumn("doc_id", col("doc_id") + 1000000L))

  def corpusDiff(oldSnap: DataFrame, newSnap: DataFrame): DataFrame = {
    val o = oldSnap.select(col("doc_id"), md5(col("text")).as("old_hash"))
    val n = newSnap.select(col("doc_id"), md5(col("text")).as("new_hash"))
    o.join(n, Seq("doc_id"), "full_outer")
      .withColumn("status",
        when(col("new_hash").isNull, "removed")
          .when(col("old_hash").isNull, "added")
          .when(col("old_hash") =!= col("new_hash"), "changed")
          .otherwise("unchanged"))
      .filter(col("status") =!= "unchanged")
      .select(col("doc_id"), col("status"), col("old_hash"), col("new_hash"))
  }
}
