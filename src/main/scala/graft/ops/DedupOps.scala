package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions

/** Deduplication family for LLM training-data pipelines.
  *
  * No reference analog in hadoop-2.7.1 (it predates LLM data curation) — the
  * closest ancestor is the MR "distinct" idiom (map key → reduce first).
  * Design sources: MinHash/LSH (Broder 1997), SimHash (Charikar 2002), as
  * deployed in large-scale dedup pipelines (e.g. Lee et al. 2022,
  * "Deduplicating Training Data Makes Language Models Better").
  *
  * Scale shape (100 TB):
  *  - exact: one hash-shuffle on md5 — optimal.
  *  - minhash-LSH: signatures are computed MAP-SIDE per row (no explode of
  *    doc×perm), then only (doc, band, band_sig) triples shuffle — 32 small
  *    rows per doc regardless of doc size. Bucket join is uniform by
  *    construction (hash buckets), then candidate verification touches only
  *    the candidate pairs' shingle sets.
  *  - ngram-jaccard (exact): the inverted-index self-join is quadratic in
  *    posting-list length; cap df per shingle (`maxDf`) at scale — a pair
  *    sharing only ultra-common shingles is far below any dedup threshold.
  *  - simhash: map-side fingerprint; near-pair search via 16-bit band
  *    buckets (pigeonhole: hamming ≤ 3 ⇒ some band equal).
  */
object DedupOps {

  private val P = 2147483647L // 2^31-1, keeps perm arithmetic overflow-free under ANSI

  /** Word n-gram shingles (distinct) from an ALREADY-MATERIALIZED token
    * array column (native expression — the composable
    * array_distinct∘transform∘sequence form runs interpreted and costs
    * ~2.4 ms/doc; see graft.functions.ShingleArray). */
  def shinglesFromTokens(t: Column, n: Int = 3): Column =
    GraftFunctions.shingleArray(t, n)

  /** (doc_id, s=shingle array) with tokens materialized in a separate
    * projection, PERSISTed because every consumer (self-join sides,
    * candidate verification) re-reads it — at 100 TB this is the standard
    * "checkpoint the shingle relation" step of a dedup pipeline, sized
    * ~tokens×n bytes, spilling to disk when needed.
    *
    * Columns: s = shingle strings; hs = pmod(xxhash64, P) base hashes for
    * MinHash (domain [0,P) keeps perm arithmetic overflow-free); hv = SORTED
    * full-64-bit hashes for candidate verification (8 B/element instead of
    * ~20 B strings through the pair joins, and a codegen'd two-pointer
    * intersect instead of per-row hash sets; 64-bit space makes a corpus
    * collision ~1e-11 — irrelevant to the exact-match oracle).
    *
    * keepStrings=false drops the `s` string array from the PERSISTED
    * relation for callers that never touch shingle strings (every op but
    * crossJaccardPairs: signatures come from hs, posting lists and
    * verification from hv/sk). The strings are the single largest column
    * (~20 B/shingle vs 8 B hashes) — at 5 M docs dropping them roughly
    * halves the persist/spill footprint of this relation, which is the
    * single-box scale wall (NOTES_PERF r8). keepHs=false additionally drops
    * the MinHash base-hash array for callers that never build signatures
    * (the ngram and ppjoin posting lists and their verify run on hv).
    *
    * Work is done once, on every core:
    *  - a narrow scan is spread here, for every caller, by the
    *    [[TextOps.spreadScan]] rule (at most half as many scan partitions as
    *    cores), under the persist, so the spread exchange runs once;
    *  - the empty-shingle filter tests the TEXT, before tokenizing:
    *    size(shingles(t, n)) > 0 ⇔ size(t) ≥ n (see ShingleArray.compute)
    *    ⇔ [[TextOps.hasTokens]]. Catalyst pushes any deterministic filter
    *    below the projections and the spread's exchange, copying the
    *    expressions it references: a filter on the shingle column shingled
    *    every doc twice, one on the token column tokenized it twice, the
    *    first time on the scan's few tasks. hasTokens reads each text only
    *    up to its n-th token. */
  private def shingleDocs(docs: DataFrame, n: Int = 3,
                          keepStrings: Boolean = true,
                          keepHs: Boolean = true): DataFrame = {
    GraftFunctions.register(docs.sparkSession)
    TextOps.spreadScan(docs)
      .filter(TextOps.hasTokens(col("text"), n))
      .select(col("doc_id"), TextOps.tokens(col("text")).as("t"))
      .select(col("doc_id"), shinglesFromTokens(col("t"), n).as("s"))
      .select(col("doc_id") +: (if (keepStrings) Seq(col("s")) else Nil) ++:
        (if (keepHs) Seq(transform(col("s"), x => pmod(xxhash64(x), lit(P))).as("hs")) else Nil) :+
        array_sort(transform(col("s"), x => xxhash64(x))).as("hv"): _*)
      // sk = 256-byte bucket-count sketch of hv, computed once per doc at
      // shingle time: verifyPairs' pre-filter ships it per candidate pair
      // instead of the ~KB hv arrays (see BucketCountSketch)
      .withColumn("sk", GraftFunctions.bucketCountSketch(col("hv")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  }

  /** Self-join of a (doc_id, key, …) posting relation on equal keys, one
    * row per doc pair (a.doc_id < b.doc_id) per shared key, PINNED to a
    * partitioned join (shuffle_hash hint). Both sides are one persisted,
    * exploded relation, whose size Catalyst and AQE estimate from the
    * cached scan — below the broadcast threshold — so unpinned they
    * broadcast it: the driver collects the whole posting list and builds
    * the hash relation alone (1.8 s with no job running on the 10k-doc
    * corpus), and the broadcast stays on the heap after the query
    * (~550 MB). Partitioned, each task builds a hash table over its key
    * range only. Shared by the ngram inverted index and the ppjoin
    * prefix join. */
  private def postingSelfJoin(postings: DataFrame, key: String): DataFrame =
    postings.as("a").hint("shuffle_hash").join(postings.as("b"),
      col(s"a.$key") === col(s"b.$key") && col("a.doc_id") < col("b.doc_id"))

  /** Jaccard verification of candidate (a_id, b_id) pairs against the
    * persisted shingle relation, over sorted 64-bit hash arrays.
    *
    * Two EXACT-admissible pre-filters run before the hv arrays attach —
    * they drop only pairs that provably cannot reach τ, so the output is
    * pair-for-pair identical to the unfiltered form (both are relaxed by
    * the acceptance slack: round(jacc, 6) ≥ τ admits true J down to
    * τ − 5e-7, so the bounds test against τ − 1e-6):
    *  1. LENGTH: J ≥ τ ⇒ min(|A|,|B|) ≥ τ·max(|A|,|B|) — int-only.
    *  2. SKETCH: |A∩B| ≤ Σ min of the 256-byte bucket-count sketches
    *     (BucketCountSketch), and J ≥ τ ⇒ |A∩B| ≥ τ/(1+τ)·(|A|+|B|).
    * The candidate stream through the pair joins carries ~264 B of
    * (nsh, sk) per side instead of the ~KB hv arrays (~6× fewer shuffle
    * bytes in the pair-dominated stage), and the full arrays attach only
    * to near-survivors. On uniform corpora the sketch bound for unrelated
    * pairs concentrates near Σ min of independent Poisson(nsh/256) counts
    * — well under the τ requirement — so the expensive joins see roughly
    * the output size, not the candidate volume. */
  private def verifyPairs(cand: DataFrame, sh: DataFrame, tau: Double): DataFrame =
    verifyPairsAB(cand, sh, sh, tau)

  /** Two-relation form: a_id keys into shA, b_id into shB (self-join ops
    * pass the same relation twice; cross-corpus ops pass corpus + ref). */
  private def verifyPairsAB(cand: DataFrame, shA: DataFrame, shB: DataFrame,
                            tau: Double): DataFrame = {
    val tauEff = tau - 1e-6
    def meta(sh: DataFrame) = sh.select(col("doc_id"), size(col("hv")).as("nsh"), col("sk"))
    val pruned = cand.select(col("a_id"), col("b_id"))
      .join(meta(shA).select(col("doc_id").as("a_id"), col("nsh").as("na"), col("sk").as("ska")), "a_id")
      .join(meta(shB).select(col("doc_id").as("b_id"), col("nsh").as("nb"), col("sk").as("skb")), "b_id")
      .filter(least(col("na"), col("nb")).cast("double") >=
        greatest(col("na"), col("nb")) * lit(tauEff) - lit(1e-9))
      .withColumn("ub", GraftFunctions.sketchIntersectUB(col("ska"), col("skb")))
      .filter(col("ub") === -1 ||
        col("ub").cast("double") >= (col("na") + col("nb")) * lit(tauEff / (1.0 + tauEff)) - lit(1e-9))
      .select(col("a_id"), col("b_id"))
    pruned
      .join(shA.select(col("doc_id").as("a_id"), col("hv").as("ha")), "a_id")
      .join(shB.select(col("doc_id").as("b_id"), col("hv").as("hb")), "b_id")
      .withColumn("inter", GraftFunctions.sortedIntersectCount(col("ha"), col("hb")))
      .withColumn("jacc", round(col("inter") /
        (size(col("ha")) + size(col("hb")) - col("inter")), 6))
      .filter(col("jacc") >= tau)
      .select(col("a_id"), col("b_id"), col("jacc"))
  }

  /** Tagged single-pass form of [[verifyPairsAB]]: candidates carry a
    * `b_org` column selecting which b-side shingle relation the pair
    * verifies against (0 ⇒ shB0, 1 ⇒ shB1), so two candidate stages that
    * share the same a-side (incremental dedup's batch-self and
    * batch-vs-existing stages) run ONE verify pipeline — 4 joins and 4
    * broadcast builds instead of 8 at bench SF, one pair stream instead of
    * two at scale. B-side lookups are keyed by (b_id, b_org), so an id
    * present in both relations can never cross-match — per-tag semantics
    * are exactly verifyPairsAB's. Output: (a_id, b_id, b_org, jacc). */
  private def verifyPairsTagged(cand: DataFrame, shA: DataFrame,
                                shB0: DataFrame, shB1: DataFrame,
                                tau: Double): DataFrame = {
    val tauEff = tau - 1e-6
    def metaB(sh: DataFrame, org: Int) = sh.select(col("doc_id").as("b_id"),
      size(col("hv")).as("nb"), col("sk").as("skb"), lit(org).as("b_org"))
    def hvB(sh: DataFrame, org: Int) = sh.select(col("doc_id").as("b_id"),
      col("hv").as("hb"), lit(org).as("b_org"))
    val bMeta = metaB(shB0, 0).unionByName(metaB(shB1, 1))
    val bHv = hvB(shB0, 0).unionByName(hvB(shB1, 1))
    val pruned = cand.select(col("a_id"), col("b_id"), col("b_org"))
      .join(shA.select(col("doc_id").as("a_id"), size(col("hv")).as("na"),
        col("sk").as("ska")), "a_id")
      .join(bMeta, Seq("b_id", "b_org"))
      .filter(least(col("na"), col("nb")).cast("double") >=
        greatest(col("na"), col("nb")) * lit(tauEff) - lit(1e-9))
      .withColumn("ub", GraftFunctions.sketchIntersectUB(col("ska"), col("skb")))
      .filter(col("ub") === -1 ||
        col("ub").cast("double") >= (col("na") + col("nb")) * lit(tauEff / (1.0 + tauEff)) - lit(1e-9))
      .select(col("a_id"), col("b_id"), col("b_org"))
    pruned
      .join(shA.select(col("doc_id").as("a_id"), col("hv").as("ha")), "a_id")
      .join(bHv, Seq("b_id", "b_org"))
      .withColumn("inter", GraftFunctions.sortedIntersectCount(col("ha"), col("hb")))
      .withColumn("jacc", round(col("inter") /
        (size(col("ha")) + size(col("hb")) - col("inter")), 6))
      .filter(col("jacc") >= tau)
      .select(col("a_id"), col("b_id"), col("b_org"), col("jacc"))
  }

  /** Exact dedup: content-hash groupBy; canonical copy = min doc_id. */
  def dedupExact(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("canonical_id"), count(lit(1)).as("n_copies"))

  /** Exact SUBSTRING-level dedup (suffix-window form): find every maximal
    * character span whose length-`winLen` windows all occur ≥2 times in the
    * corpus (cross- OR intra-doc), i.e. the spans Lee et al. 2022
    * ("Deduplicating Training Data Makes Language Models Better", §3) remove
    * with a suffix array. The Spark-native equivalent of the suffix array is
    * hash-group-then-verify — embarrassingly parallel, no global sort:
    *
    *   1. stride-1 window HASHES: for ASCII docs (byte==char positions) a
    *      single native `rolling_window_hashes` pass emits every window's
    *      polynomial hash in O(bytes) per doc — no per-window substring
    *      allocation (which costs 4× the whole downstream pipeline: 52 s
    *      vs 12 s for the detection pass at 82 M windows — NOTES_PERF.md,
    *      "Optimization history that matters at 100 TB", lesson 7).
    *      Docs with multibyte chars (char windows ≠ byte windows) fall back
    *      to substr enumeration hashed by `poly_hash64` — the SAME hash
    *      space, so equal windows collide across the two paths and
    *      cross-path duplicates are never missed.
    *   2. duplicate-hash detection: groupBy the hash carrying NO strings —
    *      the full-corpus shuffle is (8 B key, count) rows.
    *   3. bloom prune: a bloom filter over the dup-hash set (10 bits/key,
    *      the decontaminate_bloom machinery) drops non-duplicate windows
    *      MAP-SIDE, so the only shuffle that carries window STRINGS is
    *      ~the duplicated fraction (+ ~1% FPR), not the corpus. The bloom
    *      needs NO exact-join backstop for its false positives — step 4
    *      eliminates them. When the dup-hash set outgrows a driver-size
    *      blob (2^30 bits ≈ 10^8 dup hashes), the prune is skipped and
    *      step 4 windows over the full corpus — the volume a suffix array
    *      must globally sort anyway.
    *   4. exact verify + occurrence marking in ONE pass: a window count
    *      partitioned by the window STRING keeps occurrences whose string
    *      truly repeats. This is exact against every failure mode of the
    *      prune: a bloom false positive or a 64-bit collision pairs
    *      DIFFERENT strings, each with string-count 1 → dropped; true
    *      duplicates all reach this stage because blooms have no false
    *      negatives.
    *   5. per-doc interval merge (gaps-and-islands window) → maximal spans.
    *
    * A pathological corpus (one repeated char) makes every window
    * duplicated — step 4 then shuffles the full corpus; cap occurrences
    * per hash upstream if that corpus shape is possible. Output spans,
    * not cleaned text: removal policy (drop span / keep first occurrence)
    * is a separate cheap map over spans. */
  def substringDupSpans(docs: DataFrame, winLen: Int = 40,
                        bloomPrefilter: Boolean = true): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    GraftFunctions.register(docs.sparkSession)
    val L = winLen
    val longEnough = docs.filter(length(col("text")) >= L)
    // (doc_id, pos, h, text): text rides along UNSHUFFLED (whole-stage
    // codegen keeps it a per-input-row local) so the verify stage can slice
    // the window string for candidates only, after the bloom filter.
    // ASCII docs (byte==char positions) take the byte-rolling hash;
    // multibyte docs take the rolling CHAR-window hash (one pass over the
    // bytes, no per-window substr allocation) — each char-window hash
    // equals poly_hash64 of the window substring by construction, so both
    // paths land in one dup-detection hash space (spec-pinned in
    // SubstringDedupSpec). The two paths are ONE conditional expression in
    // ONE scan branch (CaseWhen evaluates lazily per row), not a
    // union of two filtered scans: this relation is consumed twice
    // (dup-hash detection, then the bloom-gated candidate pass), so the
    // union shape paid FOUR corpus scans per query where two suffice —
    // at 100 TB each scan is a full corpus pass.
    val winHashes = when(octet_length(col("text")) === length(col("text")),
        GraftFunctions.rollingWindowHashes(col("text"), L))
      .otherwise(GraftFunctions.rollingCharWindowHashes(col("text"), L))
    val wins = longEnough
      .select(col("doc_id"), col("text"),
        posexplode(winHashes).as(Seq("pos0", "h")))
      .select(col("doc_id"), col("text"), (col("pos0") + 1).as("pos"), col("h"))
    val cand =
      if (bloomPrefilter) {
        val dupH = wins.groupBy(col("h")).agg(count(lit(1)).as("c"))
          .filter(col("c") > 1).select(col("h"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        // sizing count materializes the persisted relation the bloom build
        // re-reads (decontaminateBloom's sizing idiom)
        val nDup = math.max(1L, dupH.count())
        val pre =
          if (nDup * 10 <= (1L << 30)) {
            val numBits = math.max(1024L, nDup * 10).toInt
            val blob = dupH.agg(GraftFunctions.bloomBuild(col("h"), numBits, 7).as("blob"))
              .head().getAs[Array[Byte]](0)
            wins.filter(GraftFunctions.bloomMightContain(col("h"), blob))
          } else wins
        dupH.unpersist()
        pre
      } else wins
    val byWin = Window.partitionBy(col("win"))
    val occ = cand
      .withColumn("win", col("text").substr(col("pos"), lit(L)))
      .select(col("doc_id"), col("pos"), col("win"))
      .withColumn("c", count(lit(1)).over(byWin))
      .filter(col("c") > 1).select(col("doc_id"), col("pos"))
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    occ
      .withColumn("prev_end", max(col("pos") + lit(L - 1))
        .over(byDoc.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("new_span",
        when(col("prev_end").isNull || col("pos") > col("prev_end") + 1, 1).otherwise(0))
      .withColumn("span", sum(col("new_span"))
        .over(byDoc.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("doc_id"), col("span"))
      .agg(min(col("pos")).cast("long").as("span_start"),
           (max(col("pos")) + lit(L - 1)).cast("long").as("span_end"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_len"))
  }

  /** Per-doc rollup of [[substringDupSpans]]: how much of each affected doc
    * is corpus-duplicated text — the number real curation pipelines report
    * (and threshold on) before span removal. */
  def substringDupStats(docs: DataFrame, winLen: Int = 40): DataFrame =
    substringDupSpans(docs, winLen)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"), sum(col("span_len")).as("dup_chars"))
      .join(docs.select(col("doc_id"), length(col("text")).cast("long").as("n_chars")), "doc_id")
      .withColumn("dup_frac", round(col("dup_chars") / col("n_chars"), 6))

  /** Exact n-gram Jaccard near-dup pairs via shingle inverted index.
    * maxDf caps posting lists at scale (off by default for oracle parity). */
  def ngramJaccardPairs(docs: DataFrame, tau: Double = 0.5,
                        maxDf: Option[Int] = None): DataFrame = {
    // Posting lists are keyed on the 64-bit shingle hashes (hv), as in
    // ngramJaccardPairsPrefix: equal shingles hash equal, so the pair counts
    // are the string-keyed ones (barring a ~1e-11 corpus collision), and
    // every posting row carries an 8-byte key instead of a ~25-byte string;
    // the persisted relation keeps neither strings nor MinHash hashes.
    val sh = shingleDocs(docs, keepStrings = false, keepHs = false)
    // §2.3 project before the exchange: posting rows carry ONLY (doc_id, h)
    // through the quadratic inverted-index join — the per-doc shingle
    // count attaches to the PAIR relation after the groupBy (two joins
    // against a doc-count-sized size relation), so the Σ df·(df−1)/2
    // posting-pair stream is ~8 bytes/row narrower on each side and the
    // pair aggregation drops its two first() aggregates.
    val ex0 = sh.select(col("doc_id"), explode(col("hv")).as("h"))
    val ex = maxDf.fold(ex0) { cap =>
      val rare = ex0.groupBy(col("h")).agg(count(lit(1)).as("df"))
        .filter(col("df") <= cap).select(col("h"))
      ex0.join(rare, "h")
    }
    val sizes = sh.select(col("doc_id"), size(col("hv")).as("nsh"))
    // Stage counters as named observations (the ppjoin/lsh convention —
    // accumulator-based, zero extra actions, dumped under "observed" by
    // Bench): the inverted-index join volume IS Σ df·(df−1)/2, the quantity
    // the r11 corpus profile sizes — at a saturated-vocabulary sf10 it hit
    // 1.09 G rows, and this counter makes that visible per artifact.
    postingSelfJoin(ex, "h")
      .observe("ngram_inverted_join", count(lit(1)).as("posting_pair_rows"))
      .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("doc_id").as("a_id"), col("nsh").as("na")), "a_id")
      .join(sizes.select(col("doc_id").as("b_id"), col("nsh").as("nb")), "b_id")
      .withColumn("jacc", round(col("inter") / (col("na") + col("nb") - col("inter")), 6))
      .filter(col("jacc") >= tau)
      .select(col("a_id"), col("b_id"), col("jacc"))
      .observe("ngram_pairs", count(lit(1)).as("qualifying_pairs"))
  }

  /** Exact self-join pair bound Σ c·(c−1)/2 over a per-key count relation,
    * in INTEGER arithmetic end to end: the product runs in decimal(38,0)
    * (a Long product silently overflows past c ≈ 3e9, and double division
    * drops low bits past c ≈ 9.5e7 — exactly the saturated-df regime the
    * budget guards exist for), the halving happens driver-side in BigInt,
    * and a bound beyond Long range clamps to Long.MaxValue (any budget it
    * is compared against fails anyway). Shared by the ppjoin pre-flight
    * guard and SimilarityOps.selfJoinBitsMeasured. */
  private[graft] def pairBound(counts: DataFrame, c: String): Long = {
    val dec = col(c).cast("decimal(38,0)")
    val row = counts.agg(sum(dec * (dec - lit(1))).as("b2")).collect()(0)
    if (row.isNullAt(0)) 0L
    else {
      val half = BigInt(row.getDecimal(0).toBigInteger) / 2
      if (half > Long.MaxValue) Long.MaxValue else half.toLong
    }
  }

  /** Exact n-gram Jaccard with PPJoin-style PREFIX FILTERING — the 100 TB
    * shape of the exact op (Xiao et al. 2008, "Efficient Similarity Joins
    * for Near Duplicate Detection"). Theorem: if J(a,b) ≥ τ, the
    * (|x| − ⌈τ·|x|⌉ + 1)-element prefixes of both docs under a global
    * shingle order MUST share a shingle. Ordering by (df asc, sg) makes
    * prefixes the RAREST shingles, so candidate-join posting lists shrink
    * dramatically versus the full inverted index — with zero recall loss
    * (verification computes exact Jaccard on the full shingle sets). */
  def ngramJaccardPairsPrefix(docs: DataFrame, tau: Double = 0.5,
                              maxCandidates: Long = 0L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // TOKEN UNIVERSE = the 64-bit shingle hashes (hv), NOT shingle strings
    // (§2.3 "shuffle keys … instead of payloads"): the verify stage already
    // computes the output's exact Jaccard over these same hv values
    // (sortedIntersectCount), so a prefix filter keyed on them is
    // output-identical BY CONSTRUCTION — equal strings hash equal, and any
    // 64-bit collision is indistinguishable to the verify either way. Every
    // row of the quadratic prefix join then carries an 8-byte long key
    // instead of a ~25-byte shingle string (the df shuffle, the prefix
    // persist, and the join's sort keys all shrink ~2×), and the persisted
    // shingle relation drops its string column entirely (keepStrings=false
    // — the single largest column, ~half the persist footprint, NOTES_PERF
    // r8). Order note: the global prefix order becomes (df, h64) instead
    // of (df, shingle-string) — any total order is admissible for the
    // PPJoin theorem, but the selected prefixes differ, so the observe
    // counters below are not comparable to pre-r13 artifacts.
    val sh = shingleDocs(docs, keepStrings = false, keepHs = false)
    val ex = sh.select(col("doc_id"), explode(col("hv")).as("h"), size(col("hv")).as("nsh"))
    val dfs = ex.groupBy(col("h")).agg(count(lit(1)).as("df"))
    // Partitioned join (shuffle_hash on the df side, already hash-partitioned
    // on h by its aggregate), for the reason postingSelfJoin gives: left to
    // AQE, it broadcast the exploded posting list itself on the 10k-doc
    // corpus, sized from the cached scan.
    val prefix = ex.join(dfs.hint("shuffle_hash"), "h")
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("df"), col("h"))))
      .filter(col("rnk") <= col("nsh") - ceil(col("nsh") * tau) + 1)
      .select(col("doc_id"), col("h"), col("rnk"), col("nsh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // PRE-FLIGHT BUDGET GUARD (off at 0 — the oracle-checked gate shape
    // pays no extra job). PPJoin is EXACT and therefore unbounded by
    // construction: on a saturated-vocabulary corpus (shingle df growing
    // linearly with corpus size) the prefix join's output is Σ df_p·(df_p−1)/2
    // over the PREFIX relation and grows ~quadratically — at the sf10 decade
    // (155 k docs, 31-word vocab) it GC-killed a 64 GB JVM mid-shuffle. The
    // guard computes that exact bound with one cheap aggregation over the
    // already-persisted prefix relation and fails FAST and LOUD with the
    // measured volume and the two remediations (the LSH twin is
    // output-identical at τ ≥ ~0.8; the df-capped inverted index bounds
    // postings at any τ) instead of an unattributable executor OOM an hour
    // into a cluster job.
    if (maxCandidates > 0L) {
      val boundL = pairBound(prefix.groupBy(col("h")).agg(count(lit(1)).as("dfp")), "dfp")
      if (boundL > maxCandidates) {
        prefix.unpersist()
        throw new IllegalStateException(
          s"ngramJaccardPairsPrefix: prefix-join candidate bound $boundL rows exceeds the " +
          s"maxCandidates budget $maxCandidates — the corpus is too dense for the exact " +
          "prefix-filtered join (saturated shingle vocabulary). Use minhashLshPairs " +
          "(output-identical for tau >= ~0.8) or ngramJaccardPairs(maxDf = ...) " +
          "(df-capped postings, any tau), or raise the budget.")
      }
    }
    // POSITIONAL filter (the second half of PPJoin, Xiao et al. 2008 §3.2):
    // for a token shared at positions (pa, pb) of the df-ordered shingle
    // lists, the intersection is bounded by tokens strictly before it in the
    // GLOBAL order plus itself plus tokens after it on the smaller side:
    //   i ≤ min(pa−1, pb−1) + 1 + min(na−pa, nb−pb),
    // and J ≥ τ needs i ≥ ⌈τ·(na+nb)/(1+τ)⌉. The bound holds for EVERY
    // common token (not just the first), so filtering each candidate row
    // keeps at least one row per qualifying pair — zero recall loss; it
    // runs in the join's output stream BEFORE the dedup shuffle and the
    // array-shipping verify, which is where the adversarial-vocabulary
    // candidate volume dies.
    // τ is relaxed by the verify stage's acceptance slack (round(jacc,6) ≥ τ
    // admits true J down to τ − 5e-7) plus float headroom, so the bound can
    // only ADMIT extra candidates, never prune a pair the verify would keep.
    val tauEff = tau - 1e-6
    val ubound = least(col("a.rnk") - 1, col("b.rnk") - 1) + lit(1) +
      least(col("a.nsh") - col("a.rnk"), col("b.nsh") - col("b.rnk"))
    val needed = ceil((col("a.nsh") + col("b.nsh")) * lit(tauEff / (1.0 + tauEff)) - lit(1e-9))
    // Stage counters ride the job as named observations (accumulator-based,
    // zero extra actions): prefix-join output volume, positional-filter
    // survivors, and deduped candidate pairs. They exist so a cost move on
    // this operator is ATTRIBUTABLE — a corpus with more real near-dups
    // moves all three together; a prefix/positional-filter regression moves
    // their RATIOS (Bench dumps them under "observed").
    val cand = postingSelfJoin(prefix, "h")
      .observe("ppjoin_prefix_join", count(lit(1)).as("rows_pre_positional"))
      .filter(ubound >= needed)
      .observe("ppjoin_positional", count(lit(1)).as("rows_post_positional"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .dropDuplicates("a_id", "b_id")
      .observe("ppjoin_pairs", count(lit(1)).as("candidate_pairs"))
    verifyPairs(cand, sh, tau)
  }

  /** Base hashes of a shingle array (materialize BEFORE minhashFromHashes —
    * interpreted lambdas re-evaluate inlined inputs per permutation). */
  def shingleHashes(shingleCol: Column): Column =
    transform(shingleCol, s => pmod(xxhash64(s), lit(P)))

  /** MinHash signature (array<bigint>, length numPerms) from pre-hashed
    * shingles — map-side, no per-perm row explosion. Native expression: the
    * interpreted transform/array_min composition gets re-inlined by Catalyst
    * into downstream lambdas and re-evaluated per reference (see
    * graft.functions.MinHashSignature). */
  def minhashFromHashes(hashCol: Column, numPerms: Int = 128): Column =
    graft.functions.GraftFunctions.minhashSig(hashCol, numPerms)

  /** (doc_id, band, band_sig) LSH banding as one narrow per-row projection
    * chain — STREAMING-SAFE (no persist, no shuffle), shared by the
    * streaming near-dup twin (graft.streaming.Streams.nearDupCandidates)
    * and identical lane-for-lane to the banding inside [[minhashLshPairs]]
    * (same tokenizer, shingle n, perm family, band hasher), so candidates
    * found by one are candidates under the other. */
  def bandedMinhashSigs(docs: DataFrame, numPerms: Int = 128, bands: Int = 32,
                        carryCols: Seq[String] = Nil): DataFrame = {
    require(numPerms % bands == 0,
      s"bandedMinhashSigs: bands=$bands must divide numPerms=$numPerms")
    GraftFunctions.register(docs.sparkSession)
    // carryCols ride the projection chain unchanged (e.g. the event-time
    // column the watermark-bounded streaming twin pairs within)
    val carried = carryCols.map(col)
    docs.select(col("doc_id") +: TextOps.tokens(col("text")).as("t") +: carried: _*)
      .select(col("doc_id") +: shinglesFromTokens(col("t"), 3).as("s") +: carried: _*)
      .filter(size(col("s")) > 0)
      .select(col("doc_id") +:
        transform(col("s"), x => pmod(xxhash64(x), lit(P))).as("hs") +: carried: _*)
      .select(col("doc_id") +: minhashFromHashes(col("hs"), numPerms).as("sig") +: carried: _*)
      .select(col("doc_id") +:
        posexplode(GraftFunctions.bandHashes(col("sig"), bands)).as(Seq("band", "band_sig")) +:
        carried: _*)
  }

  /** MinHash + LSH near-dup pairs, verified with exact Jaccard ≥ tau.
    * bands × rowsPerBand must equal numPerms. Returns (a_id, b_id, jacc) —
    * identical schema/content to ngramJaccardPairs at tau when LSH recall
    * is 1.0 (holds for near-dup thresholds ≥ ~0.8 with 32×4 bands).
    *
    * WORST-CASE BOUND: for honest MinHash the banded join is uniform by
    * construction, but an adversarial near-constant corpus (all-identical
    * docs) degenerates every band bucket to size N → N²/2 candidate rows.
    * Two defenses: (1) the band-join output volume rides every run as a
    * named observation ("lsh_band_join"/cand_rows_pre_dedup — Bench dumps
    * it under "observed"), so degeneration is VISIBLE, not a silent OOM
    * forensics session; (2) `maxBucket > 0` applies the streaming twin's
    * saturation cap (Streams.nearDupCandidates maxBucket) in its batch
    * form: bucket members are ranked by doc_id (deterministic arrival
    * order) and only the first `maxBucket` act as the index side, so every
    * doc still pairs with up to maxBucket earlier members — candidate rows
    * drop from O(bucketN²) to O(bucketN × maxBucket), connected components
    * over the output still group a saturated cluster (every later member
    * pairs with the first ones), and the capped path also observes the
    * measured max bucket size + overflow rows ("lsh_buckets"). Default 0 =
    * exact uncapped (the oracle-checked gate shape). */
  def minhashLshPairs(docs: DataFrame, tau: Double = 0.8,
                      numPerms: Int = 128, bands: Int = 32,
                      maxBucket: Int = 0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(numPerms % bands == 0,
      s"minhashLshPairs: bands=$bands must divide numPerms=$numPerms")
    GraftFunctions.register(docs.sparkSession)
    val sh = shingleDocs(docs, keepStrings = false)
    // signature in its own projection; band sigs computed ONCE as a small
    // int array, THEN exploded — the explode carries (doc_id, band, sig32)
    // only, never the shingle arrays or the 128-lane signature.
    val sig = sh.select(col("doc_id"), minhashFromHashes(col("hs"), numPerms).as("sig"))
    val bandSigs = sig.select(col("doc_id"),
      GraftFunctions.bandHashes(col("sig"), bands).as("bsigs"))
    // tiny relation (docs × bands × 3 ints) reused by both join sides —
    // persist to block Catalyst from re-deriving the signature per side
    val banded = bandSigs.select(col("doc_id"),
        posexplode(col("bsigs")).as(Seq("band", "band_sig")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val xSide =
      if (maxBucket <= 0) banded
      else banded.withColumn("rnk", row_number().over(
          Window.partitionBy(col("band"), col("band_sig")).orderBy(col("doc_id"))))
        .observe("lsh_buckets", max(col("rnk")).as("max_bucket_size"),
          sum(when(col("rnk") > maxBucket, 1L).otherwise(0L)).as("overflow_rows"))
        .filter(col("rnk") <= maxBucket)
        .drop("rnk")
    val cand = xSide.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.band_sig") === col("y.band_sig") &&
        col("x.doc_id") < col("y.doc_id"))
      .observe("lsh_band_join", count(lit(1)).as("cand_rows_pre_dedup"))
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
      .dropDuplicates("a_id", "b_id")
    verifyPairs(cand, sh, tau)
  }

  /** Exact cross-corpus near-dup pairs: every (corpus doc, reference doc)
    * pair with shingle Jaccard ≥ tau — the FUZZY version of benchmark
    * decontamination (GPT-3 App. C / Llama used n-gram overlap against
    * eval sets; near-dup containment catches paraphrased or lightly-edited
    * contamination that exact n-gram overlap thresholds miss). Asymmetric
    * inverted-index join: no self-pair constraint, the two sides are
    * distinct relations. Reference analog: the datajoin tool's two-source
    * inner join shape (hadoop-tools/hadoop-datajoin/.../DataJoinJob.java:1).
    * Output: (corpus_id, ref_id, jacc).
    *
    * SKEW BOUND (docs/SCALE_GUIDE.md "cross-corpus dedup"): unlike the
    * self-join form, this exact baseline has NO posting-list cap — capping
    * would break oracle-exactness, and a cross pair sharing only capped
    * shingles would be lost (no self-join "found via its other shingles"
    * argument applies when the reference doc is short). Worst case is
    * |corpus posting| × |ref posting| join rows for ONE shingle shared by
    * hot boilerplate on both sides. The scale path is [[crossMinhashPairs]]
    * (every composite uses it); when the exact baseline must run at scale,
    * pass `maxRefDf` to FAIL LOUDLY on a reference-side hot shingle instead
    * of silently materializing the blow-up — the reference side is the
    * small side, so the guard scan is cheap. */
  def crossJaccardPairs(corpus: DataFrame, ref: DataFrame, tau: Double = 0.8,
                        maxRefDf: Long = 0L): DataFrame = {
    val sa = shingleDocs(corpus)
    val sb = shingleDocs(ref)
    // §2.3 (the ngramJaccardPairs shape): posting rows carry only (doc_id,
    // sg) through the inverted-index join; per-doc sizes attach to the
    // pair relation after the groupBy.
    def ex(sh: DataFrame) =
      sh.select(col("doc_id"), explode(col("s")).as("sg"))
    def sizes(sh: DataFrame, idCol: String, szCol: String) =
      sh.select(col("doc_id").as(idCol), size(col("s")).as(szCol))
    if (maxRefDf > 0L) {
      val hot = ex(sb).groupBy(col("sg")).agg(count(lit(1)).as("df"))
        .filter(col("df") > maxRefDf).orderBy(col("df").desc).limit(1).collect()
      require(hot.isEmpty, {
        val h = hot.head
        s"crossJaccardPairs: reference shingle '${h.getString(0)}' appears in " +
        s"${h.getLong(1)} reference docs > maxRefDf=$maxRefDf — the inverted-" +
        s"index join would replicate every corpus occurrence per reference " +
        s"occurrence; dedupe/clean the reference, raise maxRefDf, or use the " +
        s"LSH twin crossMinhashPairs"
      })
    }
    ex(sa).as("a").join(ex(sb).as("b"), col("a.sg") === col("b.sg"))
      .groupBy(col("a.doc_id").as("corpus_id"), col("b.doc_id").as("ref_id"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes(sa, "corpus_id", "na"), "corpus_id")
      .join(sizes(sb, "ref_id", "nb"), "ref_id")
      .withColumn("jacc", round(col("inter") / (col("na") + col("nb") - col("inter")), 6))
      .filter(col("jacc") >= tau)
      .select(col("corpus_id"), col("ref_id"), col("jacc"))
  }

  /** [[crossJaccardPairs]]'s 100 TB twin: MinHash-LSH bucketed candidates
    * instead of the full inverted-index join. Both sides band map-side
    * (hash-only shingle relations — no strings in the persisted state),
    * candidates come from the (band, band_sig) equi-join — at τ ≥ ~0.8 with
    * 32×4 bands recall is 1.0 for the same reason as [[minhashLshPairs]] —
    * and exact Jaccard verification makes every emitted pair sound. The
    * reference side is typically tiny (an eval suite) next to the corpus, so
    * the banded join is effectively a semi-broadcast probe of the corpus's
    * band stream. Output identical to [[crossJaccardPairs]] when recall
    * holds (spec-pinned on the gate corpus). */
  def crossMinhashPairs(corpus: DataFrame, ref: DataFrame, tau: Double = 0.8,
                        numPerms: Int = 128, bands: Int = 32): DataFrame = {
    require(numPerms % bands == 0,
      s"crossMinhashPairs: bands=$bands must divide numPerms=$numPerms")
    GraftFunctions.register(corpus.sparkSession)
    val sa = shingleDocs(corpus, keepStrings = false)
    val sb = shingleDocs(ref, keepStrings = false)
    def banded(sh: DataFrame) = sh
      .select(col("doc_id"), minhashFromHashes(col("hs"), numPerms).as("sig"))
      .select(col("doc_id"),
        posexplode(GraftFunctions.bandHashes(col("sig"), bands)).as(Seq("band", "band_sig")))
    val cand = banded(sa).as("x").join(banded(sb).as("y"),
        col("x.band") === col("y.band") && col("x.band_sig") === col("y.band_sig"))
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
      .dropDuplicates("a_id", "b_id")
    verifyPairsAB(cand, sa, sb, tau)
      .select(col("a_id").as("corpus_id"), col("b_id").as("ref_id"), col("jacc"))
  }

  /** The drop set for incremental ingest dedup, computed over ONE shingle
    * pass of the new batch: both candidate stages (batch self-join and the
    * cross join against the existing corpus) band the SAME persisted
    * shingle relation — calling [[minhashLshPairs]] and
    * [[crossMinhashPairs]] separately would shingle, hash, and persist the
    * new side twice (a full extra corpus pass at scale). Returns the new-
    * batch doc_ids to DROP: every b_id of a verified batch-internal pair
    * (min-id-survives) plus every new id verified against the existing
    * side. */
  def incrementalDropIds(newDocs: DataFrame, existing: DataFrame,
                         tau: Double = 0.8, numPerms: Int = 128,
                         bands: Int = 32): DataFrame = {
    require(numPerms % bands == 0,
      s"incrementalDropIds: bands=$bands must divide numPerms=$numPerms")
    GraftFunctions.register(newDocs.sparkSession)
    val sa = shingleDocs(newDocs, keepStrings = false)
    val sb = shingleDocs(existing, keepStrings = false)
    def banded(sh: DataFrame) = sh
      .select(col("doc_id"), minhashFromHashes(col("hs"), numPerms).as("sig"))
      .select(col("doc_id"),
        posexplode(GraftFunctions.bandHashes(col("sig"), bands)).as(Seq("band", "band_sig")))
    // NOT persisted pre-partitioned on the join key: that shape was
    // A/B-measured (sf0.1, OPTIMIZATION_r13.md §4) and REJECTED — the
    // partitioned cache pins 32 fixed partitions that AQE cannot coalesce,
    // so every downstream stage ran 32 tiny tasks (27 → 211 tasks, wall
    // 1.4 → 2.2 s) to save 2 jobs.
    val bandedA = banded(sa)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bandedB = banded(sb)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Both candidate stages feed ONE tagged verify (b_org 0 = batch-self,
    // 1 = vs-existing): one dedup exchange over the union instead of one
    // per stage, and half the verify joins/broadcast builds — measured
    // at sf0.1 this family was pure driver-round-trip cost (31 jobs, 32
    // tasks, ~0 shuffle), so the win is blocking actions, not bytes (§1.2).
    val selfCand = bandedA.as("x").join(bandedA.as("y"),
        col("x.band") === col("y.band") && col("x.band_sig") === col("y.band_sig") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"),
        lit(0).as("b_org"))
    val crossCand = bandedA.as("x").join(bandedB.as("y"),
        col("x.band") === col("y.band") && col("x.band_sig") === col("y.band_sig"))
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"),
        lit(1).as("b_org"))
    val cand = selfCand.unionByName(crossCand)
      .dropDuplicates("a_id", "b_id", "b_org")
    val out = verifyPairsTagged(cand, sa, sa, sb, tau)
      .select(when(col("b_org") === 0, col("b_id"))
        .otherwise(col("a_id")).as("doc_id"))
      .distinct()
    // Per-batch entry point (one call per ingest batch in the intended
    // loop): materialize the batch-sized drop set eagerly, then release the
    // intermediate caches — leaked MEMORY_AND_DISK partitions would
    // otherwise accumulate for the whole ingest session.
    val res = out.localCheckpoint(true)
    sa.unpersist(); sb.unpersist(); bandedA.unpersist(); bandedB.unpersist()
    res
  }

  /** Persist the corpus's banded MinHash signature relation — the dedup
    * twin of the persisted IVF index (SimilarityOps.ivfWriteIndex). At
    * 100 TB the signature pass (tokenize + shingle + 128 permutations over
    * every HISTORICAL document) is the dominant cost of incremental dedup
    * if recomputed per ingest batch; the store pays it once, and each batch
    * thereafter reads narrow (band, band_sig, doc_id) rows. Layout:
    * bands/ partitioned by band; accepted batches append under
    * bands_inc/<label> in the same layout (batch-path write — idempotent
    * because each label is one batch's full rewrite); [[readMinhashStore]]
    * merges base + increments; fold increments into bands/ with a
    * compaction rewrite when the batch count grows. */
  def minhashWriteStore(docs: DataFrame, dir: String,
                        numPerms: Int = 128, bands: Int = 32): Unit = {
    // A full rebuild invalidates accumulated increments by definition:
    // bands_inc/ signatures left over from a previous store would be merged
    // by readMinhashStore into the NEW base — stale rows for documents that
    // may no longer exist, and duplicates for ones that do. Clear the root.
    graft.sources.IO.deletePath(docs.sparkSession, dir)
    bandedMinhashSigs(docs, numPerms, bands)
      .write.mode("overwrite").partitionBy("band").parquet(s"$dir/bands")
  }

  /** Fold accumulated ingest batches (bands_inc/<label>) back into the base
    * banded relation — the store's HAR-style re-layout pass (the IVF twin
    * is SimilarityOps.compactIndex; reference analog: hadoop-archives
    * re-packing accumulated small files, HadoopArchives.java:1). Queries
    * see either layout identically (readMinhashStore merges on read);
    * compaction restores one band-partitioned dir so discovery lists one
    * relation and file counts stop growing with batch count. Staged write +
    * swap, increments deleted last; the merge dedups full rows, so a crash
    * between swap and delete (increments folded AND present) heals on
    * re-run instead of double-counting. No-op when no increments exist. */
  def compactMinhashStore(spark: org.apache.spark.sql.SparkSession, dir: String): Unit = {
    val incRoot = new org.apache.hadoop.fs.Path(s"$dir/bands_inc")
    val fs = incRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(incRoot)) return
    val staging = s"$dir/bands_cmp"
    readMinhashStore(spark, dir).dropDuplicates()
      .write.mode("overwrite").partitionBy("band").parquet(staging)
    graft.sources.IO.swapPath(spark, staging, s"$dir/bands")
    graft.sources.IO.deletePath(spark, s"$dir/bands_inc")
  }

  /** Append one accepted batch's signatures under bands_inc/<label> —
    * re-running the same label overwrites (retry-idempotent). */
  def minhashAppendStore(docs: DataFrame, dir: String, label: String,
                         numPerms: Int = 128, bands: Int = 32): Unit =
    bandedMinhashSigs(docs, numPerms, bands)
      .write.mode("overwrite").partitionBy("band").parquet(s"$dir/bands_inc/$label")

  /** The store's full banded relation: base build plus appended batches. */
  def readMinhashStore(spark: org.apache.spark.sql.SparkSession,
                       dir: String): DataFrame = {
    val base = spark.read.parquet(s"$dir/bands")
    val incRoot = new org.apache.hadoop.fs.Path(s"$dir/bands_inc")
    val fs = incRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(incRoot)) base
    else fs.listStatus(incRoot).filter(st => st.isDirectory &&
        // an increment dir with no part files (interrupted append, empty
        // batch) has no schema to infer — it reads as "no rows" by skipping
        SimilarityOps.hasParquetFile(fs, st.getPath))
      .map(st => spark.read.parquet(st.getPath.toString))
      .foldLeft(base)((acc, b) => acc.unionByName(b))
  }

  /** [[incrementalDropIds]] against a PERSISTED signature store instead of
    * re-banding the existing corpus: the new batch is shingled and banded
    * once (it is the small side), candidates come from the (band, band_sig)
    * join against the store, and the exact-Jaccard verify re-reads ONLY the
    * candidate documents from the existing corpus (a left-semi prune —
    * candidate-sized, not corpus-sized). Output is id-for-id identical to
    * [[incrementalDropIds]] when the store was built from `existing`:
    * banding is a deterministic function of text, and restricting the
    * verify relation to candidate ids cannot change which candidate pairs
    * clear tau (spec-pinned). */
  def incrementalDropIdsFromStore(newDocs: DataFrame, existing: DataFrame,
                                  storeDir: String, tau: Double = 0.8,
                                  numPerms: Int = 128, bands: Int = 32): DataFrame = {
    require(numPerms % bands == 0,
      s"incrementalDropIdsFromStore: bands=$bands must divide numPerms=$numPerms")
    GraftFunctions.register(newDocs.sparkSession)
    val sa = shingleDocs(newDocs, keepStrings = false)
    val bandedA = sa
      .select(col("doc_id"), minhashFromHashes(col("hs"), numPerms).as("sig"))
      .select(col("doc_id"),
        posexplode(GraftFunctions.bandHashes(col("sig"), bands)).as(Seq("band", "band_sig")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Same tagged single-verify shape as [[incrementalDropIds]] (b_org 0 =
    // batch-self, 1 = vs-store): one candidate-dedup exchange, half the
    // verify joins. The cross stage still semi-prunes the existing corpus
    // to candidate ids first — the store path's whole point.
    val selfCand = bandedA.as("x").join(bandedA.as("y"),
        col("x.band") === col("y.band") && col("x.band_sig") === col("y.band_sig") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"),
        lit(0).as("b_org"))
    val store = readMinhashStore(newDocs.sparkSession, storeDir)
    val crossCand = bandedA.as("x").join(store.as("y"),
        col("x.band") === col("y.band") && col("x.band_sig") === col("y.band_sig"))
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"),
        lit(1).as("b_org"))
      .dropDuplicates("a_id", "b_id")
    val candIds = crossCand.select(col("b_id").as("doc_id")).distinct()
    val sbCand = shingleDocs(existing.join(candIds, Seq("doc_id"), "left_semi"),
      keepStrings = false)
    val cand = selfCand.dropDuplicates("a_id", "b_id")
      .unionByName(crossCand)
    val out = verifyPairsTagged(cand, sa, sa, sbCand, tau)
      .select(when(col("b_org") === 0, col("b_id"))
        .otherwise(col("a_id")).as("doc_id"))
      .distinct()
    // This entry point exists to be called once per accepted batch:
    // materialize the batch-sized drop set, then release every cache the
    // call pinned (sa/bandedA/sbCand all persist MEMORY_AND_DISK) so a
    // long-running ingest loop doesn't accumulate session-lifetime blocks.
    val res = out.localCheckpoint(true)
    sa.unpersist(); bandedA.unpersist(); sbCand.unpersist()
    res
  }

  /** Resolve near-dup PAIRS into duplicate GROUPS — connected components by
    * iterative min-label propagation (the distributed-join formulation of
    * Kiveris et al. 2014, "Connected Components in MapReduce and Beyond").
    * Input: (a_id, b_id) pair rows. Output: (id, comp) where comp is the
    * minimum doc_id reachable through the pair graph — the canonical member.
    *
    * Scale shape: each round is an edge-join + min-agg shuffle followed by a
    * pointer-jumping shortcut (label ← label's label); the alternation
    * converges in O(log diameter) rounds. Near-dup clusters are tiny
    * (pairs come from a ≥ tau similarity join, so components are near-cliques
    * of duplicates — diameter 1-3 in practice), but low-τ semantic graphs
    * chain, and the shortcut keeps those cheap too. Each iteration's result is
    * checkpointed to truncate lineage: pass `checkpointDir` for RELIABLE
    * checkpoints (survives executor loss — what a preemptible 1000-executor
    * cluster needs, since a lost localCheckpoint block kills the lineage-less
    * job); default is executor-local (no extra I/O, right for this sandbox).
    * Convergence test is a scalar isEmpty — no data is collected to the
    * driver. */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 50,
                          checkpointDir: Option[String] = None,
                          localEdgeMax: Long = DefaultCcLocalEdges): DataFrame = {
    // setCheckpointDir is SESSION-GLOBAL: blindly setting it would silently
    // redirect reliable checkpoints of every other job sharing this
    // SparkSession. Only set when none is configured; otherwise keep the
    // session's dir and say so (ADVICE r3). Reliable checkpointing still
    // engages either way — the dir choice is the session owner's.
    checkpointDir.foreach { dir =>
      val sc = pairs.sparkSession.sparkContext
      sc.getCheckpointDir match {
        case None => sc.setCheckpointDir(dir)
        case Some(existing) =>
          if (!isCheckpointRootedAt(existing, dir))
            org.slf4j.LoggerFactory.getLogger(getClass).warn(
              s"connectedComponents: session checkpoint dir already set to $existing; " +
                s"keeping it and ignoring requested $dir")
      }
    }
    // RELIABLE checkpoints whenever a dir is available — the caller's
    // explicit one, or a session-configured dir (a preemptible cluster sets
    // it once at session build; localCheckpoint blocks die with their
    // executor and make the lineage-less loop unrecoverable). No dir at all
    // (this sandbox) keeps the zero-I/O localCheckpoint default.
    val sessionCkptDir = pairs.sparkSession.sparkContext.getCheckpointDir
    def truncate(df: DataFrame): DataFrame =
      if (checkpointDir.isDefined || sessionCkptDir.isDefined) df.checkpoint()
      else df.localCheckpoint()
    // truncate the EDGE lineage too, not just the labels': persist alone
    // keeps the upstream pair-generation plan (LSH banding self-join +
    // verify) reachable through every iteration, pinning its shuffle/spill
    // files for the whole propagation — at multi-M docs that is tens of GB
    // of dead disk held until convergence. Checkpointing stores the ~2×|pairs|
    // edge rows and lets the cleaner reclaim the generator's files at once.
    val edges = truncate(
      pairs.select(col("a_id").as("src"), col("b_id").as("dst"))
        .unionByName(pairs.select(col("b_id").as("src"), col("a_id").as("dst"))))
    // SMALL-GRAPH FAST PATH: "the minimum id reachable through the pair
    // graph" is algorithm-independent, so when the (already-checkpointed)
    // edge relation fits a bounded driver budget, a driver-side union-find
    // produces the IDENTICAL labelling in one collect instead of ~10
    // propagate rounds × (join + agg + checkpoint + check) driver actions
    // — at bench SF that was ~90 of dedup_semantic's 97 Spark jobs. The
    // budget is edge-count-gated (default 2 M directed edge rows ≈ ~32 MB
    // of (Long, Long) tuples on the driver, SPARK_GRAFT_CC_LOCAL_EDGES
    // overrides; the gate is probed by one bounded per-partition counting
    // job below — no full count pass on huge graphs) with the distributed
    // loop below as the unchanged any-scale fallback — the same
    // bounded-collect-or-distributed split as dedupParagraphs'
    // broadcastDropMax. Long-id graphs only (every in-repo pair relation);
    // anything else takes the loop.
    val longIds = edges.schema.fields.forall(
      _.dataType == org.apache.spark.sql.types.LongType)
    if (longIds && localEdgeMax > 0) {
      val spark = pairs.sparkSession
      import spark.implicits._
      // BOUNDED PROBE, ONE PARALLEL JOB: each task counts its own partition
      // of the checkpointed edges and STOPS past the budget, so a huge pair
      // graph pays at most (limit+1) row touches per task to learn "too
      // big" (the old full count() was one extra complete pass per CC
      // call), and a small graph pays one cheap counting pass. take(n) was
      // measured and rejected for this: executeTake ramps 1→4→16→… of the
      // 32 checkpoint partitions, i.e. up to 4 SEQUENTIAL driver round
      // trips on the common small graph where this one job suffices.
      // A per-partition capped count can undercount the total only when
      // some partition capped — and then that partition alone already
      // exceeds the budget, so the gate decision is still exact.
      val typed = edges.select(col("src").as("_1"), col("dst").as("_2"))
        .as[(Long, Long)]
      val probeLimit = localEdgeMax + 1L
      val boundedTotal = typed.rdd.mapPartitions { it =>
        var n = 0L
        while (n < probeLimit && it.hasNext) { it.next(); n += 1 }
        Iterator.single(n)
      }.collect().sum
      if (boundedTotal <= localEdgeMax) {
        // second bounded job: exactly the ≤ localEdgeMax edges, as typed
        // (Long, Long) tuples (specialized Tuple2, no Row/boxing overhead:
        // the 2 M-row default gate costs ~32 MB driver heap, not hundreds)
        val taken = typed.collect()
        val parent = new java.util.HashMap[Long, Long]()
        def find(x: Long): Long = {
          var r = x
          while (parent.get(r) != r) r = parent.get(r)
          var c = x // path compression
          while (parent.get(c) != r) { val n = parent.get(c); parent.put(c, r); c = n }
          r
        }
        taken.foreach { case (a, b) =>
          if (!parent.containsKey(a)) parent.put(a, a)
          if (!parent.containsKey(b)) parent.put(b, b)
          val ra = find(a); val rb = find(b)
          if (ra != rb) parent.put(math.max(ra, rb), math.min(ra, rb))
        }
        // snapshot the id set BEFORE the find-calling passes: find's path
        // compression put()s into the map, which is only CME-safe under
        // forEach while every put hits an existing key — an invariant one
        // refactor away from breaking. Iterating the snapshot removes it.
        val ids = new Array[Long](parent.size)
        var i = 0
        parent.forEach { (id, _) => ids(i) = id; i += 1 }
        // two passes: root → component minimum, then id → that minimum
        val compMin = new java.util.HashMap[Long, Long]()
        ids.foreach { id =>
          val r = find(id)
          val m = compMin.getOrDefault(r, Long.MaxValue)
          if (id < m) compMin.put(r, id)
        }
        val rows = new scala.collection.mutable.ArrayBuffer[(Long, Long)](ids.length)
        ids.foreach { id => rows += ((id, compMin.get(find(id)))) }
        return rows.toSeq.toDF("id", "comp")
      }
      // fell through: graph exceeds the driver budget — distributed loop
    }
    var labels = truncate(edges.select(col("src").as("id"))
      .distinct()
      .withColumn("comp", col("id")))
    // propagate each node's label to its neighbors, keep the minimum
    def propagate(l: DataFrame): DataFrame = edges
      .join(l.select(col("id").as("dst"), col("comp")), "dst")
      .select(col("src").as("id"), col("comp"))
      .unionByName(l)
      .groupBy("id").agg(min("comp").as("comp"))
    // pointer jumping: replace each label by its LABEL'S label (path
    // halving — Shiloach-Vishkin's shortcut step). Sound because a node's
    // comp is always the id of a same-component node (labels start as ids
    // and only component members' ids ever propagate), and that node's own
    // comp is ≤ itself (labels are monotone non-increasing), so the jump
    // stays in-component and never increases a label. Alternating
    // propagate+shortcut reaches the component minimum in O(log diameter)
    // rounds instead of propagate-only's O(diameter) — on a long-chain pair
    // graph (low-τ semantic graphs produce them) this cuts the number of
    // blocking driver rounds, each of which pays full scheduling latency.
    def shortcut(l: DataFrame): DataFrame = {
      // parent side re-projected under fresh names so the self-join carries
      // no shared attribute names (every l-side ref stays unambiguous)
      val parent = l.select(col("id").as("p_id"), col("comp").as("p_comp"))
      l.join(parent, col("comp") === col("p_id"), "left")
        .select(col("id"), coalesce(col("p_comp"), col("comp")).as("comp"))
    }
    // Convergence via a MONOTONE CHECKSUM instead of a next-vs-old join:
    // labels are non-increasing per id (propagate takes min including the
    // own label; shortcut replaces a label by that label's own label, which
    // is ≤ it) and the id set is constant across rounds, so Σ comp strictly
    // decreases on any change and is constant exactly at the fixpoint. The
    // check is then one single-stage aggregate over the just-checkpointed
    // relation (decimal(38,0) — exact at any id magnitude / corpus size)
    // instead of a 2-sided join+filter action: measured at sf0.1 this and
    // the per-round loop below cut dedup_semantic's driver round trips
    // ~2-3× (the old shape ran 2 propagate+shortcut rounds per check to
    // amortize the join; with a ~free check, checking EVERY round converges
    // shallow near-clique graphs — the common case, diameter 1-3 — in
    // 2 rounds instead of 4).
    def compSum(l: DataFrame): java.math.BigDecimal =
      l.agg(sum(col("comp").cast("decimal(38,0)"))).collect()(0).getDecimal(0)
    var prev = compSum(labels)
    var iter = 0
    var batch = 1
    var converged = false
    while (!converged && iter < maxIter) {
      // `batch` propagate+shortcut rounds per checkpoint+check: the FIRST
      // check comes after ONE round — near-dup pair graphs are near-cliques
      // (diameter 1-3), so the common case converges in two driver actions
      // — and every later check after TWO rounds, which bounds the
      // overshoot past the fixpoint to one round on deep chained graphs
      // (low-τ semantic graphs run ~10+ rounds; at scale an overshoot
      // round is a real edge-shuffle, so unbounded batching would trade
      // driver latency for wasted cluster work). No-change of the
      // composite implies no change from propagate alone (both steps are
      // monotone non-increasing), and a propagate fixpoint is full
      // convergence — labels constant across every edge.
      var next = labels
      var r = 0
      while (r < batch && iter + r < maxIter) {
        next = shortcut(propagate(next)); r += 1
      }
      val t = truncate(next)
      val s = compSum(t)
      converged =
        if (prev == null || s == null) prev == null && s == null
        else prev.compareTo(s) == 0
      labels = t
      prev = s
      iter += r
      batch = 2
    }
    // a silently partial labelling would split one true component into
    // several groups with no signal — convergence is part of the contract.
    // maxIter is a ROUND BUDGET including the confirmation round(s) that
    // observe no change; with pointer jumping a component of diameter d
    // needs ~log2(d) + 1 rounds, so the default 50 covers any graph that
    // fits on disk.
    if (!converged) throw new IllegalStateException(
      s"connectedComponents did not converge within the $maxIter-round budget — raise maxIter")
    labels
  }

  /** Default edge budget for [[connectedComponents]]'s driver union-find
    * fast path (0 disarms; SPARK_GRAFT_CC_LOCAL_EDGES overrides): 2 M
    * directed edge rows ≈ tens of MB on the driver — the bounded-collect-
    * or-distributed split of dedupParagraphs' broadcastDropMax, sized per
    * deployment. */
  def DefaultCcLocalEdges: Long = graft.GraftEnv.ccLocalEdges()

  /** "Rooted at" = equal or a proper child PATH after URI normalization —
    * never a raw substring match, which would let requested /tmp/a match an
    * existing /tmp/ab/<uuid> and silently suppress the mismatch warning
    * (ADVICE r4). setCheckpointDir appends a UUID subdir, so an existing dir
    * rooted at the request is equal to it or a descendant of it. */
  private[graft] def isCheckpointRootedAt(existing: String, requested: String): Boolean = {
    val req = new org.apache.hadoop.fs.Path(requested).toUri.getPath
    val ex = new org.apache.hadoop.fs.Path(existing).toUri.getPath
    ex == req || ex.startsWith(req + "/")
  }

  /** Full dedup group assignment over the corpus: every doc mapped to the
    * canonical (minimum) doc_id of its near-dup component; singletons map to
    * themselves. Pair generation uses the scale-safe MinHash-LSH path
    * (recall 1.0 at tau ≥ ~0.8 with 32×4 bands, so output matches the exact
    * n-gram-Jaccard oracle). This is the last stage of the standard dedup
    * pipeline: pairs → groups → keep one per group. */
  def dedupGroups(docs: DataFrame, tau: Double = 0.8): DataFrame = {
    val pairs = minhashLshPairs(docs, tau).select(col("a_id"), col("b_id"))
    val comp = connectedComponents(pairs)
    docs.select(col("doc_id"))
      .join(comp.select(col("id").as("doc_id"), col("comp")), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("comp"), col("doc_id")).as("group_id"))
  }

  /** Fuzzy prefix dedup via edit distance (the title/header near-dup idiom):
    * pairs sharing their FIRST TOKEN whose `prefixLen`-char prefixes are
    * within `maxDist` edits. First-token blocking bounds the join (posting
    * lists per block, never all-pairs) and is part of the operator's
    * contract — the oracle mirrors it exactly.
    *
    * Two scale refinements, both output-preserving:
    *  - LENGTH-BUCKETED block key: ed(a,b) ≥ |len(a) − len(b)|, so pairs in
    *    non-adjacent maxDist-wide length buckets can never qualify; the probe
    *    side explodes into {lb−1, lb, lb+1} so every qualifying pair meets on
    *    exactly one equi-key (no pair dedup needed). A no-op when prefixes
    *    all hit the prefixLen cap (this corpus), real pruning on natural
    *    variable-length keys.
    *  - Myers BIT-PARALLEL verify (bounded_levenshtein): this corpus's pair
    *    distances cluster AT the threshold (median 13 vs maxDist 12), the
    *    worst case for the banded DP's early exit — the bit-vector kernel
    *    does each pair in ~n register ops regardless.
    * Block sizes scale with first-token cardinality: near-unique on natural
    * corpora (tiny blocks); this synthetic 31-word vocabulary is the
    * adversarial worst case, same as for PPJoin prefixes. */
  /** Round-robin spread of tile block-pair rows before a CPU-heavy tile
    * kernel (tileLevenshteinPairs / tileHammingPairs): a tile row carries
    * ~blockSize× more COMPUTE than bytes (the kernel scores |blkA|×|blkB|
    * pairs off |blkA|+|blkB| bytes), so AQE's bytes-based partition
    * coalescing serializes the verify stage onto one task long before the
    * relation is big — measured at sf1: dedup_levenshtein's whole verify in
    * ONE task (11.7 s of 14.4 s wall), dedup_simhash's in one 8.3 s task.
    * Width = max(2 × defaultParallelism, session shuffle width): never below
    * the cluster's compute width, and at large SF (where the session shuffle
    * width is sized to data volume) never narrower than the configured
    * width. The extra exchange moves only the bounded block rows — bytes
    * ~1/blockSize of the compute they carry — so it is amortized at any
    * scale. Pure row identity: repartitioning changes placement, not rows. */
  private def spreadTilePairs(tiles: DataFrame): DataFrame = {
    val spark = tiles.sparkSession
    val n = math.max(spark.sparkContext.defaultParallelism * 2,
      spark.sessionState.conf.numShufflePartitions)
    tiles.repartition(n)
  }

  def levenshteinPairs(docs: DataFrame, maxDist: Int = 12, prefixLen: Int = 48): DataFrame = {
    GraftFunctions.register(docs.sparkSession)
    val w = math.max(1, maxDist)
    val p = docs.select(col("doc_id"),
        substring(col("text"), 1, prefixLen).as("pfx"),
        element_at(TextOps.tokens(col("text")), 1).as("tok"))
      .withColumn("lb", (length(col("pfx")) / w).cast("long"))
    // TILED verification (same lesson as embeddingNearDup, see
    // TileLevenshteinPairs): the (tok × length-bucket) blocks collide hard
    // on shared-vocabulary corpora, making the verify stage pair-dominated —
    // and the per-pair path pays join-row machinery plus a fresh 1 KB Myers
    // bitmask allocation per bounded_levenshtein call. Blocks of ≤ ~512
    // prefixes join per-PAIR-OF-BLOCKS (sub split bounds tile memory at any
    // corpus size); the tile scorer builds each pattern's bitmask once and
    // sweeps it across the whole opposing block. The probe side explodes
    // into {lb−1, lb, lb+1} exactly as the row form did, so every
    // qualifying pair still meets on one equi-key, and the A-side id <
    // B-side id check inside the tile keeps it emitted once.
    // sub split sized PER BLOCK inside the plan (r6 — replaces the eager
    // worst-block aggregate, which cost an extra full pass of the prefix
    // relation at plan-construction time): block counts are a map-side-
    // combined groupBy on the small (tok, lb) key domain, joined back (AQE
    // picks broadcast when the count relation is small), and each block
    // splits into ceil(cnt/512) sub-blocks. Plan construction triggers ZERO
    // jobs (spec-pinned), and the output is invariant to the sub
    // partitioning — the tile join never keys on sub, so sizing granularity
    // cannot change results. Natural near-unique-key corpora get nsub=1
    // (zero overhead); each skewed block gets exactly the split it needs —
    // strictly finer than sizing every block off the global worst.
    val cnts = p.groupBy(col("tok"), col("lb")).agg(count(lit(1)).as("cnt"))
    val blocks = p.join(cnts, Seq("tok", "lb"))
      .withColumn("sub", pmod(col("doc_id"),
        greatest(lit(1L), ceil(col("cnt") / lit(512.0)).cast("long"))))
      .groupBy(col("tok"), col("lb"), col("sub"))
      .agg(collect_list(struct(col("doc_id").as("id"), col("pfx").as("pfx"))).as("blk"))
    val probe = blocks.withColumn("jb",
      explode(array(col("lb") - 1, col("lb"), col("lb") + 1)))
      .select(col("tok"), col("jb"), col("blk").as("blkA"))
    val target = blocks.select(col("tok"), col("lb").as("jb"), col("blk").as("blkB"))
    spreadTilePairs(probe.join(target, Seq("tok", "jb")))
      .select(explode(GraftFunctions.tileLevenshteinPairs(col("blkA"), col("blkB"), maxDist)).as("r"))
      .select(col("r.a_id").as("a_id"), col("r.b_id").as("b_id"), col("r.dist").as("dist"))
  }

  /** SimHash fingerprints per doc (map-side, native expression). */
  def simhashFingerprints(docs: DataFrame): DataFrame = {
    GraftFunctions.register(docs.sparkSession)
    docs.select(col("doc_id"),
      GraftFunctions.simhash64(TextOps.tokens(col("text"))).as("fp"))
  }

  /** Corpus-driven idf table for [[simhashIdfFingerprints]]: one
    * vocabulary-bounded aggregate (explode distinct in-row tokens → df per
    * token), keep the `maxTable` most frequent tokens with df ≥ `minDf`,
    * weight = ln((N+1)/(df+1)). Returns (words, weights, defaultWeight)
    * where defaultWeight = ln((N+1)/2) — the idf of a df=1 token, which is
    * what every omitted rare token saturates to; shipping only the frequent
    * head keeps the model BOUNDED BY CONSTRUCTION at any corpus size (the
    * collect is ≤ maxTable rows of (token, df): model state, not data —
    * same discipline as the classifier weights / kmeans centroids).
    * Deterministic: ties on df break on the token string. */
  def idfWeights(docs: DataFrame, maxTable: Int = 1 << 18,
                 minDf: Long = 2): (Seq[String], Seq[Double], Double) = {
    require(maxTable > 0 && minDf >= 1)
    val n = docs.count()
    val rows = docs
      .select(explode(array_distinct(TextOps.tokens(col("text")))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf)
      .orderBy(col("df").desc, col("tok"))
      .limit(maxTable)
      .collect() // bounded: ≤ maxTable (token, df) rows
    val words = rows.map(_.getString(0)).toSeq
    val weights = rows.map(r => math.log((n + 1.0) / (r.getLong(1) + 1.0))).toSeq
    (words, weights, math.log((n + 1.0) / 2.0))
  }

  /** Idf-WEIGHTED SimHash fingerprints (map-side after the one
    * vocabulary-bounded df aggregate). The production fingerprint for real
    * text: on a corpus with a global stopword head the unweighted
    * fingerprint correlates across UNRELATED documents (the head dominates
    * every doc's vote mass — measured 300.9 s for `dedup_simhash` on the
    * sf10 realistic-vocabulary corpus, NOTES_PERF r12, because hamming-ball
    * buckets filled with cross-topic collisions); idf down-weights the head
    * so unrelated docs decorrelate while near-duplicates — which share
    * their content mass — stay within the radius. Same banding/pair
    * machinery downstream, fingerprint relation schema unchanged. */
  def simhashIdfFingerprints(docs: DataFrame, maxTable: Int = 1 << 18,
                             minDf: Long = 2): DataFrame = {
    GraftFunctions.register(docs.sparkSession)
    val (words, weights, dflt) = idfWeights(docs, maxTable, minDf)
    docs.select(col("doc_id"),
      GraftFunctions.simhash64Weighted(
        TextOps.tokens(col("text")), words, weights, dflt).as("fp"))
  }

  /** Idf-weighted SimHash near-dup pairs — [[simhashIdfFingerprints]]
    * through the same sound banding as [[simhashPairs]]. */
  def simhashIdfPairs(docs: DataFrame, maxHamming: Int = 6): DataFrame =
    simhashPairsFromFingerprints(simhashIdfFingerprints(docs), maxHamming)

  /** SimHash near-dup pairs with SOUND banding: the 64 fingerprint bits are
    * split into `maxHamming + 1` balanced contiguous slices, so by
    * pigeonhole ANY pair within the advertised radius leaves at least one
    * band untouched and is guaranteed to collide there (100% recall at
    * ≤ maxHamming; the exact hamming filter then removes false positives).
    * Default maxHamming=6 → 7 bands of 9–10 bits.
    *
    * Scale note: fewer bits per band ⇒ bigger buckets (n/2^width docs per
    * bucket ⇒ quadratic within bucket). At 10^10 docs either lower the
    * radius (more bands ⇒ narrower is NOT possible — fewer bands widen
    * them; lower maxHamming ⇒ fewer, wider bands... radius 3 → 4×16-bit
    * bands) or run the multi-level variant: band collide first, then
    * re-split colliders on a second fingerprint — this operator keeps the
    * single-level sound form. */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 6): DataFrame =
    simhashPairsFromFingerprints(simhashFingerprints(docs), maxHamming)

  /** Banding + exact-hamming verify over an existing (doc_id, fp) relation —
    * the same op with the fingerprint step factored out (also what the
    * planted-pair recall spec drives directly).
    *
    * The banded self-join runs over DISTINCT fingerprints, not docs: exact
    * duplicates (hamming 0 — the overwhelming majority in any near-dup
    * corpus) collapse to one row each before the quadratic stage, and doc
    * pairs are recovered afterwards by joining the fp→doc mapping onto the
    * surviving fingerprint pairs. Candidate-join cost goes from O(docs² /
    * buckets) to O(distinct-fps² / buckets); output is unchanged. */
  /** Balanced band slicing of a distinct-fingerprint relation: band b
    * covers bits [b*64/nBands, (b+1)*64/nBands). Shared by both simhash
    * pair strategies (the >= 64 guard handles the single full-width band
    * of maxHamming = 0). Keeps lo/hi so probe expansion can use the width. */
  private def bandSlices(distinctFp: DataFrame, nBands: Int): DataFrame =
    distinctFp.select(col("fp"),
        explode(sequence(lit(0), lit(nBands - 1))).as("band"))
      .withColumn("lo", (col("band") * 64 / nBands).cast("int"))
      .withColumn("hi", ((col("band") + 1) * 64 / nBands).cast("int"))
      .withColumn("band_bits",
        when(col("hi") - col("lo") >= 64, col("fp"))
          .otherwise(expr("shiftrightunsigned(fp, lo) & (shiftleft(1L, hi - lo) - 1)")))

  def simhashPairsFromFingerprints(fp: DataFrame, maxHamming: Int = 6): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 64, s"maxHamming=$maxHamming out of [0,64)")
    GraftFunctions.register(fp.sparkSession)
    val nBands = maxHamming + 1
    val docs = fp.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val distinctFp = docs.select(col("fp")).distinct()
    val banded = bandSlices(distinctFp, nBands)
      .select(col("fp"), col("band"), col("band_bits"))
    // near fingerprint PAIRS (fa < fb numerically; hamming 1..maxHamming)
    // TILED bucket self-join (same lesson as embeddingNearDup /
    // levenshteinPairs, see TileHammingPairs): band buckets skew hard when
    // fingerprint bits correlate across the corpus (measured 546 M candidate
    // pairs at sf1, one 9-bit band value holding a third of all fps), and a
    // row-per-candidate join pays ~180 ns of expansion machinery per pair
    // for a 2 ns xor+popcount check. Buckets are split into ~2048-fp
    // sub-blocks (sized per bucket from a lazy in-plan count-join);
    // block pairs join per band bucket and the tile scorer
    // emits only within-radius pairs, so the dedup shuffle sees ≤ nBands
    // copies of the output instead of the candidate volume. fa < fb inside
    // the tile keeps each pair once per band (both sub-block directions
    // appear in the join, complementary order checks pick exactly one).
    // bucket counts computed LAZILY in-plan (r6, same pattern as
    // levenshteinPairs: the eager worst-bucket aggregate cost an extra full
    // pass at construction): per-bucket split of ceil(cnt/2048), output
    // invariant to the split, zero jobs before the action.
    val cnts = banded.groupBy(col("band"), col("band_bits")).agg(count(lit(1)).as("cnt"))
    val blocks = banded.join(cnts, Seq("band", "band_bits"))
      .withColumn("sub", pmod(col("fp"),
        greatest(lit(1L), ceil(col("cnt") / lit(2048.0)).cast("long"))))
      .groupBy(col("band"), col("band_bits"), col("sub"))
      .agg(collect_list(col("fp")).as("blk"))
    val ta = blocks.select(col("band"), col("band_bits"), col("blk").as("blkA"))
    val tb = blocks.select(col("band"), col("band_bits"), col("blk").as("blkB"))
    // EXACTLY-ONCE across bands (first-band rule inside the kernel): a pair
    // is emitted only by the bucket of its first agreeing band, so the old
    // dropDuplicates("fa","fb") — a full shuffle of up to nBands× the true
    // pair volume — is gone entirely (measured at sf1: the dedup exchange
    // carried 37 MB of pair rows for ~12 MB of distinct pairs).
    val fpPairs = spreadTilePairs(ta.join(tb, Seq("band", "band_bits")))
      .select(explode(GraftFunctions.tileHammingPairs(
        col("blkA"), col("blkB"), col("band"), maxHamming, nBands)).as("r"))
      .select(col("r.fa").as("fa"), col("r.fb").as("fb"), col("r.hamming").as("hamming"))
    expandFpPairsToDocPairs(docs, fpPairs)
  }

  /** Expand distinct-fingerprint pairs to doc pairs (a_id < b_id), plus the
    * hamming-0 within-group pairs of exactly-equal fingerprints. The plan
    * stays LAZY (no eager checkpoint — that would hide the join plan from
    * plan-shape assertions and run the job at construction time) and the
    * persisted inputs are NOT force-unpersisted (the caller may own them;
    * Spark's ContextCleaner reclaims cached blocks once the plan becomes
    * unreachable, which bounds cache growth across repeated calls). */
  private def expandFpPairsToDocPairs(docs: DataFrame, fpPairs: DataFrame): DataFrame = {
    val cross = fpPairs
      .join(docs.select(col("doc_id").as("xa"), col("fp").as("fa")), "fa")
      .join(docs.select(col("doc_id").as("xb"), col("fp").as("fb")), "fb")
      .select(least(col("xa"), col("xb")).as("a_id"),
        greatest(col("xa"), col("xb")).as("b_id"), col("hamming"))
    val same = docs.select(col("doc_id").as("a_id"), col("fp")).as("p")
      .join(docs.select(col("doc_id").as("b_id"), col("fp")).as("q"), Seq("fp"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"), lit(0).cast("int").as("hamming"))
    cross.unionByName(same)
  }

  /** Multi-index variant for HUGE corpora (Norouzi et al. 2012, "Fast Search
    * in Hamming Space with Multi-Index Hashing"): fewer-but-WIDER bands with
    * 1-bit probe expansion. Pigeonhole: r errors over k bands leave some
    * band with ≤ floor(r/k) errors, so with k > r/2 some band is within
    * hamming 1 — the probe side enumerates each band value plus all its
    * 1-bit flips and equi-joins against exact band keys.
    *
    * Bucket math vs the 0-probe form at radius 6: 7 bands × 9 bits → 512
    * buckets/band (n/512 per bucket, quadratic within); here 4 bands × 16
    * bits → 65536 buckets/band (128× smaller buckets, 1/16384 the
    * per-bucket quadratic term) for 17× more probe rows — the right trade
    * once n passes ~10^8. Same output as simhashPairsFromFingerprints. */
  def simhashPairsMultiIndex(fp: DataFrame, maxHamming: Int = 6, bands: Int = 4): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 64, s"maxHamming=$maxHamming out of [0,64)")
    require(bands * 2 > maxHamming,
      s"multi-index needs bands > maxHamming/2 (got bands=$bands, maxHamming=$maxHamming): " +
        "pigeonhole must leave some band within hamming 1 of a true pair")
    require(bands >= 1 && bands <= 64)
    GraftFunctions.register(fp.sparkSession)
    val docs = fp.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val distinctFp = docs.select(col("fp")).distinct()
    val sliced = bandSlices(distinctFp, bands)
    val index = sliced.select(col("fp"), col("band"), col("band_bits"))
    // probe rows: the exact band value (j=0) plus each 1-bit flip (j-1)
    val probes = sliced.select(col("fp"), col("band"),
        explode(expr(
          "transform(sequence(0, hi - lo), " +
            "j -> CASE WHEN j = 0 THEN band_bits ELSE band_bits ^ shiftleft(1L, j - 1) END)"))
          .as("probe_bits"))
    // same filter-before-dedup ordering as the banded form: shrink the
    // dedup shuffle to within-radius survivors
    val fpPairs = probes.as("x").join(index.as("y"),
        col("x.band") === col("y.band") && col("x.probe_bits") === col("y.band_bits") &&
        col("x.fp") < col("y.fp"))
      .select(col("x.fp").as("fa"), col("y.fp").as("fb"))
      .withColumn("hamming", GraftFunctions.hamming64(col("fa"), col("fb")))
      .filter(col("hamming") <= maxHamming)
      .dropDuplicates("fa", "fb")
    expandFpPairsToDocPairs(docs, fpPairs)
  }

  /** Cross-document PARAGRAPH dedup — the CCNet/MassiveText boilerplate
    * rule (Wenzek et al. 2020 §3.1; Rae et al. 2021 §A1.2): a span repeated
    * across ≥ minDocs distinct documents is boilerplate (headers, footers,
    * license blurbs) and EVERY occurrence is dropped — boilerplate has no
    * canonical owner, unlike document-level dedup's min-id survivor rule.
    * Paragraph framing here = consecutive non-overlapping `paraWords`-token
    * windows (the corpus has no newline structure; with real newlines the
    * framing swaps to split(text, '\n') and everything downstream is
    * unchanged). Docs are rebuilt from surviving paragraphs in order.
    *
    * Scale shape (r10 — full-document text NEVER enters an exchange):
    *   1. hash-frequency stage: one (xxhash64, doc_id) shuffle — 16 bytes
    *      per paragraph — flags candidate hashes seen in ≥ minDocs docs;
    *   2. exact verify: a bloom over the candidate hashes pre-filters
    *      MAP-SIDE (the decontaminate_bloom pattern), so only candidate
    *      occurrences (boilerplate + ~fpr false positives + ~0 collisions)
    *      carry their PARAGRAPH strings into the exact regroup, where
    *      non-boiler rows die on the true per-string doc count — the drop
    *      set is exact at any scale (bloom FPs and hash collisions both
    *      eliminated by string-exact counting);
    *   3. rebuild IN-ROW: a second bloom over the verified-contaminated
    *      doc_ids splits the corpus map-side — clean docs (the vast
    *      majority at real contamination rates) are rebuilt by a pure
    *      projection (array_join over the in-row paragraph array: zero
    *      joins, zero shuffles, scan speed); only contaminated(+fp) docs
    *      join their narrow (doc_id, drop_idx[]) set, broadcast while it
    *      fits (`broadcastDropMax`), a contamination-sized shuffle beyond.
    * The pre-r10 form shuffled every byte of corpus text twice (a
    * paragraph-string join against the full framed relation, then a
    * groupBy(doc_id).collect_list rebuild) — kept as
    * [[dedupParagraphsRegroup]] for the output-identity spec.
    * Output: (doc_id, n_paras, n_dropped, text_clean); docs whose every
    * paragraph is boilerplate stay, with text_clean = ''. */
  def dedupParagraphs(docs: DataFrame, paraWords: Int = 10,
                      minDocs: Int = 2, bitsPerKey: Int = 10,
                      numHashes: Int = 7,
                      broadcastDropMax: Long = 5000000L): DataFrame = {
    require(paraWords >= 1 && minDocs >= 2)
    GraftFunctions.register(docs.sparkSession)
    val w = TextOps.tokens(col("text"))
    // in-row framing: (doc_id, paras) — the rebuild source, never exploded.
    // PERSISTED: three consumers walk this relation (the candidate-hash
    // aggregate, the bloom-gated candidate pass, and the rebuild), and the
    // tokenize + slice-framing is the op's dominant per-row CPU — measured
    // at sf1 as three ~8-11 s full passes (26.8 s of 26.8 s total CPU)
    // recomputed per consumer. One materialization pays it once; the blocks
    // are reclaimed by the ContextCleaner once the returned plan becomes
    // unreachable (the same lifecycle as simhashPairsFromFingerprints'
    // fingerprint persist — the caller may still be consuming the plan, so
    // there is no in-op release point for the success path).
    val framedArr = docs
      .select(col("doc_id"), w.as("w")).withColumn("n", size(col("w")))
      .filter(col("n") > 0) // token-less docs have no paragraphs on either engine
      .select(col("doc_id"), transform(
          sequence(lit(0), floor((col("n") + (paraWords - 1)) / paraWords).cast("int") - 1),
          i => array_join(slice(col("w"), i * paraWords + 1, lit(paraWords)), " "))
        .as("paras"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def cleanRebuild(df: DataFrame): DataFrame =
      df.select(col("doc_id"), size(col("paras")).cast("long").as("n_paras"),
        lit(0L).as("n_dropped"), array_join(col("paras"), " ").as("text_clean"))
    val exploded = framedArr
      .select(col("doc_id"), posexplode(col("paras")).as(Seq("idx", "para")))
      .withColumn("h", xxhash64(col("para")))
    // Stage 1 (hash-only shuffle): candidate hashes seen in >= minDocs docs.
    val candHashes = exploded.select(col("h"), col("doc_id")).distinct()
      .groupBy(col("h")).agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= minDocs).select(col("h"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nCand = candHashes.count()
    if (nCand == 0) { candHashes.unpersist(); return cleanRebuild(framedArr) }
    val candBits = math.min(1L << 30, math.max(1024L, nCand * bitsPerKey)).toInt
    val candBlob = candHashes
      .agg(GraftFunctions.bloomBuild(col("h"), candBits, numHashes).as("blob"))
      .head().getAs[Array[Byte]](0)
    candHashes.unpersist()
    // Stage 2 (strings, candidate occurrences only — map-side bloom gate):
    // the exact per-paragraph doc count kills bloom FPs (their true count
    // is < minDocs, else their own hash would be a candidate) and hash
    // collisions (the regroup is on the exact string), so no false drops.
    val cand = exploded
      .filter(GraftFunctions.bloomMightContain(col("h"), candBlob))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val boiler = cand.select(col("para"), col("doc_id")).distinct()
      .groupBy(col("para")).agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= minDocs).select(col("para"))
    // Verified drop occurrences -> per-doc drop-index sets (narrow ints).
    // Eager localCheckpoint, not persist: the returned plan references this
    // relation lazily, and a persist would have no release point on the
    // success path (session-lifetime leaked blocks — the same accumulation
    // problem incrementalDedup fixes the same way). Checkpointing also
    // truncates lineage, so cand's cache can be dropped immediately.
    val dropSets = cand.join(boiler, Seq("para"))
      .groupBy(col("doc_id")).agg(collect_set(col("idx")).as("drop_idx"))
      .localCheckpoint(true)
    val nDirty = dropSets.count()
    cand.unpersist()
    if (nDirty == 0) return cleanRebuild(framedArr)
    def rebuildWithDrops(docs0: DataFrame, dropRel: DataFrame): DataFrame = docs0
      .join(dropRel, Seq("doc_id"), "left")
      .withColumn("di", coalesce(col("drop_idx"), array().cast("array<int>")))
      .withColumn("kept", filter(col("paras"),
        (p, i) => !array_contains(col("di"), i)))
      .select(col("doc_id"), size(col("paras")).cast("long").as("n_paras"),
        (size(col("paras")) - size(col("kept"))).cast("long").as("n_dropped"),
        array_join(col("kept"), " ").as("text_clean"))
    if (nDirty <= broadcastDropMax) {
      // Stage 3, broadcast shape: ONE corpus pass — every doc left-joins
      // the broadcast drop-set relation map-side (a doc with no drop set
      // keeps all paragraphs, which is row-identical to the clean-branch
      // rebuild). The previous bloom-split form cost an extra driver
      // action (the doc-id bloom build) and a SECOND corpus scan for the
      // clean branch, to avoid a join the broadcast makes map-side anyway.
      rebuildWithDrops(framedArr, broadcast(dropSets))
    } else {
      // Stage 3, big-drop-set shape: map-side corpus split on a bloom over
      // contaminated doc_ids, so only the (bloom-FP-inflated) dirty slice
      // pays the shuffle join against the non-broadcastable drop relation.
      // FP docs take the join path, find no drop set, and rebuild in full —
      // output-exact either way; only the cost is probabilistic.
      val docBits = math.min(1L << 30, math.max(1024L, nDirty * bitsPerKey)).toInt
      val docBlob = dropSets
        .agg(GraftFunctions.bloomBuild(xxhash64(col("doc_id")), docBits, numHashes)
          .as("blob"))
        .head().getAs[Array[Byte]](0)
      val isDirty = GraftFunctions.bloomMightContain(xxhash64(col("doc_id")), docBlob)
      cleanRebuild(framedArr.filter(!isDirty))
        .unionByName(rebuildWithDrops(framedArr.filter(isDirty), dropSets))
    }
  }

  /** The pre-r10 regroup form of [[dedupParagraphs]] — identical output,
    * kept as the spec's identity reference: it shuffles the full framed
    * paragraph text twice (boiler join keyed on the paragraph string, then
    * a corpus-wide groupBy(doc_id).collect_list rebuild), which is the
    * shape the r10 rewrite exists to avoid at 100 TB. */
  private[graft] def dedupParagraphsRegroup(docs: DataFrame, paraWords: Int = 10,
                                            minDocs: Int = 2): DataFrame = {
    require(paraWords >= 1 && minDocs >= 2)
    val w = TextOps.tokens(col("text"))
    val framed = docs
      .select(col("doc_id"), w.as("w")).withColumn("n", size(col("w")))
      .filter(col("n") > 0)
      .select(col("doc_id"), posexplode(transform(
          sequence(lit(0), floor((col("n") + (paraWords - 1)) / paraWords).cast("int") - 1),
          i => array_join(slice(col("w"), i * paraWords + 1, lit(paraWords)), " ")))
        .as(Seq("idx", "para")))
      .withColumn("h", xxhash64(col("para")))
    val candHashes = framed.select(col("h"), col("doc_id")).distinct()
      .groupBy(col("h")).agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= minDocs).select(col("h"))
    val boiler = framed.join(candHashes, Seq("h"), "left_semi")
      .select(col("para"), col("doc_id")).distinct()
      .groupBy(col("para")).agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= minDocs).select(col("para"), lit(1).as("is_dup"))
    framed.join(boiler, Seq("para"), "left")
      .withColumn("is_dup", coalesce(col("is_dup"), lit(0)))
      .groupBy(col("doc_id")).agg(
        count(lit(1)).cast("long").as("n_paras"),
        sum(col("is_dup")).cast("long").as("n_dropped"),
        array_join(transform(
          array_sort(collect_list(when(col("is_dup") === 0,
            struct(col("idx"), col("para"))))),
          s => s.getField("para")), " ").as("text_clean"))
  }
}
