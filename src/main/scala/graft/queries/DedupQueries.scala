package graft
package queries

import org.apache.spark.sql.functions.col
import graft.ops._
import graft.ops.TextOps.spreadScan
import graft.sources.IO.readParquet

/** LLM-data-pipeline dedup and decontamination (SURVEY.md §2.3): exact,
  * shingle, MinHash, SimHash and edit-distance pairs, cross-corpus and
  * incremental dedup. */
object DedupQueries {
  /** The reference side ("eval suite") of the cross-corpus entries. */
  private val IsRef = col("source").isin("src0", "src1")
  /** The new batch of the incremental entries; the rest is the existing corpus. */
  private val InBatch = col("doc_id") % 5 =!= 0

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

  val all: Seq[QuerySpec] = Seq(
    QuerySpec("dedup_exact", (s, d) => DedupOps.dedupExact(Tables.documents(s, d)),
      () => """SELECT md5(text) AS h, min(doc_id) AS canonical_id, count(*) AS n_copies
         FROM documents GROUP BY md5(text)""",
      planted = Some(Planted.exactGroups)),
    // the shingle family lays out its input itself, inside shingleDocs
    // (under its persist, so the exchange runs once, before shingling): a
    // narrow scan is spread for the inverted-index ops, and every input is
    // partitioned by doc_id for the ops that verify; no call-site
    // spreadScan here or on the other shingle-family entries
    QuerySpec("dedup_ngram_jaccard", (s, d) => DedupOps.ngramJaccardPairs(Tables.documents(s, d)),
      () => """WITH tok AS (SELECT doc_id,
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
      planted = Some(Planted.jaccardPairs(0.5))),
    QuerySpec("dedup_substring", (s, d) => DedupOps.substringDupSpans(Tables.documents(s, d)),
      () => """WITH doc AS (SELECT doc_id, text FROM documents WHERE length(text) >= 40),
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
      planted = Some(Planted.substringSpans(40))),
    QuerySpec("substring_dup_stats", (s, d) => DedupOps.substringDupStats(Tables.documents(s, d)),
      () => """WITH doc AS (SELECT doc_id, text FROM documents WHERE length(text) >= 40),
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
         FROM st JOIN documents ON st.doc_id = documents.doc_id"""),
    QuerySpec("dedup_minhash_lsh", (s, d) => DedupOps.minhashLshPairs(Tables.documents(s, d)),
      () => """WITH tok AS (SELECT doc_id,
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
      planted = Some(Planted.jaccardPairs(0.8))),
    QuerySpec("dedup_groups", (s, d) => DedupOps.dedupGroups(Tables.documents(s, d)),
      () => """WITH RECURSIVE tok AS (SELECT doc_id,
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
         FROM documents d LEFT JOIN lab l ON d.doc_id = l.id"""),
    QuerySpec("dedup_levenshtein", (s, d) => DedupOps.levenshteinPairs(Tables.documents(s, d)),
      () => """WITH p AS (SELECT doc_id, substr(text, 1, 48) AS pfx,
             list_filter(string_split_regex(text,'\s+'), x->x<>'')[1] AS tok
           FROM documents)
         SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           CAST(levenshtein(a.pfx, b.pfx) AS BIGINT) AS dist
         FROM p a JOIN p b ON a.tok = b.tok AND a.doc_id < b.doc_id
         WHERE levenshtein(a.pfx, b.pfx) <= 12""",
      planted = Some(Planted.levenshteinPairs(12, 48))),
    // Under Verify the fingerprints are materialized to a
    // fixed path and the pair stage re-reads them, so the DuckDB oracle can
    // brute-force all-pairs hamming over the IDENTICAL fingerprint relation —
    // turning the banding stage from spec-trusted into oracle-checked. Bench
    // and library callers take the direct single-plan path.
    // All-pairs hamming over the fingerprint relation the Verify run dumped —
    // checks the banding stage found EVERY pair within the radius, not just
    // plausible ones (the fingerprint function itself is spec-covered).
    {
      val fpDir = QuerySpec.dumpDir("graft_simhash_fp")
      QuerySpec("dedup_simhash", (s, d) => DedupOps.simhashPairs(Tables.documents(s, d)),
        () => s"""WITH fp AS (SELECT doc_id, fp
           FROM read_parquet('$fpDir/*.parquet'))
         SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           bit_count(xor(a.fp, b.fp)) AS hamming
         FROM fp a JOIN fp b ON a.doc_id < b.doc_id
         WHERE bit_count(xor(a.fp, b.fp)) <= 6""",
        verify = Some { (s, d) =>
          DedupOps.simhashFingerprints(Tables.documents(s, d)).coalesce(1)
            .write.mode("overwrite").parquet(fpDir)
          DedupOps.simhashPairsFromFingerprints(readParquet(s, fpDir))
        },
        planted = Some(Planted.hammingPairs(DedupOps.simhashFingerprints, 6)))
    },
    // Idf-weighted twin: same dump pattern, the oracle brute-forces
    // all-pairs hamming over the WEIGHTED fingerprint relation (weight
    // computation itself is spec-covered; what the oracle proves is that
    // the banding stage recalls every within-radius pair of these fps).
    {
      val fpDir = QuerySpec.dumpDir("graft_simhash_idf_fp")
      QuerySpec("dedup_simhash_idf", (s, d) => DedupOps.simhashIdfPairs(Tables.documents(s, d)),
        () => s"""WITH fp AS (SELECT doc_id, fp
           FROM read_parquet('$fpDir/*.parquet'))
         SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           bit_count(xor(a.fp, b.fp)) AS hamming
         FROM fp a JOIN fp b ON a.doc_id < b.doc_id
         WHERE bit_count(xor(a.fp, b.fp)) <= 6""",
        verify = Some { (s, d) =>
          DedupOps.simhashIdfFingerprints(Tables.documents(s, d)).coalesce(1)
            .write.mode("overwrite").parquet(fpDir)
          DedupOps.simhashPairsFromFingerprints(readParquet(s, fpDir))
        },
        planted = Some(Planted.hammingPairs(DedupOps.simhashIdfFingerprints(_), 6)))
    },
    // The exact op's pre-flight volume guard is ARMED BY DEFAULT (2e8
    // candidate rows; SPARK_GRAFT_PPJOIN_BUDGET overrides, 0 disarms): a
    // corpus too dense for the prefix join fails fast with the measured
    // bound and the LSH/df-cap remediations instead of GC-killing the JVM
    // (the sf10 saturated-vocabulary skip, NOTES_PERF r11).
    // shingleDocs partitions the input by doc_id for this op, before
    // shingling. (A call-site spread had measured a loss here while the
    // shingle filter ran before the exchange; with the text-only filter it
    // did not: 4 cores, sf0.1 2.8-3.7 → 2.7-3.3 s.)
    QuerySpec("dedup_jaccard_ppjoin", (s, d) => DedupOps.ngramJaccardPairsPrefix(Tables.documents(s, d),
      maxCandidates = GraftEnv.ppjoinBudget()),
      () => """WITH tok AS (SELECT doc_id,
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
      planted = Some(Planted.jaccardPairs(0.5))),
    QuerySpec("decontaminate", (s, d) => {
      val docs = Tables.documents(s, d)
      CurationPipeline.decontaminate(
        docs.filter(col("doc_id") % 100 =!= 0),
        docs.filter(col("doc_id") % 100 === 0))
    }, () => """WITH tok AS (SELECT doc_id,
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
           AND doc_id NOT IN (SELECT doc_id FROM contaminated)"""),
    // Same split + same output as decontaminate, via the bloom-prefilter
    // scale path (no broadcast; the blob replaces the gram-set broadcast).
    // The bloom path is output-identical to decontaminate by construction
    // (the exact join kills bloom false positives), so the oracle is the
    // same exact-set SQL — the approximation is an internal pre-filter,
    // not a semantic.
    QuerySpec("decontaminate_bloom", (s, d) => {
      val docs = Tables.documents(s, d)
      CurationPipeline.decontaminateBloom(
        docs.filter(col("doc_id") % 100 =!= 0),
        docs.filter(col("doc_id") % 100 === 0))
    }, () => """WITH tok AS (SELECT doc_id,
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
           AND doc_id NOT IN (SELECT doc_id FROM contaminated)"""),
    // Cross-corpus near-dup: corpus = the 18 non-reference sources, ref =
    // src0/src1 (the "eval suite"); exact inverted-index form, the LSH
    // bucketed twin (identical output at tau=0.8, recall 1.0 — the
    // dedup_minhash_lsh precedent), and the fuzzy-decontamination survivor
    // set built on the exact pairs.
    QuerySpec("dedup_cross_jaccard", (s, d) => {
      val docs = Tables.documents(s, d)
      DedupOps.crossJaccardPairs(
        docs.filter(!col("source").isin("src0", "src1")),
        docs.filter(col("source").isin("src0", "src1")))
    }, () => """WITH tok AS (SELECT doc_id, source,
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
      planted = Some(Planted.crossPairs(0.8, IsRef))),
    // The LSH twin is output-identical at tau=0.8 (32x4-band recall 1.0 on
    // near-dup thresholds — the dedup_minhash_lsh precedent; candidates are
    // exact-Jaccard verified, so no unsound pair can appear).
    QuerySpec("dedup_cross_minhash", (s, d) => {
      val docs = Tables.documents(s, d)
      DedupOps.crossMinhashPairs(
        docs.filter(!col("source").isin("src0", "src1")),
        docs.filter(col("source").isin("src0", "src1")))
    }, () => """WITH tok AS (SELECT doc_id, source,
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
      planted = Some(Planted.crossPairs(0.8, IsRef))),
    // Both composites take the LSH candidate path (useLsh=true): output
    // identical to the exact form at tau=0.8 (CrossDedupSpec pins it; the
    // 500 k/5 M planted runs prove recall 1.0) and ~11x faster at sf1 —
    // the oracle still replays the EXACT inverted-index definition, so the
    // gate independently re-derives every pair.
    QuerySpec("decontaminate_neardup", (s, d) => {
      val docs = Tables.documents(s, d)
      CurationPipeline.decontaminateNearDup(
        docs.filter(!col("source").isin("src0", "src1")),
        docs.filter(col("source").isin("src0", "src1")), useLsh = true)
    }, () => """WITH tok AS (SELECT doc_id, source,
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
      planted = Some(Planted.decontaminated(0.8, IsRef))),
    // the dedup_groups recursive-CTE oracle with the split coin on top:
    // group_id is the component's canonical member, the coin is the same
    // Knuth multiplicative hash mixture_sample's oracle replays.
    QuerySpec("leakage_free_split", (s, d) =>
      CurationPipeline.leakageFreeSplit(Tables.documents(s, d)),
      () => """WITH RECURSIVE tok AS (SELECT doc_id,
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
         FROM g"""),
    // new batch = ids not divisible by 5, existing corpus = the rest —
    // an id split so the gate exercises BOTH drop reasons (batch-internal
    // smaller-id pairs and collisions against the existing side)
    // exact replay: all-pairs qualifying Jaccard over the whole table, then
    // the three drop reasons — batch-internal bigger id, and either
    // orientation of a (new, existing) pair
    QuerySpec("dedup_incremental", (s, d) => {
      val docs = Tables.documents(s, d)
      CurationPipeline.incrementalDedup(
        docs.filter(col("doc_id") % 5 =!= 0),
        docs.filter(col("doc_id") % 5 === 0))
    }, () => IncrementalDedupOracle,
      planted = Some(Planted.incremental(0.8, InBatch))),
    // Same split, routed through the PERSISTED signature store (built here
    // from the existing side — the build is part of the query body, the
    // ivf_persisted convention). Survivors must be id-for-id identical to
    // dedup_incremental, so both share one oracle.
    QuerySpec("dedup_incremental_store", (s, d) => {
      val docs = Tables.documents(s, d)
      val existing = docs.filter(col("doc_id") % 5 === 0)
      val store = QuerySpec.dumpDir("graft_minhash_store")
      DedupOps.minhashWriteStore(existing, store)
      CurationPipeline.incrementalDedupFromStore(
        docs.filter(col("doc_id") % 5 =!= 0), existing, store)
    }, () => IncrementalDedupOracle,
      planted = Some(Planted.incremental(0.8, InBatch))),
    QuerySpec("contamination_report", (s, d) => {
      val docs = Tables.documents(s, d)
      CurationPipeline.contaminationReport(
        docs.filter(!col("source").isin("src0", "src1")),
        docs.filter(col("source").isin("src0", "src1")), useLsh = true)
    }, () => """WITH tok AS (SELECT doc_id, source,
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
         FROM qual GROUP BY 1"""),
    // spreadScan composes with the op's framed-relation persist: the spread
    // exchange runs once (the persist materialization), so the multi-
    // consumer recompute that made spreadScan a loss on other multi-pass
    // plans does not apply here
    QuerySpec("dedup_paragraph", (s, d) => DedupOps.dedupParagraphs(spreadScan(Tables.documents(s, d))),
      () => """WITH tok AS (SELECT doc_id,
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
      planted = Some(Planted.paragraphFullDrop)),
  )
}
