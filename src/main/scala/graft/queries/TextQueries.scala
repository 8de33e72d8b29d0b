package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import graft.ops._
import graft.ops.TextOps.spreadScan

/** LLM-data-pipeline text operators (SURVEY.md §2.3): per-document analysis,
  * sampling, tokenizers, sketches, classifiers and the curation pipelines. */
object TextQueries {
  /** The Verify path of the two subword tokenizers: how many subwords
    * `encode` makes of each distinct word, dumped to `wordDir`, and each
    * doc's token and subword counts recomputed from the dump. */
  private def subwordCountsFromDump(s: SparkSession, docs: DataFrame, wordDir: String,
                                    countCol: String, encode: Column => Column): DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, count, explode, lit, size, sum}
    graft.functions.GraftFunctions.register(s)
    docs.select(explode(TextOps.tokens(col("text"))).as("word")).distinct()
      .select(col("word"), size(encode(col("word"))).cast("long").as("n_sub"))
      .coalesce(1).write.mode("overwrite").parquet(wordDir)
    val agg = docs.select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("word"))
      .join(s.read.parquet(wordDir), "word")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("n_sub")).as(countCol))
    docs.select(col("doc_id")).join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col(countCol), lit(0L)).as(countCol))
  }

  val all: Seq[QuerySpec] = Seq(
    // The next snapshot is DERIVED from the corpus inside the query (drop
    // doc_id%17==0, edit %13==1, re-add %29==3 under shifted ids), so the
    // oracle replays the derivation and the diff from the same table.
    QuerySpec("corpus_diff", (s, d) => {
      val old = Tables.documents(s, d)
      CurationPipeline.corpusDiff(old, CurationPipeline.deriveNextSnapshot(old))
    }, () => """WITH old AS (SELECT doc_id, text FROM documents),
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
         WHERE new_hash IS NULL OR old_hash IS NULL OR old_hash <> new_hash"""),
    // mean quality over round(q*1e6) BIGINTs — integer sums are
    // reassociation-free (the float-determinism note on the Scala side)
    QuerySpec("dataset_card", (s, d) => CurationPipeline.datasetCard(Tables.documents(s, d)),
      () => """WITH tok AS (SELECT doc_id, source, text,
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
         GROUP BY source"""),
    QuerySpec("lang_id", (s, d) => TextAnalysis.langId(spreadScan(Tables.documents(s, d))),
      () => """WITH tok AS (SELECT doc_id,
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
         FROM sc"""),
    QuerySpec("quality_score", (s, d) => TextAnalysis.qualityScore(spreadScan(Tables.documents(s, d))),
      () => """WITH tok AS (SELECT doc_id, text,
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
         FROM c"""),
    QuerySpec("token_count", (s, d) => TextAnalysis.tokenCount(spreadScan(Tables.documents(s, d))),
      () => """SELECT doc_id,
         len(list_filter(string_split_regex(text,'\s+'), x->x<>'')) AS n_ws,
         len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS n_bpe,
         length(text) AS n_chars
         FROM documents"""),
    QuerySpec("doc_fingerprint", (s, d) => TextAnalysis.docFingerprint(Tables.documents(s, d)),
      () => """SELECT doc_id, md5(text) AS fp, substr(md5(text),1,8) AS fp8,
         length(text) AS n_chars,
         len(list_filter(string_split_regex(text,'\s+'), x->x<>'')) AS n_tokens
         FROM documents"""),
    // must hit TopKRankedExec, as window_topk_per_group
    QuerySpec("tfidf_top_terms", (s, d) => TextAnalysis.tfidfTopTerms(Tables.documents(s, d)),
      () => """WITH tok AS (SELECT doc_id,
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
      planMust = Some("TopKRanked")),
    QuerySpec("ngram_counts", (s, d) => TextAnalysis.ngramCounts(Tables.documents(s, d)),
      () => """WITH tok AS (SELECT doc_id,
             list_filter(string_split_regex(text,'\s+'), x->x<>'') AS t FROM documents),
         sh AS (SELECT doc_id, list_distinct([t[i]||' '||t[i+1]
                  FOR i IN generate_series(1, len(t)-1)]) AS s FROM tok),
         ex AS (SELECT unnest(s) AS ngram FROM sh)
         SELECT ngram, count(*) AS n_docs FROM ex
         GROUP BY ngram HAVING count(*) >= 2"""),
    QuerySpec("mixture_sample", (s, d) => TextAnalysis.mixtureSample(Tables.documents(s, d)),
      () => """SELECT doc_id, source, lang, n_chars FROM documents
         WHERE ((doc_id * 2654435761) % 4294967296) / 4294967296.0
             < ((CAST(substr(source, 4) AS INT) % 5) + 1) / 5.0"""),
    QuerySpec("repetition_score", (s, d) => TextAnalysis.repetitionScore(spreadScan(Tables.documents(s, d))),
      () => """WITH tok AS (SELECT doc_id,
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
         FROM c"""),
    // Dump-mode: materialize every window hash and recompute the per-doc min
    // FROM the dump, so the DuckDB oracle reduces the identical relation —
    // the min-sampling reduction becomes oracle-checked (the polynomial hash
    // itself stays spec-covered; it IS the dumped relation).
    {
      val hashDir = QuerySpec.dumpDir("graft_rolling_hashes")
      QuerySpec("rolling_fingerprint", (s, d) => TextAnalysis.rollingFingerprint(Tables.documents(s, d)),
        () => s"""WITH m AS (SELECT doc_id, min(h) AS rh
             FROM read_parquet('$hashDir/*.parquet') GROUP BY doc_id)
         SELECT d.doc_id, m.rh, length(d.text)::BIGINT AS n_chars
         FROM documents d JOIN m ON d.doc_id = m.doc_id""",
        verify = Some { (s, d) =>
          import org.apache.spark.sql.functions.{explode, length, min}
          val docs = Tables.documents(s, d)
          graft.functions.GraftFunctions.register(s)
          docs.select(col("doc_id"),
              explode(graft.functions.GraftFunctions.rollingWindowHashes(col("text"), 16)).as("h"))
            .coalesce(1).write.mode("overwrite").parquet(hashDir)
          s.read.parquet(hashDir)
            .groupBy(col("doc_id")).agg(min(col("h")).as("rh"))
            .join(docs.select(col("doc_id"), length(col("text")).cast("long").as("n_chars")), "doc_id")
            .select(col("doc_id"), col("rh"), col("n_chars"))
        })
    },
    QuerySpec("pii_scrub", (s, d) => TextAnalysis.piiScrub(spreadScan(Tables.documents(s, d))),
      () => """WITH staged AS (SELECT doc_id, text,
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
         FROM staged2"""),
    QuerySpec("temperature_sample", (s, d) =>
      TextAnalysis.temperatureSample(Tables.documents(s, d)),
      () => """WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY 1),
         m AS (SELECT min(n) AS n_min FROM c),
         rates AS (SELECT source, round(pow(n_min * 1.0 / n, 0.5), 6) AS p_keep
                   FROM c, m)
         SELECT d.doc_id, d.source, r.p_keep
         FROM documents d JOIN rates r ON d.source = r.source
         WHERE ((d.doc_id * 2654435761) % 4294967296) / 4294967296.0 < r.p_keep"""),
    QuerySpec("pack_sequences", (s, d) => CurationPipeline.packSequences(Tables.documents(s, d)),
      () => """WITH tok AS (SELECT doc_id,
             list_filter(string_split_regex(text,'\s+'), x->x<>'') AS t FROM documents),
         tt AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens FROM tok),
         c AS (SELECT doc_id, n_tokens,
             coalesce(sum(n_tokens) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb FROM tt)
         SELECT doc_id, n_tokens, CAST(floor(cb / 512) AS BIGINT) AS seq_id FROM c"""),
    QuerySpec("curation_pipeline", (s, d) => CurationPipeline.curate(Tables.documents(s, d)),
      () => """WITH tok AS (SELECT doc_id, text,
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
           AND doc_id NOT IN (SELECT b_id FROM losers)"""),
    // curation_pipeline's SQL re-based onto the mixture-sampled +
    // repetition-kept document set (the two predicate stages fused ahead).
    QuerySpec("curation_full", (s, d) => CurationPipeline.curateFull(Tables.documents(s, d)),
      () => """WITH base AS (SELECT doc_id, text FROM documents
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
           AND doc_id NOT IN (SELECT b_id FROM losers)"""),
    QuerySpec("global_shuffle", (s, d) => CurationPipeline.globalShuffle(Tables.documents(s, d)),
      () => """SELECT doc_id, CAST(row_number() OVER (
           ORDER BY md5('42-' || CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS pos
         FROM documents"""),
    QuerySpec("quota_sample", (s, d) => CurationPipeline.quotaSample(Tables.documents(s, d)),
      () => """WITH t AS (SELECT doc_id, source,
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
         FROM t"""),
    QuerySpec("gopher_rules", (s, d) => TextAnalysis.gopherRules(spreadScan(Tables.documents(s, d))),
      () => """WITH tok AS (SELECT doc_id,
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
         FROM m"""),
    QuerySpec("chunk_overlap", (s, d) => CurationPipeline.chunkOverlap(Tables.documents(s, d)),
      () => """WITH tok AS (SELECT doc_id,
             list_filter(string_split_regex(text,'\s+'), x->x<>'') AS t FROM documents),
         f AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n, t FROM tok WHERE len(t) > 0)
         SELECT doc_id, u.i AS chunk_id,
           least(32, n - u.i*24)::BIGINT AS n_chunk_tokens,
           array_to_string(t[(u.i*24+1)::BIGINT : (u.i*24+32)::BIGINT], ' ') AS chunk_text
         FROM f, UNNEST(range(0, (1 + greatest(0, (n - 32 + 23) // 24))::BIGINT)) AS u(i)"""),
    // The accent translate is spelled with the same 27-char from/to tables
    // as TextAnalysis.AccentFrom/AccentTo (unicode_escape'd there, literal
    // UTF-8 here — DuckDB string literals take the bytes verbatim).
    QuerySpec("text_normalize", (s, d) => TextAnalysis.textNormalize(spreadScan(Tables.documents(s, d))),
      () => """WITH n AS (SELECT doc_id,
             trim(regexp_replace(regexp_replace(
               translate(lower(text), 'àáâãäåèéêëìíîïòóôõöùúûüçñýÿ', 'aaaaaaeeeeiiiiooooouuuucnyy'),
               '[0-9]+', '0', 'g'), '[^a-z0]+', ' ', 'g')) AS text_norm
           FROM documents)
         SELECT doc_id, text_norm,
           (CASE WHEN text_norm = '' THEN 0
                 ELSE len(string_split(text_norm, ' ')) END)::BIGINT AS n_words,
           length(text_norm)::BIGINT AS n_chars
         FROM n"""),
    QuerySpec("lm_perplexity", (s, d) => TextAnalysis.lmPerplexity(Tables.documents(s, d)),
      () => """WITH tok AS (SELECT doc_id,
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
         FROM documents d LEFT JOIN sc USING (doc_id)"""),
    // Under Verify the per-distinct-word BPE encodings are materialized and
    // the per-doc counts recomputed FROM the dump, so the DuckDB oracle
    // re-runs the tokenize-join-aggregate over the identical relation (the
    // materialized-relation pattern of dedup_simhash/rolling_fingerprint;
    // the BPE loop itself stays spec-covered — it IS the dumped relation).
    {
      val wordDir = QuerySpec.dumpDir("graft_bpe_words")
      QuerySpec("bpe_token_count", (s, d) => {
        val docs = Tables.documents(s, d)
        TextAnalysis.bpeTokenCount(docs, TextAnalysis.trainBpe(docs))
      }, () => ("""WITH tok AS (SELECT doc_id,
             list_filter(string_split_regex(text,'\s+'), x->x<>'') AS t FROM documents),
         w AS (SELECT doc_id, unnest(t) AS word FROM tok),
         enc AS (SELECT * FROM read_parquet('""" + wordDir + """/*.parquet')),
         agg AS (SELECT doc_id, count(*) AS n_tokens,
                   CAST(sum(n_sub) AS BIGINT) AS n_bpe
                 FROM w JOIN enc USING (word) GROUP BY doc_id)
         SELECT d.doc_id, coalesce(agg.n_tokens, 0) AS n_tokens,
           coalesce(agg.n_bpe, 0) AS n_bpe_tokens
         FROM documents d LEFT JOIN agg USING (doc_id)"""),
        verify = Some { (s, d) =>
          val docs = Tables.documents(s, d)
          val merges = TextAnalysis.trainBpe(docs)
          subwordCountsFromDump(s, docs, wordDir, "n_bpe_tokens",
            graft.functions.GraftFunctions.bpeEncode(_, merges))
        })
    },
    // Unigram-LM (SentencePiece) twin of bpe_token_count — identical
    // dump-relation oracle pattern: the per-distinct-word Viterbi
    // segmentations are materialized and the per-doc counts recomputed
    // FROM the dump, so DuckDB re-runs tokenize-join-aggregate over the
    // identical relation; the Viterbi/EM loop itself is spec-covered.
    {
      val wordDir = QuerySpec.dumpDir("graft_unigram_words")
      QuerySpec("unigram_token_count", (s, d) => {
        val docs = Tables.documents(s, d)
        TextAnalysis.unigramTokenCount(docs, TextAnalysis.trainUnigram(docs))
      }, () => ("""WITH tok AS (SELECT doc_id,
             list_filter(string_split_regex(text,'\s+'), x->x<>'') AS t FROM documents),
         w AS (SELECT doc_id, unnest(t) AS word FROM tok),
         enc AS (SELECT * FROM read_parquet('""" + wordDir + """/*.parquet')),
         agg AS (SELECT doc_id, count(*) AS n_tokens,
                   CAST(sum(n_sub) AS BIGINT) AS n_uni
                 FROM w JOIN enc USING (word) GROUP BY doc_id)
         SELECT d.doc_id, coalesce(agg.n_tokens, 0) AS n_tokens,
           coalesce(agg.n_uni, 0) AS n_unigram_tokens
         FROM documents d LEFT JOIN agg USING (doc_id)"""),
        verify = Some { (s, d) =>
          val docs = Tables.documents(s, d)
          val model = TextAnalysis.trainUnigram(docs)
          subwordCountsFromDump(s, docs, wordDir, "n_unigram_tokens",
            graft.functions.GraftFunctions.unigramEncode(_, model))
        })
    },
    // fastText-style hashed-feature logistic classifier (label = the
    // stopword-density quality rule). Under Verify the trained weight vector and the
    // hashed feature relation are materialized and scoring runs the
    // declarative join over the dump, so the DuckDB oracle replays the
    // identical margin arithmetic; training itself is spec-covered (it IS
    // the dumped weight relation). Prod path scores via the map-side
    // native expression — one Scan+Project.
    // Scoring arithmetic replayed over the dumped weight + feature
    // relations (training is spec-covered — it produced the dump);
    // labels recomputed from the raw lang column.
    {
      val weightDir = QuerySpec.dumpDir("graft_clf_weights")
      val featDir = QuerySpec.dumpDir("graft_clf_feats")
      QuerySpec("quality_classifier", (s, d) => Classifier.qualityClassifier(s, Tables.documents(s, d)),
        () => ("""WITH w AS (SELECT idx, w FROM read_parquet('""" + weightDir + """/*.parquet')),
         b AS (SELECT w FROM w WHERE idx = -1),
         f AS (SELECT * FROM read_parquet('""" + featDir + """/*.parquet')),
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
        verify = Some((s, d) => Classifier.qualityClassifier(s, Tables.documents(s, d),
          dumpDirs = Some((weightDir, featDir)))))
    },
    // Count-Min Sketch point queries over the true top-20 words. Under
    // Verify the counter matrix and candidate cell map are materialized;
    // the oracle recomputes true counts from raw text and replays the
    // min-over-rows lookup from the dumps.
    {
      val matrixDir = QuerySpec.dumpDir("graft_cms_matrix")
      val candDir = QuerySpec.dumpDir("graft_cms_cand")
      QuerySpec("cms_heavyhitters", (s, d) => TextAnalysis.cmsHeavyHitters(Tables.documents(s, d)),
        () => ("""WITH m AS (SELECT * FROM read_parquet('""" + matrixDir + """/*.parquet')),
         cand AS (SELECT * FROM read_parquet('""" + candDir + """/*.parquet')),
         topk AS (SELECT word, count(*) AS n_true FROM (
             SELECT unnest(string_split_regex(text, '\s+')) AS word FROM documents)
           WHERE word <> '' GROUP BY word ORDER BY n_true DESC, word LIMIT 20),
         est AS (SELECT c.word, min(m.c) AS n_est FROM cand c
             JOIN m ON c.d = m.d AND c.idx = m.idx GROUP BY c.word)
         SELECT t.word, t.n_true, e.n_est FROM topk t JOIN est e ON t.word = e.word"""),
        verify = Some { (s, d) =>
          val docs = Tables.documents(s, d)
          TextAnalysis.cmsMatrix(docs).coalesce(1)
            .write.mode("overwrite").parquet(matrixDir)
          TextAnalysis.cmsCandidateMap(
              ops.TextOps.topKWords(docs).select(col("word")), 4, 2048)
            .coalesce(1).write.mode("overwrite").parquet(candDir)
          TextAnalysis.cmsHeavyHitters(docs,
            matrixIn = Some(s.read.parquet(matrixDir)))
        })
    },
  )
}
