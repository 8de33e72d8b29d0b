package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text analysis for training-data curation: language ID, quality scoring,
  * token counting, fingerprinting. Every op is a pure map-side projection
  * (no shuffle) — at 100 TB these run at scan speed inside whole-stage
  * codegen, which is exactly what a curation pre-pass needs.
  *
  * All formulas are integer-ratio arithmetic mirrored verbatim in the DuckDB
  * oracles, so results are engine-exact after rounding.
  */
object TextAnalysis {

  private val stopwords: Map[String, Seq[String]] = Map(
    "de" -> Seq("der", "die", "das", "und", "ein", "eine", "zu", "von"),
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "it"),
    "es" -> Seq("el", "la", "de", "los", "las", "que", "y", "en"),
    "fr" -> Seq("le", "la", "les", "des", "un", "une", "et", "du"),
    "zh" -> Seq("zhong", "wen", "shi", "bu", "wo", "ni", "ta", "men"))

  private def stopCount(t: Column, lang: String): Column =
    size(filter(t, x => array_contains(typedlit(stopwords(lang)), x)))

  /** Stopword-vote language ID. Deterministic: argmax over per-language
    * stopword hit counts, ties broken alphabetically. (The synthetic corpus
    * is shared-vocabulary, so the vote mostly lands on 'en' — the point is
    * the deterministic, oracle-checkable n-gram-heuristic shape.) */
  def langId(docs: DataFrame): DataFrame = {
    val t = TextOps.tokens(col("text"))
    val langs = stopwords.keys.toSeq.sorted
    val withScores = docs.select(Seq(col("doc_id")) ++
      langs.map(l => stopCount(t, l).cast("long").as(s"s_$l")): _*)
    val mx = greatest(langs.map(l => col(s"s_$l")): _*)
    val pred = langs.foldRight(lit("und")) { (l, acc) =>
      when(col(s"s_$l") === mx && mx > 0, lit(l)).otherwise(acc)
    }
    // foldRight gives alphabetical priority: first matching lang wins.
    withScores.withColumn("pred_lang", pred)
  }

  /** Quality score: length saturation, stopword density, punctuation penalty.
    * Pure arithmetic over integer counts → engine-exact after round(…,6). */
  def qualityScore(docs: DataFrame): DataFrame = {
    val t = TextOps.tokens(col("text"))
    docs.select(col("doc_id"), col("text"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .withColumn("n_tokens", size(t).cast("long"))
      .withColumn("n_stop", stopCount(t, "en").cast("long"))
      .withColumn("n_punct", (length(col("text")) -
        length(regexp_replace(col("text"), "[.,!?;:]", ""))).cast("long"))
      .withColumn("mean_tok_len",
        round(aggregate(t, lit(0), (acc, x) => acc + length(x)) /
          when(size(t) > 0, size(t)).otherwise(1).cast("double"), 6))
      .withColumn("stop_ratio",
        round(col("n_stop") / when(col("n_tokens") > 0, col("n_tokens")).otherwise(1).cast("double"), 6))
      .withColumn("punct_ratio",
        round(col("n_punct") / when(col("n_chars") > 0, col("n_chars")).otherwise(1).cast("double"), 6))
      .withColumn("quality", round(
        least(lit(1.0), col("n_tokens") / lit(50.0)) * 0.4 +
        col("stop_ratio") * 0.4 + (lit(1.0) - col("punct_ratio")) * 0.2, 6))
      .drop("text")
  }

  /** Token counts: whitespace tokens + a BPE-ish regex segmentation
    * (letter runs | digit runs | single non-space symbol). */
  def tokenCount(docs: DataFrame): DataFrame = {
    val bpePattern = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"
    docs.select(col("doc_id"),
      size(TextOps.tokens(col("text"))).cast("long").as("n_ws"),
      size(regexp_extract_all(col("text"), lit(bpePattern), lit(0))).cast("long").as("n_bpe"),
      length(col("text")).cast("long").as("n_chars"))
  }

  /** Rolling-hash (winnowing) fingerprints: min polynomial hash over k-byte
    * windows — the content-defined-chunking primitive (rows-only: the hash
    * is engine-internal; properties spec'd in OpsSpec). */
  def rollingFingerprint(docs: DataFrame, k: Int = 16): DataFrame = {
    docs.select(col("doc_id"),
      graft.functions.GraftFunctions.rollingMinHash(col("text"), k).as("rh"),
      length(col("text")).cast("long").as("n_chars"))
  }

  /** PII scrubbing: redact emails, SSN-shaped ids, then phone-shaped digit
    * runs (order matters — SSNs would otherwise half-match the phone
    * pattern). Pure map-side regexp_replace chain, whole-stage codegen'd;
    * patterns are RE2-safe (no backrefs/lookaround) so the DuckDB oracle
    * runs them verbatim. Each pattern is counted on the text the
    * replacement actually sees (post-prior-replacements), so n_redactions
    * equals the number of inserted placeholder tokens — an SSN does not
    * double-count as a phone. */
  def piiScrub(docs: DataFrame): DataFrame = {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val ssn = "[0-9]{3}-[0-9]{2}-[0-9]{4}"
    val phone = "\\+?[0-9][0-9() -]{7,}[0-9]"
    def n(c: org.apache.spark.sql.Column, p: String) =
      size(regexp_extract_all(c, lit(p), lit(0))).cast("long")
    val t1 = regexp_replace(col("text"), email, "<EMAIL>")
    val t2 = regexp_replace(t1, ssn, "<SSN>")
    val t3 = regexp_replace(t2, phone, "<PHONE>")
    docs.select(col("doc_id"), t3.as("text_scrubbed"),
      (n(col("text"), email) + n(t1, ssn) + n(t2, phone)).as("n_redactions"))
  }

  /** TF-IDF top terms per document. Two aggregations over the exploded
    * token relation: document frequency per term (one shuffle over ≤ |vocab|
    * keys, broadcast back), then per-(doc, term) counts ranked by
    * tf × ln(N / df) with a per-doc top-k window. At 100 TB the df relation
    * is vocabulary-sized (millions of rows, not corpus-sized) so the
    * broadcast holds; the ranking shuffle is the per-doc term list, capped
    * by the WindowGroupLimit pushdown (or TopKRankedExec under
    * GraftExtensions) to k rows per doc before the final exchange.
    * Ties broken by term asc; tfidf rounded to 6dp BEFORE ranking so the
    * cross-engine sort is unambiguous. */
  def tfidfTopTerms(docs: DataFrame, k: Int = 3): DataFrame = {
    // N stays IN-PLAN as a broadcast 1-row aggregate (the q11/q15 scalar-
    // subquery shape) — an eager docs.count() here would scan the corpus a
    // second time and make this the one op builder that is not lazy
    val n = docs.agg(count(lit(1)).cast("double").as("n_docs"))
    val terms = docs.select(col("doc_id"),
        explode(TextOps.tokens(col("text"))).as("term"))
    // tf has exactly one row per (doc_id, term), so the document frequency
    // is a plain per-term row count OVER TF — the old explode→distinct→
    // groupBy df branch re-ran the whole tokenize+explode as a second
    // corpus pass for a relation tf already determines. tf is persisted
    // (vocabulary-per-doc-bounded, far smaller than the token stream) for
    // its two consumers; blocks are reclaimed by the ContextCleaner once
    // the returned plan is unreachable (the shingleDocs lifecycle).
    val tf = terms.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("term"))
    tf.join(broadcast(df), "term")
      .crossJoin(broadcast(n))
      .withColumn("tfidf", round(col("tf") * log(col("n_docs") / col("df")), 6))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("doc_id"), col("term"), col("tf"), col("tfidf"),
        col("rn").cast("long").as("rn"))
  }

  /** Word n-gram DOCUMENT frequencies — the contamination-check primitive
    * (how many documents contain each n-gram; shingleArray is distinct per
    * doc by construction). One explode + one shuffle on the n-gram key; at
    * scale the partial aggregation absorbs the explosion before the
    * exchange, and minDocs prunes the long tail map-side of the sink. */
  def ngramCounts(docs: DataFrame, n: Int = 2, minDocs: Long = 2): DataFrame = {
    docs.select(explode(
        graft.functions.GraftFunctions.shingleArray(TextOps.tokens(col("text")), n))
        .as("ngram"))
      .groupBy(col("ngram")).agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
  }

  /** Deterministic document fingerprint + length metadata. */
  def docFingerprint(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      md5(col("text")).as("fp"),
      substring(md5(col("text")), 1, 8).as("fp8"),
      length(col("text")).cast("long").as("n_chars"),
      size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"))

  /** Weighted domain-mixture sampler: keep each document with a per-source
    * target fraction, decided by a DETERMINISTIC per-row coin — the Knuth
    * multiplicative hash u = (doc_id · 2654435761 mod 2³²)/2³², not rand() —
    * so the sample is reproducible across engines, runs, and retries (the
    * property a training-mixture builder needs for resumable pipelines).
    * Per-source fractions derive from the source index (idx%5+1)/5, standing
    * in for a mixture-weights table; a real pipeline would broadcast-join
    * one. Pure map-side filter: at 100 TB this runs at scan speed with
    * column pruning, no shuffle, and composes with any downstream op. */
  /** The mixture coin as a reusable predicate (pure function of doc_id +
    * source — composes into any scan as a fused map-side filter). */
  def mixtureKeep: Column = {
    val idx = substring(col("source"), 4, 9).cast("int")
    val frac = ((idx % 5) + 1).cast("double") / 5.0
    val u = pmod(col("doc_id") * lit(2654435761L), lit(4294967296L)).cast("double") / 4294967296.0
    u < frac
  }

  def mixtureSample(docs: DataFrame): DataFrame =
    docs.filter(mixtureKeep)
      .select(col("doc_id"), col("source"), col("lang"), col("n_chars"))

  /** Examples-proportional mixture with TEMPERATURE (the T5 mixing rule,
    * Raffel et al. 2020 §3.4.4): output proportions follow n_i^α instead of
    * n_i, flattening source imbalance. As a downsampling filter the keep
    * probability for source i is p_i = (n_min / n_i)^(1−α) — α=1 keeps
    * everything (proportional), α→0 equalizes source counts; no source is
    * upsampled (max p_i = 1 at the smallest source). The per-doc coin is
    * the same deterministic multiplicative hash as [[mixtureKeep]], so the
    * sample is reproducible across engines/runs/retries. p_i is rounded to
    * 6 dp so both engines compare the coin against the identical constant.
    *
    * Scale shape: one vocab-of-sources-sized count agg (tiny), broadcast
    * back, then a pure map-side filter — scan speed at 100 TB. */
  def temperatureSample(docs: DataFrame, alpha: Double = 0.5): DataFrame = {
    val counts = docs.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val withMin = counts.crossJoin(
      broadcast(counts.agg(min(col("n")).as("n_min"))))
    val p = round(pow(col("n_min").cast("double") / col("n"), 1.0 - alpha), 6)
    val rates = withMin.select(col("source"), p.as("p_keep"))
    val u = pmod(col("doc_id") * lit(2654435761L), lit(4294967296L))
      .cast("double") / 4294967296.0
    docs.join(broadcast(rates), Seq("source"))
      .filter(u < col("p_keep"))
      .select(col("doc_id"), col("source"), col("p_keep"))
  }

  /** The repetition rule as a reusable predicate: keep iff the rounded
    * duplicate-bigram ratio does not exceed the threshold (same arithmetic
    * as [[repetitionScore]]'s flag, so the two stay oracle-consistent). */
  def repetitionOk(flagAbove: Double = 0.5): Column = {
    val t = TextOps.tokens(col("text"))
    val nb = greatest(size(t) - 1, lit(0)).cast("long")
    val ndb = size(DedupOps.shinglesFromTokens(t, 2)).cast("long")
    val ratio = when(nb > 0, round(lit(1.0) - ndb / nb, 6)).otherwise(lit(0.0))
    ratio <= flagAbove
  }

  /** Intra-document repetition scoring (the Gopher-style "repetitive doc"
    * curation rule): duplicate-token and duplicate-bigram ratios per doc,
    * plus the filter flag. Total bigrams is arithmetic (n_tokens−1); only
    * the DISTINCT side touches arrays, via the native ShingleArray(n=2)
    * expression — no interpreted lambda in the hot path. Map-side only:
    * scan-speed at any corpus size. */
  def repetitionScore(docs: DataFrame, flagAbove: Double = 0.5): DataFrame = {
    val t = TextOps.tokens(col("text"))
    docs.select(col("doc_id"), size(t).cast("long").as("n_tokens"),
        size(array_distinct(t)).cast("long").as("n_distinct"),
        greatest(size(t) - 1, lit(0)).cast("long").as("n_bigrams"),
        size(DedupOps.shinglesFromTokens(t, 2)).cast("long").as("n_distinct_bigrams"))
      .withColumn("dup_token_ratio", when(col("n_tokens") > 0,
        round(lit(1.0) - col("n_distinct") / col("n_tokens"), 6)).otherwise(lit(0.0)))
      .withColumn("dup_bigram_ratio", when(col("n_bigrams") > 0,
        round(lit(1.0) - col("n_distinct_bigrams") / col("n_bigrams"), 6)).otherwise(lit(0.0)))
      .withColumn("flag_repetitive",
        when(col("dup_bigram_ratio") > flagAbove, 1).otherwise(0).cast("int"))
  }

  /** Distributed BPE training (Sennrich et al. 2016): ONE vocabulary-bounded
    * word-count shuffle builds the (word, freq) dictionary — the only
    * corpus-sized stage — then merge learning runs driver-side over the
    * dictionary (graft.functions.BpeTrainer; cost independent of corpus
    * size, the same bounded-model-state pattern as IVF centroid training).
    *
    * The dictionary the driver collects is CAPPED at `maxVocab` entries
    * (top-M by frequency, word-ascending tie-break — a deterministic
    * TakeOrderedAndProject: per-partition top-M, driver merge; never a
    * full-vocabulary collect). A 100 TB web crawl has 10^8–10^9 distinct
    * whitespace tokens — unbounded, that collect is tens of driver GB; the
    * top-M prune is standard BPE practice (subword-nmt / HuggingFace
    * trainers cap or frequency-floor the word dictionary) and keeps
    * essentially all pair mass: dropped words are the frequency tail, and
    * any merge they alone support sits below `minPairFreq` in real
    * corpora. Exact-equality caveat: tail words CAN sum into a pair's
    * count, so a cap is an approximation by construction — capped ==
    * uncapped is spec-pinned on the gate corpus where the cap exceeds the
    * vocabulary. Returns the ranked merge table for
    * [[bpeEncode]]/[[bpeTokenCount]]. */
  def trainBpe(docs: DataFrame, numMerges: Int = 200,
               minPairFreq: Long = 2L,
               maxVocab: Int = 1000000): Seq[(String, String)] = {
    val vocab = wordDictTopM(docs, maxVocab)
    graft.functions.BpeTrainer.learn(vocab, numMerges, minPairFreq)
  }

  /** The shared trainer dictionary: (word, freq) capped at the top
    * `maxVocab` by (freq desc, word asc) — ordering fully deterministic,
    * and the plan is a partial-agg'd count shuffle + TakeOrderedAndProject,
    * so driver memory is bounded by the cap at any corpus size. */
  private def wordDictTopM(docs: DataFrame, maxVocab: Int): Array[(String, Long)] =
    docs.select(explode(TextOps.tokens(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("f"))
      .orderBy(col("f").desc, col("w").asc)
      .limit(maxVocab)
      .collect().map(r => (r.getString(0), r.getLong(1)))

  /** Per-doc BPE subword tokenization under a trained merge table — pure
    * map-side projection (the merge model ships inside the native
    * expression), scan-speed at any corpus size. */
  def bpeEncode(docs: DataFrame, merges: Seq[(String, String)]): DataFrame = {
    docs.select(col("doc_id"),
      graft.functions.GraftFunctions.bpeEncode(col("text"), merges).as("bpe_tokens"))
  }

  /** The token-accounting view every training-budget calculation needs:
    * whitespace tokens vs BPE subword tokens per document. */
  def bpeTokenCount(docs: DataFrame, merges: Seq[(String, String)]): DataFrame = {
    docs.select(col("doc_id"),
      size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"),
      size(graft.functions.GraftFunctions.bpeEncode(col("text"), merges))
        .cast("long").as("n_bpe_tokens"))
  }

  /** Distributed unigram-LM tokenizer training (Kudo 2018, the
    * SentencePiece unigram algorithm) — the same work split as
    * [[trainBpe]]: ONE vocabulary-bounded word-count shuffle builds the
    * (word, freq) dictionary, then seed/EM/prune runs driver-side over
    * DISTINCT words (graft.functions.UnigramTrainer; cost independent of
    * corpus size). The collected dictionary is capped at `maxVocab`
    * (top-M by frequency — see [[trainBpe]]'s cap rationale; SentencePiece
    * itself trains from a frequency-capped seed corpus). Returns the
    * (piece, log-prob) model for [[unigramEncode]]/[[unigramTokenCount]]. */
  def trainUnigram(docs: DataFrame, vocabSize: Int = 512,
                   maxPieceLen: Int = 6,
                   maxVocab: Int = 1000000): Seq[(String, Double)] = {
    val vocab = wordDictTopM(docs, maxVocab)
    graft.functions.UnigramTrainer.learn(vocab, vocabSize, maxPieceLen)
  }

  /** Per-doc unigram subword tokenization — map-side Viterbi under the
    * trained piece model (ships inside the native expression). */
  def unigramEncode(docs: DataFrame, model: Seq[(String, Double)]): DataFrame = {
    docs.select(col("doc_id"),
      graft.functions.GraftFunctions.unigramEncode(col("text"), model).as("unigram_tokens"))
  }

  /** Token accounting under the unigram tokenizer — the [[bpeTokenCount]]
    * twin, so budget calculations can compare both subword families. */
  def unigramTokenCount(docs: DataFrame, model: Seq[(String, Double)]): DataFrame = {
    docs.select(col("doc_id"),
      size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"),
      size(graft.functions.GraftFunctions.unigramEncode(col("text"), model))
        .cast("long").as("n_unigram_tokens"))
  }

  /** CCNet-style n-gram LM quality signal (Wenzek et al. 2020 use a KenLM
    * perplexity to split a crawl into quality tiers): train an add-one-
    * smoothed bigram LM on the corpus itself and score every document by its
    * average bigram log-likelihood — fluent/common text scores low perplexity,
    * boilerplate-free noise scores high, and the score is the standard
    * curation sort key for "keep the middle" filtering.
    *
    *   p(w2|w1) = (c(w1 w2) + 1) / (c(w1) + V),   V = |vocabulary|
    *   avg_ll   = mean over the doc's consecutive bigrams of ln p
    *   ppl      = exp(−avg_ll)
    *
    * Scale shape: the unigram/bigram count relations are vocabulary-bounded
    * partial-agg'd groupBys (one shuffle each); scoring joins are plain
    * equi-joins on the gram keys, planned by stats — broadcast at toy SF
    * (audited), flipping to sort-merge once the bigram table outgrows the
    * broadcast threshold (a web-scale bigram table runs to GBs; nothing here
    * forces a broadcast). The vocabulary size joins as a 1-row scalar. The
    * per-doc reduce is one more partial-agg'd shuffle on doc_id. Bigrams are
    * extracted map-side with builtin slice+arrays_zip (codegen'd; no
    * interpreted lambda and no per-doc window). Docs with < 2 tokens carry
    * NULL score columns. */
  def lmPerplexity(docs: DataFrame): DataFrame = {
    // PERSISTED: the token relation is walked three times (unigram counts,
    // and the bigram stream twice — once for the bigram count table, once
    // for scoring), so without the persist the tokenizer runs as three full
    // corpus passes. Blocks are reclaimed by the ContextCleaner once the
    // returned plan becomes unreachable (the dedupParagraphs/shingleDocs
    // lifecycle — no in-op release point on the success path).
    val toks = docs.select(col("doc_id"), TextOps.tokens(col("text")).as("t"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val uni = toks.select(explode(col("t")).as("w"))
    val c1 = uni.groupBy(col("w")).agg(count(lit(1)).as("c1"))
    val vocab = c1.agg(count(lit(1)).cast("double").as("v"))
    val bg = toks.filter(size(col("t")) >= 2)
      .withColumn("w1s", slice(col("t"), lit(1), size(col("t")) - 1))
      .withColumn("w2s", slice(col("t"), lit(2), size(col("t")) - 1))
      .select(col("doc_id"), explode(arrays_zip(col("w1s"), col("w2s"))).as("p"))
      .select(col("doc_id"), col("p.w1s").as("w1"), col("p.w2s").as("w2"))
    val c2 = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
    val scored = bg
      .join(c2, Seq("w1", "w2"))
      .join(c1.withColumnRenamed("w", "w1"), Seq("w1"))
      .crossJoin(broadcast(vocab)) // 1-row scalar, not a data broadcast
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        avg(log((col("c2") + lit(1.0)) / (col("c1") + col("v")))).as("a"))
    docs.select(col("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        round(col("a"), 6).as("avg_ll"),
        round(exp(-col("a")), 4).as("ppl"))
  }

  /** Count-Min Sketch counter matrix (Cormode & Muthukrishnan 2005) over the
    * corpus token stream: depth rows of width counters, cell (d, idx) counts
    * tokens with pmod(hash(word, d), width) == idx. The sketch is the
    * FIXED-size twin of the word-count shuffle: partial aggregation bounds
    * each task's shuffle output at depth×width cells regardless of
    * vocabulary — at 100 TB the wordcount shuffle is vocabulary-bounded,
    * this one is CONSTANT-bounded (the point of the sketch family, same
    * story as [[graft.functions.SpaceSavingTopK]] for heavy hitters and the
    * HLL registers for distincts). */
  def cmsMatrix(docs: DataFrame, depth: Int = 4, width: Int = 2048): DataFrame =
    docs.select(explode(TextOps.tokens(col("text"))).as("word"))
      .select(col("word"), explode(sequence(lit(0), lit(depth - 1))).as("d"))
      .select(col("d"), pmod(hash(col("word"), col("d")), lit(width)).as("idx"))
      .groupBy(col("d"), col("idx")).agg(count(lit(1)).as("c"))

  /** The (word, d, idx) cell addresses a candidate word reads — dumped under
    * Verify so the DuckDB oracle can replay the min-over-rows lookup without
    * reimplementing murmur3. */
  def cmsCandidateMap(words: DataFrame, depth: Int, width: Int): DataFrame =
    words.select(col("word"), explode(sequence(lit(0), lit(depth - 1))).as("d"))
      .select(col("word"), col("d"),
        pmod(hash(col("word"), col("d")), lit(width)).as("idx"))

  /** CMS point-query check over the true top-k words: estimate = min over
    * the depth rows of the addressed cells. CMS guarantees n_est ≥ n_true
    * always, with overestimate ≤ εN at probability 1−δ (ε = e/width,
    * δ = e^−depth) — the spec pins the one-sided bound, the oracle replays
    * the exact lookup arithmetic from the dumped matrix + candidate map. */
  def cmsHeavyHitters(docs: DataFrame, depth: Int = 4, width: Int = 2048,
                      k: Int = 20, matrixIn: Option[DataFrame] = None): DataFrame = {
    val matrix = matrixIn.getOrElse(cmsMatrix(docs, depth, width))
    // k rows, consumed by two DAG branches (candidate map + output join):
    // collected to the driver once (bounded model state, like IVF
    // centroids) — a lingering .persist here would swap InMemoryRelations
    // into every later documents-reading plan in the session (the
    // NOTES_PERF cache-state hash-flip effect), and without either, the
    // vocab-bounded wordcount shuffle runs twice
    val session = docs.sparkSession
    import session.implicits._
    val topk = TextOps.topKWords(docs, k).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq.toDF("word", "n")
    val est = cmsCandidateMap(topk.select(col("word")), depth, width)
      .join(matrix, Seq("d", "idx"))
      .groupBy(col("word")).agg(min(col("c")).as("n_est"))
    topk.join(est, Seq("word"))
      .select(col("word"), col("n").as("n_true"), col("n_est"))
  }

  /** Gopher-style hard document-quality rules (Rae et al. 2021, arXiv
    * 2112.11446 §A1.1) — the rule-based pre-filter a crawl-curation pass
    * applies BEFORE any model-based scoring: word-count bounds, mean-word-
    * length band, alphabetic-word fraction, and stopword evidence, each as
    * an auditable flag plus the conjunction `keep`. (The paper's line-shape
    * rules — bullet/ellipsis prefixes, symbol ratios — need line structure;
    * the token-shape family implemented here is the part that applies to
    * any corpus.) Pure map-side integer/ratio arithmetic mirrored verbatim
    * in the DuckDB oracle — one pass, no shuffle, whole-stage codegen, so
    * at 100 TB this runs at scan speed like [[qualityScore]]. */
  def gopherRules(docs: DataFrame, minWords: Int = 50, maxWords: Int = 100000,
                  minMeanLen: Double = 3.0, maxMeanLen: Double = 10.0,
                  minAlphaFrac: Double = 0.8, minStop: Int = 2): DataFrame = {
    val t = TextOps.tokens(col("text"))
    docs.select(col("doc_id"), size(t).cast("long").as("n_words"),
        size(filter(t, x => x.rlike("[A-Za-z]"))).cast("long").as("n_alpha"),
        stopCount(t, "en").cast("long").as("n_stop"),
        aggregate(t, lit(0), (acc, x) => acc + length(x)).cast("long").as("tls"))
      .withColumn("mean_word_len", round(col("tls") /
        when(col("n_words") > 0, col("n_words")).otherwise(1).cast("double"), 6))
      .withColumn("alpha_frac", round(col("n_alpha") /
        when(col("n_words") > 0, col("n_words")).otherwise(1).cast("double"), 6))
      .withColumn("ok_words",
        col("n_words") >= minWords && col("n_words") <= maxWords)
      .withColumn("ok_mean_len",
        col("mean_word_len") >= minMeanLen && col("mean_word_len") <= maxMeanLen)
      .withColumn("ok_alpha", col("alpha_frac") >= minAlphaFrac)
      .withColumn("ok_stop", col("n_stop") >= minStop)
      .withColumn("keep",
        col("ok_words") && col("ok_mean_len") && col("ok_alpha") && col("ok_stop"))
      .drop("tls", "n_alpha")
  }

  /** Latin-1 accented letters → their base letter, as parallel from/to
    * strings for `translate` (the CCNet normalization's accent-strip step).
    * \u escapes keep the source file pure ASCII. */
  private val AccentFrom: String =
    "\u00e0\u00e1\u00e2\u00e3\u00e4\u00e5\u00e8\u00e9\u00ea\u00eb" +
    "\u00ec\u00ed\u00ee\u00ef\u00f2\u00f3\u00f4\u00f5\u00f6\u00f9" +
    "\u00fa\u00fb\u00fc\u00e7\u00f1\u00fd\u00ff"
  private val AccentTo: String = "aaaaaaeeeeiiiiooooouuuucnyy"

  /** CCNet-style text normalization (Wenzek et al. 2020 §3.1 — the
    * normalization applied before paragraph hashing so trivially-variant
    * boilerplate collapses to one form): lowercase → strip Latin-1 accents
    * (translate, table above) → every digit run → a single '0' → every
    * non-[a-z0 ] run → a single space → trim. Emits the normalized text
    * plus its word/char counts so the downstream hash/dedup stage is a pure
    * projection of this relation.
    *
    * All five steps are codegen'd native string functions with identical
    * semantics in the DuckDB oracle (lower/translate/regexp_replace on the
    * same RE2-safe patterns) — one pass, no shuffle; at 100 TB this runs at
    * scan speed and fuses into whichever curation stage consumes it. */
  def textNormalize(docs: DataFrame): DataFrame = {
    val norm = trim(regexp_replace(regexp_replace(
      translate(lower(col("text")), AccentFrom, AccentTo),
      "[0-9]+", "0"), "[^a-z0]+", " "))
    docs.select(col("doc_id"), norm.as("text_norm"))
      .withColumn("n_words", when(col("text_norm") === "", lit(0L))
        .otherwise(size(split(col("text_norm"), " ")).cast("long")))
      .withColumn("n_chars", length(col("text_norm")).cast("long"))
  }
}
