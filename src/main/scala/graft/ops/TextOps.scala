package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The wordcount/grep family — the reference's canonical MapReduce examples,
  * re-expressed as single declarative aggregation plans.
  *
  * Reference analogs (hadoop-mapreduce-examples/src/main/java/org/apache/hadoop/examples/):
  *  - WordCount.java:1 (tokenize → map (word,1) → combine → reduce sum)
  *  - Grep.java:1 (regex match → count → sort desc by count)
  *  - MultiFileWordCount.java:1 (many inputs, one aggregation)
  *  - WordMean.java:1 / WordMedian.java:1 / WordStandardDeviation.java:1
  *  - AggregateWordCount.java:1 / AggregateWordHistogram.java:1
  *
  * The MR combiner (map-side partial sum) is exactly Spark's partial
  * HashAggregate before the shuffle — free in every plan below. At 100 TB the
  * shuffle carries only (word, partial_count) pairs, bounded by vocabulary
  * size per task, not corpus size.
  */
object TextOps {

  /** §2.5 input-skew guard for per-row-CPU text operators: the suite corpora
    * are single-row-group parquet files, so the scan — and every map-side
    * stage fused onto it (tokenize, shingle, 5-language stopword votes,
    * regex chains, fingerprints) — runs as ONE task at any core count. When
    * the scan yields at most half as many partitions as the session has
    * cores, spread the rows once right after the read ("one huge
    * unsplittable file … repartition immediately after the read"); when the
    * input already arrives split (many files / row groups — every
    * real-cluster layout, and the sweep scripts' 2m split override), this is
    * a no-op, so no full-corpus shuffle is ever added at scale. An input
    * whose plan already shuffles (AQE wraps it) arrives over the session's
    * shuffle partitions and is left as it is: counting its partitions would
    * run its shuffle stages eagerly. Unlike the media family's id-only
    * spread, text ops need the text column, so the spread moves the corpus
    * slice itself — only worth it where per-row CPU dominates the row's
    * bytes (the callers were each profiled as single-task map stages —
    * NOTES_PERF.md, "r13: multi-pass text ops — persist the derived
    * relation, then spread"). */
  def spreadScan(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    df.queryExecution.executedPlan match {
      case _: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => df
      case plan => if (plan.execute().getNumPartitions * 2 <= target) df.repartition(target) else df
    }
  }

  /** Whitespace tokenizer shared by every op (and mirrored in the DuckDB
    * oracles as string_split_regex(text,'\s+') with empties dropped). */
  def tokens(c: Column): Column =
    filter(split(c, "\\s+"), t => length(t) > 0)

  /** size(tokens(c)) >= n without tokenizing: true iff `c` holds at least n
    * maximal runs of non-whitespace, i.e. n [[tokens]] (same `\s` class).
    * Anchored and possessive, so the match reads `c` only up to the start of
    * its n-th token and never backtracks. */
  def hasTokens(c: Column, n: Int): Column = {
    require(n >= 1, s"hasTokens: n must be >= 1, got $n")
    c.rlike("^\\s*+(\\S++\\s++){" + (n - 1) + "}\\S")
  }

  /** WordCount: one explode + one partial-agg'd groupBy. */
  def wordCount(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(explode(tokens(col(textCol))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("n"))

  /** Grep: count occurrences of each regex match across the corpus. */
  def grepCount(docs: DataFrame, pattern: String = "[a-z]+a[a-z]*"): DataFrame =
    docs.select(explode(regexp_extract_all(col("text"), lit(pattern), lit(0))).as("match"))
      .groupBy(col("match")).agg(count(lit(1)).as("n"))

  /** MultiFileWordCount: union of heterogeneous text sources → same plan. */
  def multiSourceWordCount(sources: Seq[DataFrame]): DataFrame =
    wordCount(sources.map(_.toDF("text")).reduce(_ unionAll _))

  /** WordMean/WordMedian/WordStandardDeviation in one pass over token lengths. */
  def wordStats(docs: DataFrame): DataFrame =
    docs.select(explode(tokens(col("text"))).as("word"))
      .select(length(col("word")).as("len"))
      .agg(count(lit(1)).as("n_words"),
           round(avg(col("len")), 6).as("mean_len"),
           round(expr("percentile(len, 0.5)"), 6).as("median_len"),
           round(stddev_pop(col("len")), 6).as("stddev_len"))

  /** Top-k words by frequency (AggregateWordCount + the top-k idiom).
    * TakeOrdered at scale — no global sort materialized. */
  def topKWords(docs: DataFrame, k: Int = 20): DataFrame =
    wordCount(docs).orderBy(col("n").desc, col("word")).limit(k)

  /** Top words via the Space-Saving sketch aggregate — the bounded-memory
    * heavy-hitters path: each task ships `capacity` counters instead of the
    * full (word → count) shuffle. With capacity ≥ distinct items the sketch
    * is EXACT (Metwally et al. 2005, no eviction ever fires), which is what
    * lets this share the plain GROUP BY oracle; undersized capacity trades
    * exactness for the O(capacity) bound (SketchSpec covers the error
    * contract). */
  def spaceSavingTopWords(docs: DataFrame, capacity: Int = 64): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    docs.select(explode(tokens(col("text"))).as("word"))
      .agg(graft.functions.GraftFunctions.spacesavingTopK(col("word"), capacity).as("top"))
      .select(explode(col("top")).as("e"))
      .select(col("e.item").as("word"), col("e.count").as("n"))
  }

  /** AggregateWordHistogram: frequency-of-frequencies. */
  def wordHistogram(docs: DataFrame): DataFrame =
    wordCount(docs).groupBy(col("n").as("freq")).agg(count(lit(1)).as("n_words"))

  /** Inverted index: word → document frequency + smallest posting. The full
    * posting list is the pre-aggregation (word, doc_id) relation itself;
    * at scale cap posting lists via df filters downstream. */
  def invertedIndex(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(array_distinct(tokens(col("text")))).as("word"))
      .groupBy(col("word"))
      .agg(countDistinct(col("doc_id")).as("n_docs"), min(col("doc_id")).as("first_doc"))

  /** Log-archive grep + column-sort — the hadoop-extras Logalyzer analog
    * (hadoop-tools/hadoop-extras/src/main/java/org/apache/hadoop/tools/
    * Logalyzer.java:56 "archiving and analyzing (sort/grep) of log-files":
    * a grep pattern filters lines, then LogComparator orders them
    * column-wise by a `sortSpec` over a separator split). Input: a `line`
    * string column (IO.readText(...).toDF("line") for files). Output:
    * (pos, line) — matching lines with their 1..N global rank under
    * (sort columns asc, full line asc); equal lines are interchangeable,
    * so the relation is deterministic.
    *
    * Scale shape: the rank is the TWO-PHASE global cumsum (the TeraSort/
    * global_shuffle shape, quota_sample-hardened): the composite sort key
    * gets a monotone [[Buckets.stringQuantileBucket]] id (literal bounds —
    * a pure row function, every branch agrees by construction), so a
    * per-bucket window plus a broadcast of per-bucket counts replaces the
    * single-task global window. Missing sort columns compare as ''. The
    * order is defined ON the NUL-joined composite (sort tokens ++ line,
    * joiner U+0000, an explicit escape in source, never a raw byte) —
    * identical to column-wise tuple ordering whenever
    * the sort tokens contain no NUL byte, which text lines cannot (NUL
    * sorts below every other character, so a token that is a strict
    * prefix of another still ranks first, matching tuple order); the
    * oracle replays the same composite verbatim via chr(0). */
  def logGrepSort(lines: DataFrame, pattern: String, separator: String = " ",
                  sortColumns: Seq[Int] = Seq(0),
                  partitions: Int = 0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(sortColumns.nonEmpty, "logGrepSort: sortSpec must name >= 1 column")
    // partitions ≤ 0 → the session's shuffle width (scale-adaptive: the
    // bucket count tracks the deployment's parallelism instead of a
    // constant tuned for one box). ANY count yields identical output — the
    // bucket id is monotone in the key and the offsets re-derive the
    // global rank — so the knob is cost-only.
    val np = if (partitions > 0) partitions
      else lines.sparkSession.sessionState.conf.numShufflePartitions
    val filtered = lines.select(col("line")).filter(col("line").rlike(pattern))
    val fields = split(col("line"), java.util.regex.Pattern.quote(separator))
    val keyCols = sortColumns.map(i => coalesce(fields.getItem(i), lit("")))
    val composite = concat_ws("\u0000", (keyCols :+ col("line")): _*)
    // materialize (line, k) ONCE: the grep + split + composite cost per row
    // was previously paid in THREE scans (the quantile sample, the offsets
    // branch, the rank branch). Eager checkpoint, not persist: the
    // returned plan references this relation lazily, so a persist would
    // have no release point (the dedupParagraphs dropSets pattern). The
    // checkpoint holds only the GREP SURVIVORS — match-sized, not
    // corpus-sized. RELIABLE when the session has a checkpoint dir (a
    // lost executor otherwise kills the lineage-less job on a long
    // cluster run — the connectedComponents truncate rule); executor-local
    // (zero extra I/O) when none is configured, as in this sandbox.
    val keyedBase = filtered.withColumn("k", composite)
    val keyed0 =
      if (lines.sparkSession.sparkContext.getCheckpointDir.isDefined)
        keyedBase.checkpoint(true)
      else keyedBase.localCheckpoint(true)
    val keyed = keyed0
      .withColumn("pid", Buckets.stringQuantileBucket(keyed0, col("k"), np))
    val offsets = keyed.groupBy(col("pid")).agg(count(lit(1)).as("pcnt"))
      .withColumn("offset", coalesce(sum(col("pcnt")).over(
        // ≤ `np` rows — the tiny phase-2 window
        Window.partitionBy(lit(0)).orderBy(col("pid"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    keyed.withColumn("intra", row_number().over(
        Window.partitionBy(col("pid")).orderBy(col("k"))).cast("long"))
      .join(broadcast(offsets.select(col("pid"), col("offset"))), "pid")
      .select((col("offset") + col("intra")).as("pos"), col("line"))
  }
}
