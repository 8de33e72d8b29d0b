package graft
package queries

import org.apache.spark.sql.functions.col
import graft.ops._
import graft.sources.IO.readParquet

/** The Hadoop MapReduce examples and tools (SURVEY.md §2.1): word counts,
  * sorts, generators, distributed compute, streaming pipes, log analysis and
  * file-layout ops. */
object MapReduceQueries {
  val all: Seq[QuerySpec] = Seq(
    QuerySpec("wordcount", (s, d) => TextOps.wordCount(Tables.documents(s, d)),
      () => """SELECT word, count(*) AS n FROM (
           SELECT unnest(string_split_regex(text, '\s+')) AS word FROM documents)
         WHERE word <> '' GROUP BY word"""),
    QuerySpec("grep_count", (s, d) => TextOps.grepCount(Tables.documents(s, d)),
      () => """SELECT "match", count(*) AS n FROM (
           SELECT unnest(regexp_extract_all(text, '[a-z]+a[a-z]*')) AS "match"
           FROM documents)
         GROUP BY "match""""),
    QuerySpec("multifile_wordcount", (s, d) => TextOps.multiSourceWordCount(Seq(
      Tables.documents(s, d).select("text"), Tables.part(s, d).select("p_name"))),
      () => """SELECT word, count(*) AS n FROM (
           SELECT unnest(string_split_regex(txt, '\s+')) AS word FROM (
             SELECT text AS txt FROM documents UNION ALL SELECT p_name FROM part))
         WHERE word <> '' GROUP BY word"""),
    QuerySpec("word_stats", (s, d) => TextOps.wordStats(Tables.documents(s, d)),
      () => """SELECT count(*) AS n_words, round(avg(len),6) AS mean_len,
         round(median(len),6) AS median_len, round(stddev_pop(len),6) AS stddev_len
         FROM (SELECT length(word) AS len FROM (
           SELECT unnest(string_split_regex(text, '\s+')) AS word FROM documents)
           WHERE word <> '')"""),
    QuerySpec("topk_words", (s, d) => TextOps.topKWords(Tables.documents(s, d)),
      () => """SELECT word, count(*) AS n FROM (
           SELECT unnest(string_split_regex(text, '\s+')) AS word FROM documents)
         WHERE word <> '' GROUP BY word ORDER BY n DESC, word LIMIT 20"""),
    // capacity (64) >= vocabulary size, so the sketch never evicts => exact
    QuerySpec("spacesaving_topk", (s, d) => TextOps.spaceSavingTopWords(Tables.documents(s, d)),
      () => """SELECT word, count(*) AS n FROM (
           SELECT unnest(string_split_regex(text, '\s+')) AS word FROM documents)
         WHERE word <> '' GROUP BY word ORDER BY n DESC, word LIMIT 64"""),
    QuerySpec("word_histogram", (s, d) => TextOps.wordHistogram(Tables.documents(s, d)),
      () => """SELECT n AS freq, count(*) AS n_words FROM (
           SELECT word, count(*) AS n FROM (
             SELECT unnest(string_split_regex(text, '\s+')) AS word FROM documents)
           WHERE word <> '' GROUP BY word)
         GROUP BY n"""),
    QuerySpec("inverted_index", (s, d) => TextOps.invertedIndex(Tables.documents(s, d)),
      () => """SELECT word, count(DISTINCT doc_id) AS n_docs, min(doc_id) AS first_doc
         FROM (SELECT doc_id,
                 unnest(list_distinct(string_split_regex(text, '\s+'))) AS word
               FROM documents)
         WHERE word <> '' GROUP BY word"""),
    QuerySpec("global_sort", (s, d) => SortOps.globalSortTopN(Tables.lineitem(s, d)),
      () => """SELECT row_number() OVER (ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS pos,
         l_orderkey, l_linenumber, round(l_extendedprice,2) AS price
         FROM lineitem ORDER BY pos LIMIT 1000"""),
    QuerySpec("sort_validate", (s, d) => SortOps.sortValidate(s, Tables.lineitem(s, d)),
      () => """SELECT count(*) AS row_cnt, CAST(0 AS BIGINT) AS inversions,
         CAST(sum(CAST(round(l_extendedprice*100,0) AS BIGINT) + l_orderkey % 1000003 + l_linenumber) AS BIGINT) AS checksum
         FROM lineitem"""),
    QuerySpec("secondary_sort", (s, d) => SortOps.secondarySort(Tables.events(s, d)),
      () => """SELECT user_id,
         string_agg(event_id::VARCHAR, ',' ORDER BY ts, event_id) AS ordered_events,
         count(*) AS n_events
         FROM events GROUP BY user_id"""),
    QuerySpec("datagen", (s, _) => DataGen.generate(s),
      () => """WITH a AS (SELECT range AS id,
             ((range%2147483648)*1103515245+12345)%2147483648 AS r1 FROM range(10000)),
         b AS (SELECT id, r1, (r1*1103515245+12345)%2147483648 AS r2 FROM a)
         SELECT id, r1, r2,
           (['alpha','beta','gamma','delta','epsilon','zeta','eta','theta','iota',
             'kappa','lambda','mu','nu','xi','omicron','pi','rho','sigma','tau',
             'upsilon'])[(r1%20+1)::INT] AS word,
           round(r2/2147483648.0, 9) AS value
         FROM b"""),
    QuerySpec("pi_estimate", (s, _) => DataGen.piEstimate(s),
      () => """WITH a AS (SELECT range AS id,
             (range*1103515245+12345)%2147483648 AS xi FROM range(100000)),
         b AS (SELECT xi, (xi*1103515245+12345)%2147483648 AS yi FROM a),
         c AS (SELECT xi/2147483648.0 AS x, yi/2147483648.0 AS y FROM b)
         SELECT count(*) AS n,
           CAST(sum(CASE WHEN x*x + y*y <= 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS in_circle,
           round(sum(CASE WHEN x*x + y*y <= 1.0 THEN 1 ELSE 0 END) * 4.0 / count(*), 6) AS pi_est
         FROM c"""),
    // distributed-compute examples (BBP digits, dancing-links search): input-
    // free like datagen/pi_estimate; oracles are closed-form literal ground
    // truth (pi's hex expansion; published pentomino tiling counts), so the
    // gate proves the distributed computation lands exactly on it
    // closed-form literal oracles: pi's fractional hex expansion (any bignum
    // Machin evaluation reproduces it), the published pentomino tiling
    // counts (incl. symmetric duplicates), and sudoku's PLANTED solutions —
    // the corpus is uniqueness-repaired, so the solver must recover exactly
    // the grid each puzzle was blanked from, a pure function of the id that
    // the oracle bakes into a literal VALUES table (no SQL solver needed).
    QuerySpec("bbp_pi_digits", (s, _) => ComputeOps.piDigits(s, nDigits = 128),
      () => """SELECT CAST(pos AS BIGINT) AS pos, hex4 FROM (VALUES
         (0,'243F'),(4,'6A88'),(8,'85A3'),(12,'08D3'),(16,'1319'),(20,'8A2E'),
         (24,'0370'),(28,'7344'),(32,'A409'),(36,'3822'),(40,'299F'),(44,'31D0'),
         (48,'082E'),(52,'FA98'),(56,'EC4E'),(60,'6C89'),(64,'4528'),(68,'21E6'),
         (72,'38D0'),(76,'1377'),(80,'BE54'),(84,'66CF'),(88,'34E9'),(92,'0C6C'),
         (96,'C0AC'),(100,'29B7'),(104,'C97C'),(108,'50DD'),(112,'3F84'),
         (116,'D5B5'),(120,'B547'),(124,'0917')) AS t(pos, hex4)"""),
    QuerySpec("pentomino", (s, _) => PuzzleOps.pentominoCounts(s),
      () => """SELECT board, CAST(solutions AS BIGINT) AS solutions FROM (VALUES
         ('3x20',8),('4x15',1472),('5x12',4040),('6x10',9356)) AS t(board, solutions)"""),
    // one-sided game (no reflections; 18 pieces, 90-cell board) — reference
    // analog dancing/OneSidedPentomino.java:1; published 3x30 count = 46
    // 184 = 4 x the published 46 distinct solutions: the published count is
    // up to the rectangle's 4 symmetries (no 3x30 one-sided tiling is
    // self-symmetric), and this suite counts symmetric duplicates included,
    // same convention as the free family (6x10 = 9356 = 4 x 2339).
    QuerySpec("pentomino_one_sided", (s, _) =>
      PuzzleOps.pentominoCounts(s, Seq((3, 30)), oneSided = true),
      () => """SELECT board, CAST(solutions AS BIGINT) AS solutions FROM (VALUES
         ('3x30',184)) AS t(board, solutions)"""),
    QuerySpec("sudoku", (s, _) =>
      PuzzleOps.sudokuSolveAll(PuzzleOps.sudokuPuzzlesUnique(s, 200, blanks = 40)),
      () => {
      val rows = (0L until 200L).map { id =>
        val sol = graft.ops.PuzzleOps.puzzleAndSolutionForId(id, 40)._2
        s"($id,'$sol',true,true)"
      }.mkString(",\n         ")
      s"""SELECT CAST(puzzle_id AS BIGINT) AS puzzle_id, solution, valid, clues_kept
         FROM (VALUES $rows) AS t(puzzle_id, solution, valid, clues_kept)"""
    }),
    QuerySpec("streaming_pipe", (s, d) => PipeOps.pipeThrough(
      s, Tables.documents(s, d), "doc_id", "text", Seq("tr", "a-z", "A-Z")),
      () => """SELECT doc_id, upper(text) AS out FROM documents"""),
    // hadoop-streaming combiner stage (r11, PipeCombiner.java analog):
    // per-partition pre-shuffle awk partial sums -> shuffled awk reducer;
    // the oracle is the plain GROUP BY count the two-stage pipe must equal
    QuerySpec("streaming_pipe_combined", (s, d) => {
      val sumAwk = Seq("awk", "-F", "\t",
        "{ if (NR>1 && $1!=k) print k\"\\t\"s; if ($1!=k) { k=$1; s=0 }; s+=$2 } " +
        "END { if (NR>0) print k\"\\t\"s }")
      PipeOps.pipeThroughCombined(s,
        Tables.events(s, d).select(col("event_type"),
          org.apache.spark.sql.functions.lit("1").as("one")),
        "event_type", "one", sumAwk, sumAwk)
    }, () => """SELECT event_type, CAST(count(*) AS VARCHAR) AS out
         FROM events GROUP BY event_type"""),
    // hadoop-extras Logalyzer analog (r10): grep + column-wise sortSpec
    // over synthesized log lines (ISO ts, event type, integer value from
    // events — a pure function of the table, so the oracle rebuilds the
    // corpus verbatim); pos is the two-phase global rank over the
    // composite (sort column ++ line) key, replayed by the oracle's
    // single-window row_number over the identical composite.
    // Logalyzer analog: the oracle rebuilds the synthesized log corpus
    // verbatim, filters with the same regex, and ranks with a single
    // global window over the IDENTICAL composite key (sort token ++ NUL ++
    // line, chr(0) here == the Scala side's explicit U+0000 joiner — NUL
    // makes prefix tokens rank in tuple order). DuckDB list indexing is
    // 1-based (the Spark side's sortSpec column 1 == [2] here).
    QuerySpec("log_grep_sort", (s, d) => {
      import org.apache.spark.sql.functions.{concat_ws, date_format, floor}
      val lines = Tables.events(s, d).select(concat_ws(" ",
        date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss"),
        col("event_type"),
        floor(col("value")).cast("long").cast("string")).as("line"))
      TextOps.logGrepSort(lines, pattern = "click|view", sortColumns = Seq(1))
    }, () => """WITH l AS (SELECT strftime(ts, '%Y-%m-%dT%H:%M:%S') || ' ' ||
             event_type || ' ' ||
             CAST(CAST(floor(value) AS BIGINT) AS VARCHAR) AS line FROM events),
         f AS (SELECT line FROM l WHERE regexp_matches(line, 'click|view')),
         k AS (SELECT line, string_split(line, ' ')[2] || chr(0) || line AS k FROM f)
         SELECT CAST(row_number() OVER (ORDER BY k) AS BIGINT) AS pos, line
         FROM k"""),
    // IO ops gate-checked for content preservation: the op materializes a
    // new layout, the query returns the re-read rows, and the oracle is the
    // SOURCE table itself — a copy that drops/duplicates/mangles any row
    // hash-mismatches. Layout claims (file counts, partition dirs) live in
    // the IO specs; the gate proves the data survived.
    QuerySpec("distcp_relayout", (s, d) => {
      val out = QuerySpec.dumpDir("graft_relayout_dump")
      graft.sources.IO.relayout(s, s"$d/lineitem.parquet", out, Some("l_returnflag"))
      val cols = Tables.lineitem(s, d).columns
      readParquet(s, out).select(cols.head, cols.tail: _*)
    }, () => """SELECT * FROM lineitem"""),
    QuerySpec("compaction", (s, d) => {
      val frag = QuerySpec.dumpDir("graft_frag_dump")
      val out = QuerySpec.dumpDir("graft_compacted_dump")
      val ev = readParquet(s, s"$d/events.parquet")
      // many-small-files input: 64 part files of ⌈rows/64⌉ rows, each task
      // writing 64/tasks of them (maxRecordsPerFile rolls the file), so the
      // fixture costs one task per core instead of 64 one-file tasks. The
      // task count divides 64, so an even round-robin split of at least
      // 4,096 rows gives 64 files; fewer rows can give fewer.
      val tasks = Integer.highestOneBit(math.min(s.sparkContext.defaultParallelism, 64))
      ev.repartition(tasks).write.option("maxRecordsPerFile", (ev.count() + 63) / 64)
        .mode("overwrite").parquet(frag)
      graft.sources.IO.compact(s, frag, out)
      readParquet(s, out).select(ev.columns.head, ev.columns.tail: _*)
    }, () => """SELECT * FROM events"""),
  )
}
