package graft.tools

import org.apache.spark.sql.SparkSession

import graft.ops.CorpusGen

/** Materialize a realistic-vocabulary synthetic documents/embeddings family
  * for suite-scale benchmarking — the generator-mode fix for the one thing
  * scripts/scaleup.py cannot do soundly: the driver corpus has a 31-word
  * vocabulary, so its shingle space saturates (df grows linearly with the
  * corpus, df p99/p50 = 1.3 — NOTES_PERF r11 corpus profile) and every
  * exact token-level pair op goes quadratic for reasons that are a DATA
  * ARTIFACT, not a plan property; rotation-replication is bounded at 31×
  * for the same reason. graft.ops.CorpusGen (TeraGen-style: rows are pure
  * functions of id; Zipf(1) over a 50 k-word vocabulary with per-doc
  * hashed topics; planted duplicate groups in closed form — reference
  * analog terasort/TeraGen.java:1) has neither problem, so a documents/
  * embeddings family generated here benchmarks the operators in the regime
  * prefix filtering exists for: rare shingles exist, df is Zipf-shaped,
  * posting lists are short.
  *
  * Usage: GenCorpus <outDir> <nDocs> <nVecs> [vocab=50000] [stopFrac=0.25]
  * stopFrac > 0 (the default here) adds the GLOBAL stopword head
  * (SyntheticCorpus.StopVocab words shared by every doc, like real text's
  * "the/of/and" mass) — without it the per-topic remap leaves no high-df
  * shingles and the prefix filter has nothing to select against (measured:
  * ~2x at stopFrac 0; the historical /tmp/graft_scale corpora are the
  * stopFrac-0 stream and stay byte-identical).
  *
  * Writes <outDir>/documents.parquet and <outDir>/embeddings.parquet with
  * the driver testdata schemas and the scaleup.py file-size convention
  * (~4 k rows per file on these families, so byte-range splitting gives the
  * CPU-heavy per-row ops real scan parallelism — see scaleup.py), and next
  * to each its planted truth (CorpusGen.plantedPairs at that table's row
  * count, under CorpusGen.truthPath). The dir then carries its own truth:
  * graft.Bench times the queries on it, and graft.Verify checks each
  * query's planted rule against the truth.
  */
object GenCorpus {
  private val Usage = "usage: GenCorpus <outDir> <nDocs> <nVecs> [vocab=50000] [stopFrac=0.25]"

  def main(args: Array[String]): Unit = {
    val parsed = scala.util.Try((args(0), args(1).toLong, args(2).toLong,
      if (args.length > 3) args(3).toInt else 50000,
      if (args.length > 4) args(4).toDouble else 0.25)).toOption
    require(args.length <= 5 && parsed.exists { case (_, nDocs, nVecs, vocab, stopFrac) =>
      nDocs >= 0 && nVecs >= 0 && vocab >= 1 && stopFrac >= 0 && stopFrac <= 1 }, Usage)
    val (dir, nDocs, nVecs, vocab, stopFrac) = parsed.get
    val spark = graft.GraftSessions.local(graft.GraftEnv.cpus(32))
    write(spark, dir, nDocs, nVecs, vocab, stopFrac)
    println(s"GenCorpus: $nDocs docs (vocab $vocab, stopFrac $stopFrac), $nVecs vecs -> $dir")
    spark.stop()
  }

  /** Writes the two tables and their truth under `dir` (see the object doc). */
  def write(spark: SparkSession, dir: String, nDocs: Long, nVecs: Long,
            vocab: Int = 50000, stopFrac: Double = 0.25): Unit = {
    def filesFor(n: Long): Int = math.max(1, math.min(4096, (n / 4096L).toInt))
    CorpusGen.documents(spark, nDocs, vocab = vocab, stopFrac = stopFrac)
      .repartition(filesFor(nDocs))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    CorpusGen.embeddings(spark, nVecs)
      .repartition(filesFor(nVecs))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    for ((table, n) <- Seq("documents" -> nDocs, "embeddings" -> nVecs))
      CorpusGen.plantedPairs(spark, n).coalesce(1)
        .write.mode("overwrite").parquet(CorpusGen.truthPath(dir, table))
  }
}
