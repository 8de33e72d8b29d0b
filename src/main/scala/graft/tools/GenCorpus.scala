package graft.tools

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
  * CPU-heavy per-row ops real scan parallelism — see scaleup.py).
  */
object GenCorpus {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: GenCorpus <outDir> <nDocs> <nVecs> [vocab] [stopFrac]")
    val dir = args(0)
    val nDocs = args(1).toLong
    val nVecs = args(2).toLong
    val vocab = if (args.length > 3) args(3).toInt else 50000
    val stopFrac = if (args.length > 4) args(4).toDouble else 0.25
    val spark = graft.GraftSessions.local(graft.GraftEnv.cpus(32))
    def filesFor(n: Long): Int = math.max(1, math.min(4096, (n / 4096L).toInt))
    CorpusGen.documents(spark, nDocs, vocab = vocab, stopFrac = stopFrac)
      .repartition(filesFor(nDocs))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    CorpusGen.embeddings(spark, nVecs)
      .repartition(filesFor(nVecs))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    println(s"GenCorpus: $nDocs docs (vocab $vocab, stopFrac $stopFrac), $nVecs vecs -> $dir")
    spark.stop()
  }
}
