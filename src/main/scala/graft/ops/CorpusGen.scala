package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions

/** Deterministic planted-duplicate corpus generation at any scale — the
  * dedup/ANN analog of DataGen (TeraGen-style: rows are pure functions of
  * their id; see graft.functions.SyntheticCorpus for the planting scheme
  * and distribution design).
  *
  * Output schemas match the driver testdata exactly (documents:
  * doc_id/text/lang/source/n_chars; embeddings: vec_id/embedding/label),
  * so every dedup/similarity operator runs on generated corpora unchanged.
  * `plantedPairs` emits the closed-form ground-truth duplicate relation
  * that planted rules (graft.queries.Planted) check recall against. */
object CorpusGen {

  /** n synthetic documents with planted duplicate groups (see
    * SyntheticCorpus: per group of 10 ids — base, exact copy, near copy,
    * 7 independents). `stopFrac` > 0 adds the global stopword head (real-
    * text df shape — the prefix-filter benchmarking regime); the default
    * 0.0 is bit-identical to the historical corpora. */
  def documents(spark: SparkSession, n: Long, vocab: Int = 50000,
                seed: Long = 6L, numPartitions: Int = 64,
                stopFrac: Double = 0.0): DataFrame = {
    spark.range(0, n, 1, numPartitions)
      .select(col("id").as("doc_id"),
        GraftFunctions.syntheticDocText(col("id"), vocab, seed, stopFrac).as("text"))
      .withColumn("lang", lit("en"))
      // source VALUES follow the driver corpus's "src<N>" naming, not just
      // its schema: mixture/curation operators (and their oracles) parse
      // the source index at a fixed offset (TextAnalysis.mixtureKeep,
      // substr(source, 4)) — the old "synth<N>" spelling made every
      // source-parsing query fail on generated corpora (found by the r12
      // sf10 sweep: CAST_INVALID_INPUT on 'th15').
      .withColumn("source", concat(lit("src"), pmod(col("doc_id"), lit(20))))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  /** n synthetic embeddings around nClusters well-separated centers with
    * planted exact/near duplicate vectors (same group scheme as documents;
    * label = cluster id is NOT emitted — the driver schema's label is an
    * opaque int, kept as the group role for debuggability). */
  def embeddings(spark: SparkSession, n: Long, dim: Int = 64,
                 nClusters: Int = 2000, seed: Long = 6L,
                 numPartitions: Int = 64): DataFrame = {
    spark.range(0, n, 1, numPartitions)
      .select(col("id").as("vec_id"),
        GraftFunctions.syntheticEmbedding(col("id"), dim, nClusters, seed).as("embedding"),
        pmod(col("id"), lit(10)).cast("int").as("label"))
  }

  /** Closed-form planted ground truth: for every complete group of 10 ids,
    * the pairs (g, g+1, exact), (g, g+2, near), (g+1, g+2, near). All other
    * id pairs are independent draws (their similarity under any of the
    * dedup measures is a coin-flip tail event, checked empirically by the
    * planted rules' soundness half, not planted). */
  def plantedPairs(spark: SparkSession, n: Long): DataFrame = {
    val g = spark.range(0, n, 10, 16).select(col("id").as("g"))
      .filter(col("g") + 2 < n)
    g.select(explode(array(
        struct(col("g").as("a_id"), (col("g") + 1).as("b_id"), lit("exact").as("kind")),
        struct(col("g").as("a_id"), (col("g") + 2).as("b_id"), lit("near").as("kind")),
        struct((col("g") + 1).as("a_id"), (col("g") + 2).as("b_id"), lit("near").as("kind"))))
        .as("p"))
      .select(col("p.a_id"), col("p.b_id"), col("p.kind"))
  }

  /** Where GenCorpus writes `table`'s planted pairs, next to the table. */
  def truthPath(dir: String, table: String): String = s"$dir/${table}_truth.parquet"
}
