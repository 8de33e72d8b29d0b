package graft.perfbench

/** A workload: the queries one pass runs, and the query whose first run on
  * a fresh session, on the generated table set, is part of set-up. The
  * queries run on that table set, or with `corpus` on a `CorpusGen` corpus
  * made from the run's seed. */
final case class Workload(name: String, queries: Seq[String], setupQuery: String,
                          corpus: Boolean = false)

object Workloads {
  /** Fixed-cost-dominated mix: a stratified sample of the SparkEntry suite
    * (TPC-H, joins, windows over events, text, LLM-data ops, a builder that
    * writes files) on small tables, where build, planning and dispatch
    * dominate. */
  val suite = Workload("suite",
    Seq(
      "q1_pricing_summary", "q3_shipping_priority", "join_semi", "sessionize",
      "wordcount", "lang_id", "compaction"),
    setupQuery = "q1_pricing_summary")

  /** Candidate-generating near-duplicate operators on a planted-duplicate
    * corpus made from the seed: executor CPU in graft.functions kernels,
    * posting-list and band shuffles, persists. */
  val neardup = Workload("neardup",
    Seq("dedup_ngram_jaccard", "dedup_minhash_lsh"),
    setupQuery = "dedup_exact", corpus = true)

  val all: Seq[Workload] = Seq(suite, neardup)

  def byName(name: String): Workload = all.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload '$name' (known: ${all.map(_.name).mkString(", ")})"))
}
