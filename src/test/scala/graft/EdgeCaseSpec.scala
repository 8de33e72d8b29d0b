package graft

import org.apache.spark.sql.functions._
import graft.ops._
import graft.plans.TopK

/** Degenerate-input behavior: empty corpora, sub-shingle docs, total
  * duplication. (Minimal in-test frames; the oracle gate covers real data.) */
class EdgeCaseSpec extends SparkSpecBase {

  private def docsDf(rows: Seq[(Long, String)]) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  test("text/dedup ops on an empty corpus return empty, not errors") {
    val empty = docsDf(Nil)
    assert(TextOps.wordCount(empty).count() == 0)
    assert(DedupOps.dedupExact(empty).count() == 0)
    assert(DedupOps.ngramJaccardPairs(empty).count() == 0)
    assert(DedupOps.minhashLshPairs(empty).count() == 0)
    assert(DedupOps.simhashPairs(empty).count() == 0)
    assert(TextAnalysis.langId(empty).count() == 0)
  }

  test("round-2 ops on empty/degenerate inputs return empty, not errors") {
    import spark.implicits._
    val empty = docsDf(Nil)
    assert(DedupOps.dedupGroups(empty).count() == 0)
    assert(DedupOps.connectedComponents(
      Seq.empty[(Long, Long)].toDF("a_id", "b_id")).count() == 0)
    assert(TextAnalysis.tfidfTopTerms(empty).count() == 0)
    assert(TextAnalysis.ngramCounts(empty).count() == 0)
    assert(TextAnalysis.piiScrub(empty).count() == 0)
    assert(CurationPipeline.packSequences(empty).count() == 0)
    // empty embedding table: every ANN/near-dup path returns empty, no crash
    val emptyEmb = Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding")
    assert(SimilarityOps.embeddingNearDup(spark, emptyEmb).count() == 0)
    assert(SimilarityOps.ivfTopK(emptyEmb).count() == 0)
    assert(SimilarityOps.annLshTopK(emptyEmb).count() == 0)
    // non-convergence on the DISTRIBUTED loop is an error, never a silently
    // partial grouping (localEdgeMax = 0 disarms the r12 driver union-find
    // fast path, which solves any in-budget graph without iterating)
    val longPath = (1L until 12L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    intercept[IllegalStateException] {
      DedupOps.connectedComponents(longPath, maxIter = 2, localEdgeMax = 0L)
    }
    // empty benchmark → nothing is contaminated, whole corpus survives
    val corpus = docsDf(Seq((1L, "alpha beta gamma delta")))
    assert(CurationPipeline.decontaminate(corpus, empty).count() == 1)
    // single-doc corpus: its own group, seq 0
    val one = docsDf(Seq((5L, "just one doc")))
    val g = DedupOps.dedupGroups(one).head
    assert(g.getLong(0) == 5L && g.getLong(1) == 5L)
    val p = CurationPipeline.packSequences(one).head
    assert(p.getLong(2) == 0L)
  }

  test("docs shorter than the shingle width produce no pairs but survive") {
    val tiny = docsDf(Seq((1L, "one two"), (2L, "a"), (3L, "")))
    assert(DedupOps.ngramJaccardPairs(tiny).count() == 0)
    assert(DedupOps.minhashLshPairs(tiny).count() == 0)
    assert(TextOps.wordCount(tiny).agg(sum("n")).head.getLong(0) == 3)
  }

  test("fully duplicated corpus: every pair found at jaccard 1.0") {
    val text = "alpha beta gamma delta epsilon zeta eta theta"
    val dup = docsDf((1L to 4L).map(i => (i, text)))
    val exact = DedupOps.dedupExact(dup).head
    assert(exact.getAs[Long]("n_copies") == 4L)
    val lsh = DedupOps.minhashLshPairs(dup, tau = 0.8).collect()
    assert(lsh.length == 6 && lsh.forall(_.getAs[Double]("jacc") == 1.0)) // C(4,2)
    val sim = DedupOps.simhashPairs(dup).collect()
    assert(sim.length == 6 && sim.forall(_.getAs[Int]("hamming") == 0))
  }

  test("TopK.perGroup on empty input and k=1") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Double)].toDF("g", "v")
    assert(TopK.perGroup(empty, Seq("g"), Seq(empty("v").desc), 3).count() == 0)
    val one = Seq((1L, 2.0), (1L, 5.0), (2L, 1.0)).toDF("g", "v")
    val top1 = TopK.perGroup(one, Seq("g"), Seq(one("v").desc), 1)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(top1 == Set((1L, 5.0), (2L, 1.0)))
  }

  test("sessionize on empty events") {
    import spark.implicits._
    val empty = Seq.empty[(Long, java.sql.Timestamp, Long, String, Double)]
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    assert(AggOps.sessionize(empty).count() == 0)
  }
}
