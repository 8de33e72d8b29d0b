package graft

import org.apache.spark.sql.functions._
import graft.ops._

/** BPE subword tokenization specs (Sennrich et al. 2016). The driver gate
  * oracle-checks the per-doc aggregation over the materialized word-encoding
  * relation; these specs pin the BPE loop itself: the hand-computable merge
  * sequence on the paper-style fixture, greedy-rank encoding, losslessness,
  * merge-count monotonicity, and training determinism. */
class BpeSpec extends SparkSpecBase {

  import spark.implicits._

  private def docs = Tables.documents(spark, sfDir)

  /** The paper's word-frequency fixture: low:5 lower:2 newest:6 widest:3. */
  private def fixture = {
    val words = Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")
    Seq((0L, words.mkString(" "))).toDF("doc_id", "text")
  }

  test("trainBpe learns the hand-computed merge sequence on the paper fixture") {
    val merges = TextAnalysis.trainBpe(fixture, numMerges = 5)
    // (e,s) f=9 beats (s,t</w>) f=9 lexicographically; then (es,t</w>) f=9;
    // (l,o) f=7; at f=6 the tie (e,w)/(n,e)/(w,est</w>) resolves to (e,w);
    // then (ew,est</w>) beats (n,ew) — "ew" < "n".
    assert(merges == Seq(("e", "s"), ("es", "t</w>"), ("l", "o"),
      ("e", "w"), ("ew", "est</w>")))
  }

  test("bpeEncode applies merges greedily by rank (lowest first)") {
    val merges = TextAnalysis.trainBpe(fixture, numMerges = 5)
    val out = TextAnalysis.bpeEncode(
      Seq((1L, "lowest newest")).toDF("doc_id", "text"), merges)
      .head().getSeq[String](1)
    assert(out == Seq("lo", "w", "est</w>", "n", "ewest</w>"))
  }

  test("bpe tokens are lossless: concatenation rebuilds the word stream") {
    val merges = TextAnalysis.trainBpe(docs, numMerges = 100)
    val joined = TextAnalysis.bpeEncode(docs, merges)
      .select(col("doc_id"), concat_ws("", col("bpe_tokens")).as("rebuilt"))
    val expected = docs.select(col("doc_id"),
      concat_ws("", transform(TextOps.tokens(col("text")),
        w => concat(w, lit("</w>")))).as("want"))
    assert(joined.join(expected, "doc_id")
      .filter(col("rebuilt") =!= col("want")).count() == 0)
  }

  test("more merges never increase the token count; bounds hold") {
    val few = TextAnalysis.trainBpe(docs, numMerges = 30)
    val many = TextAnalysis.trainBpe(docs, numMerges = 150)
    assert(many.take(30) == few, "merge learning is prefix-stable")
    val a = TextAnalysis.bpeTokenCount(docs, few)
      .select("doc_id", "n_bpe_tokens").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val b = TextAnalysis.bpeTokenCount(docs, many).collect()
    b.foreach { r =>
      val (id, nTok, nBpe) = (r.getLong(0), r.getLong(1), r.getLong(2))
      assert(nBpe <= a(id), "extending the merge table cannot add tokens")
      assert(nBpe >= nTok, "every word is at least one subword token")
    }
  }

  test("whole-text encoding equals per-word encoding recomposed (the " +
    "dump-path identity the oracle relies on)") {
    val merges = TextAnalysis.trainBpe(docs, numMerges = 100)
    val direct = TextAnalysis.bpeTokenCount(docs, merges)
      .select("doc_id", "n_bpe_tokens").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val perWord = docs
      .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("word"))
      .select(col("doc_id"),
        size(graft.functions.GraftFunctions.bpeEncode(col("word"), merges))
          .cast("long").as("n"))
      .groupBy("doc_id").agg(sum("n").as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(direct.filter(_._2 > 0) == perWord)
  }

  test("training is deterministic across runs") {
    val a = TextAnalysis.trainBpe(docs, numMerges = 60)
    val b = TextAnalysis.trainBpe(docs, numMerges = 60)
    assert(a == b && a.size == 60)
  }
}
