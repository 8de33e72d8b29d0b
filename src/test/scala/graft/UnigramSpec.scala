package graft

import org.apache.spark.sql.functions._
import graft.functions.{GraftFunctions, UnigramTrainer}
import graft.ops.{TextAnalysis, TextOps}

/** Specs for the unigram-LM (SentencePiece-style) tokenizer: Viterbi
  * optimality on hand-computed models, losslessness, trainer properties,
  * determinism, and the dump-path identity the gate oracle relies on. */
class UnigramSpec extends SparkSpecBase {

  private lazy val docs = Tables.documents(spark, sfDir)

  private def encode(text: String, model: Seq[(String, Double)]): Seq[String] = {
    import spark.implicits._
    Seq(text).toDF("text")
      .select(GraftFunctions.unigramEncode(col("text"), model).as("p"))
      .collect().head.getSeq[String](0)
  }

  test("Viterbi picks the max-likelihood segmentation (hand-computed)") {
    // p(ab) = 0.25 beats p(a)p(b) = 0.5 * 0.2 = 0.1
    val rich = Seq("a" -> math.log(0.5), "b" -> math.log(0.2), "ab" -> math.log(0.25))
    assert(encode("ab", rich) == Seq("ab"))
    // p(ab) = 0.04 loses to p(a)p(b) = 0.1
    val poor = Seq("a" -> math.log(0.5), "b" -> math.log(0.2), "ab" -> math.log(0.04))
    assert(encode("ab", poor) == Seq("a", "b"))
    // multi-word text segments per word; unknown char falls back to itself
    assert(encode("ab z ab", rich) == Seq("ab", "z", "ab"))
  }

  test("unigram tokens are lossless: concatenation rebuilds the word stream") {
    val model = TextAnalysis.trainUnigram(docs.limit(200))
    val bad = TextAnalysis.unigramEncode(docs, model)
      .join(docs.select(col("doc_id"), col("text")), "doc_id")
      .select(col("doc_id"),
        concat_ws("", col("unigram_tokens")).as("rebuilt"),
        regexp_replace(col("text"), "\\s+", "").as("squashed"))
      .filter(col("rebuilt") =!= col("squashed")).count()
    assert(bad == 0, s"$bad docs fail unigram losslessness")
  }

  test("trainer: coverage, vocab bound, frequent substrings become pieces") {
    val vocab = Array(("abcabc", 50L), ("abcx", 30L), ("yabc", 20L), ("zz", 5L))
    val model = UnigramTrainer.learn(vocab, vocabSize = 12, maxPieceLen = 4)
    val pieces = model.map(_._1).toSet
    // every single character of the dictionary is covered
    assert(Set("a", "b", "c", "x", "y", "z").subsetOf(pieces))
    // the dominant substring survives pruning as its own piece
    assert(pieces.contains("abc"), s"'abc' not in $pieces")
    // probabilities are a (log) distribution over used pieces
    val mass = model.map { case (_, q) => math.exp(q) }.sum
    assert(mass <= 1.0 + 1e-9 && mass > 0.5, s"prob mass $mass")
    // and the trained model actually uses it — "abcabc" factors into the
    // frequent piece; "abcx" is itself a frequent dictionary word and so
    // (correctly, the SentencePiece behavior) stays ONE piece
    assert(encode("abcabc abcx", model) == Seq("abc", "abc", "abcx"))
  }

  test("training is deterministic; token counts bounded by char count") {
    val m1 = TextAnalysis.trainUnigram(docs.limit(120))
    val m2 = TextAnalysis.trainUnigram(docs.limit(120))
    assert(m1 == m2, "two identical trainings diverged")
    val rows = TextAnalysis.unigramTokenCount(docs.limit(100), m1)
      .join(docs.select(col("doc_id"), length(regexp_replace(col("text"), "\\s+", ""))
        .cast("long").as("n_chars_sq")), "doc_id").collect()
    rows.foreach { r =>
      val (nTok, nUni, nChars) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(nUni >= nTok, "a word is at least one piece")
      assert(nUni <= nChars, "pieces can never outnumber characters")
    }
  }

  test("dump-path identity: per-word encodings joined on tokens rebuild " +
       "the per-doc counts exactly (the oracle's contract)") {
    val model = TextAnalysis.trainUnigram(docs)
    val perWord = docs.select(explode(TextOps.tokens(col("text"))).as("word")).distinct()
      .select(col("word"),
        size(GraftFunctions.unigramEncode(col("word"), model)).cast("long").as("n_sub"))
    val viaJoin = docs.select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("word"))
      .join(perWord, "word")
      .groupBy(col("doc_id")).agg(sum(col("n_sub")).as("n"))
    val direct = TextAnalysis.unigramTokenCount(docs, model)
      .select(col("doc_id"), col("n_unigram_tokens").as("n2"))
    val bad = viaJoin.join(direct, "doc_id").filter(col("n") =!= col("n2")).count()
    assert(bad == 0, s"$bad docs: word-relation recomposition != whole-text encoding")
  }
}
