package graft

import org.apache.spark.sql.functions._
import graft.ops._

/** Round-9 curation additions: Gopher rule filter, cross-doc paragraph
  * (boilerplate) dedup, sliding-window chunking, Lloyd k-means. Each spec
  * pins the semantics against hand-computed expectations on synthetic
  * frames the test controls, plus the gate-corpus parity checks the DuckDB
  * oracle can't see (direct path == dump-recovery path). */
class CurationR9Spec extends SparkSpecBase {

  import spark.implicits._

  test("gopherRules: each rule flags exactly the documents it should") {
    val docs = Seq(
      // 60 short words: ok_words, mean len 1.0 -> !ok_mean_len, no stopwords
      (1L, Seq.fill(60)("w").mkString(" ")),
      // 50 words incl stopwords, mean length in band, all alphabetic
      (2L, (Seq.fill(24)("the") ++ Seq.fill(26)("table")).mkString(" ")),
      // 10 words only -> !ok_words
      (3L, Seq.fill(10)("value").mkString(" ")),
      // 55 words, 30 numeric -> alpha_frac 25/55 < 0.8
      (4L, (Seq.fill(30)("12345") ++ Seq.fill(25)("the")).mkString(" ")))
      .toDF("doc_id", "text")
    val got = TextAnalysis.gopherRules(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(got(1L).getAs[Boolean]("ok_words") && !got(1L).getAs[Boolean]("ok_mean_len")
      && !got(1L).getAs[Boolean]("ok_stop") && !got(1L).getAs[Boolean]("keep"))
    assert(got(2L).getAs[Boolean]("keep"), "doc 2 satisfies every rule")
    assert(got(2L).getAs[Double]("mean_word_len") == (24 * 3 + 26 * 5) / 50.0)
    assert(!got(3L).getAs[Boolean]("ok_words") && !got(3L).getAs[Boolean]("keep"))
    assert(!got(4L).getAs[Boolean]("ok_alpha") && got(4L).getAs[Double]("alpha_frac") == 0.454545)
  }

  test("dedupParagraphs: boilerplate spans drop from EVERY doc, uniques " +
    "survive in order, all-boilerplate docs stay with empty text") {
    val boiler = (1 to 10).map(i => s"b$i").mkString(" ") // one shared 10-token para
    val u = (o: Int) => (1 to 10).map(i => s"u${o}_$i").mkString(" ")
    val docs = Seq(
      (1L, s"$boiler ${u(1)}"),      // boiler + unique
      (2L, s"${u(2)} $boiler"),      // unique + boiler
      (3L, boiler),                  // all boilerplate
      (4L, u(4) + " tail words"))    // unique + partial final para
      .toDF("doc_id", "text")
    val got = DedupOps.dedupParagraphs(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(got(1L) == ((2L, 1L, u(1))))
    assert(got(2L) == ((2L, 1L, u(2))))
    assert(got(3L) == ((1L, 1L, "")), "no canonical owner: every copy drops")
    assert(got(4L) == ((2L, 0L, u(4) + " tail words")))
  }

  test("dedupParagraphs: within-doc repetition alone is NOT boilerplate") {
    val p = (1 to 10).map(i => s"x$i").mkString(" ")
    val docs = Seq((1L, s"$p $p"), (2L, (1 to 10).map(i => s"y$i").mkString(" ")))
      .toDF("doc_id", "text")
    val got = DedupOps.dedupParagraphs(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got(1L) == 0L, "minDocs counts DISTINCT docs, not occurrences")
  }

  test("chunkOverlap: window math — counts, overlap, partial tail, short doc") {
    val words = (1 to 81).map(i => s"t$i")
    val docs = Seq((1L, words.mkString(" ")), (2L, "solo doc")).toDF("doc_id", "text")
    val chunks = CurationPipeline.chunkOverlap(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getString(3)))).toMap
    // 81 tokens, size 32, stride 24 -> starts 0,24,48,72 (4 chunks)
    assert(chunks.keys.count(_._1 == 1L) == 4)
    assert(chunks((1L, 0L)) == ((32L, words.slice(0, 32).mkString(" "))))
    assert(chunks((1L, 1L)) == ((32L, words.slice(24, 56).mkString(" "))))
    assert(chunks((1L, 3L)) == ((9L, words.slice(72, 81).mkString(" "))), "partial tail kept")
    // consecutive chunks share size - stride = 8 tokens
    assert(words.slice(24, 32) == words.slice(24, 56).take(8))
    assert(chunks((2L, 0L)) == ((2L, "solo doc")), "short doc -> exactly one chunk")
    assert(chunks.keys.count(_._1 == 2L) == 1)
  }

  test("chunkOverlap: every token of every doc appears in some chunk") {
    val docs = Tables.documents(spark, sfDir)
    val lost = CurationPipeline.chunkOverlap(docs)
      .groupBy("doc_id").agg(max(col("chunk_id") * 24 + col("n_chunk_tokens")).as("covered"))
      .join(docs.select(col("doc_id"),
        size(TextOps.tokens(col("text"))).cast("long").as("n")), "doc_id")
      .filter(col("covered") < col("n")).count()
    assert(lost == 0)
  }

  test("kmeansCluster: assignment is the argmax-cos centroid; direct path " +
    "== centroid-relation recovery; Lloyd beats strided init") {
    val emb = Tables.embeddings(spark, sfDir)
    val cs = SimilarityOps.trainKmeans(emb)
    val direct = SimilarityOps.kmeansCluster(emb)
    val viaRel = SimilarityOps.assignFromCentroidRelation(emb,
      SimilarityOps.kmeansCentroidRelation(spark, cs))
    assert(direct.collect().map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq ==
      viaRel.collect().map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq)
    // recompute argmax in plain Scala from the same model
    val vecs = emb.collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { d += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i) }
      if (na == 0 || nb == 0) 0.0 else d / (math.sqrt(na) * math.sqrt(nb))
    }
    direct.collect().foreach { r =>
      val v = vecs(r.getLong(0))
      // the shared assignment rule: round-6 cosine desc, index asc
      val best = cs.indices.maxBy(i => (BigDecimal(cos(v, cs(i)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble, -i))
      assert(r.getInt(1) == best, s"vec ${r.getLong(0)} not argmax-assigned")
    }
    // Lloyd rounds should tighten (or at least not worsen) the mean
    // assignment cosine vs the raw strided init on this corpus
    val init = SimilarityOps.trainKmeans(emb, iters = 0)
    def meanCos(model: Array[Array[Float]]): Double = {
      val vs = vecs.values.toSeq
      vs.map(v => model.map(c => cos(v, c)).max).sum / vs.size
    }
    assert(meanCos(cs) >= meanCos(init) - 1e-9)
  }
}
