package graft

import org.apache.spark.sql.functions._
import graft.ops._

/** Cross-module integration: the curation pipeline's survivor invariants and
  * the multimodal→similarity hand-off (media features as vectors through the
  * ANN kernel). */
class PipelineIntegrationSpec extends SparkSpecBase {

  private def docs = Tables.documents(spark, sfDir)

  test("curation survivors: high-quality, canonical, near-dup-free") {
    val out = CurationPipeline.curate(docs)
    val survivors = out.collect()
    assert(survivors.nonEmpty && survivors.forall(_.getAs[Double]("quality") >= 0.5))
    val ids = survivors.map(_.getAs[Long]("doc_id")).toSet
    // no surviving near-dup pair: for every jacc>=0.8 pair at most the
    // smaller id survives
    val pairs = DedupOps.ngramJaccardPairs(docs, tau = 0.8).collect()
    pairs.foreach { p =>
      assert(!ids.contains(p.getAs[Long]("b_id")),
        s"near-dup loser ${p.getAs[Long]("b_id")} survived")
    }
    // canonical: survivors are the min doc_id of their content hash
    val canon = DedupOps.dedupExact(docs)
      .select(col("canonical_id")).collect().map(_.getLong(0)).toSet
    assert(ids.subsetOf(canon))
  }

  test("curateWithCounters: stage counters ride the one materializing action") {
    val (out, inObs, outObs) = CurationPipeline.curateWithCounters(docs)
    val survivors = out.count()
    assert(inObs.get("input_rows").asInstanceOf[Long] == docs.count())
    assert(outObs.get("survivor_rows").asInstanceOf[Long] == survivors)
    assert(outObs.get("survivor_tokens").asInstanceOf[Long] > 0L)
  }

  test("piiScrub: emails, SSNs and phone runs redacted; counts match") {
    import spark.implicits._
    val pii = Seq(
      (1L, "contact me at alice.smith+spam@example.co.uk today"),
      (2L, "ssn 123-45-6789 and phone +1 (555) 123-4567 on file"),
      (3L, "clean document with no identifiers at all"),
      (4L, "two mails a@b.io c@d.org")).toDF("doc_id", "text")
    val out = TextAnalysis.piiScrub(pii).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(out(1L)._1 == "contact me at <EMAIL> today" && out(1L)._2 == 1L)
    // sequential counting: the SSN must NOT double-count as a phone run
    assert(out(2L) == ("ssn <SSN> and phone <PHONE> on file", 2L))
    assert(out(3L) == ("clean document with no identifiers at all", 0L))
    assert(out(4L)._1 == "two mails <EMAIL> <EMAIL>" && out(4L)._2 == 2L)
  }

  test("packSequences: seq_id is the exact global token cumsum at ANY partition count") {
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    val counts = (0L until 200L).map(i => (i, 1 + rnd.nextInt(40)))
    val synth = counts.map { case (i, n) => (i, Seq.fill(n)("w").mkString(" ")) }
      .toDF("doc_id", "text")
    val expected = {
      var cum = 0L
      counts.map { case (i, n) => val s = cum / 512L; cum += n; i -> s }.toMap
    }
    Seq(3, 7, 32).foreach { p =>
      val got = CurationPipeline.packSequences(synth, 512L, p)
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
      assert(got == expected, s"partition count $p changed packing")
    }
  }

  test("decontaminate: docs overlapping the benchmark set are dropped, others kept") {
    import spark.implicits._
    val bench = Seq((100L, "alpha beta gamma delta epsilon zeta eta theta")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"), // 6 shared 3-grams
      (2L, "totally different words nothing in common here at all"),
      (3L, "alpha beta gamma unrelated tail keeps overlap below threshold"))
      .toDF("doc_id", "text")
    val kept = CurationPipeline.decontaminate(corpus, bench, minOverlap = 5)
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 3L), s"got $kept")
  }

  test("multimodal features flow into the similarity kernel") {
    // stub feature extraction: byte histogram over the media payload as a
    // float vector — the real pipeline would emit a model embedding here
    val media = MultimodalOps.asMediaRecords(spark, docs)
    import spark.implicits._
    val feats = media.map { m =>
      val hist = new Array[Float](16)
      m.bytes.foreach(b => hist((b & 0xff) % 16) += 1f)
      (m.media_id, hist)
    }.toDF("vec_id", "embedding")
    val pairs = SimilarityOps.embeddingNearDup(spark, feats, tau = 0.999)
    // byte histograms of same-vocabulary docs are highly aligned; the point
    // is the schema/kernel compatibility, not the threshold
    assert(pairs.columns.toSeq == Seq("a_id", "b_id", "cos"))
    assert(pairs.count() >= 0)
    val topk = SimilarityOps.bruteForceTopK(feats, nQueries = 3, k = 2)
    assert(topk.groupBy("q_id").count().collect().forall(_.getLong(1) == 2))
  }
}
