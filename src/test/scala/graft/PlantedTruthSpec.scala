package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.ops.CorpusGen
import graft.queries.QuerySpec
import graft.tools.GenCorpus

/** Planted truth end to end: GenCorpus writes a small corpus dir with its
  * truth, Verify runs every query that declares a planted rule on it and
  * checks each rule on the output it wrote, and every rule fails on an
  * output corrupted the way its check guards against. */
class PlantedTruthSpec extends SparkSpecBase {
  private lazy val root = Files.createTempDirectory("graft_planted_").toString
  private lazy val corpus = {
    val dir = s"$root/corpus"
    GenCorpus.write(spark, dir, nDocs = 2000, nVecs = 2000)
    dir
  }
  private val ruled = QuerySpec.all.filter(_.planted.isDefined)
  private lazy val verified = Verify.run(spark, corpus, s"$root/out", ruled)

  private def truth(table: String) = spark.read.parquet(CorpusGen.truthPath(corpus, table))

  private def byAll(df: DataFrame): Seq[Column] = df.columns.toSeq.map(col)

  /** Drops the first output row whose two ends are a planted pair. */
  private def dropPlanted(table: String, a: String = "a_id", b: String = "b_id")
                         (out: DataFrame): DataFrame = {
    val t = truth(table)
    val planted = t.select(col("a_id").as(a), col("b_id").as(b))
      .union(t.select(col("b_id").as(a), col("a_id").as(b)))
    val hit = out.join(planted, Seq(a, b), "left_semi").orderBy(col(a), col(b)).limit(1)
    out.join(hit.select(a, b), Seq(a, b), "left_anti")
  }

  private def dropFirst(where: Column)(out: DataFrame): DataFrame =
    out.exceptAll(out.filter(where).orderBy(byAll(out): _*).limit(1))

  /** Rewrites column `c` of the first row matching `where`. */
  private def alter(c: String, f: Column => Column, where: Column = lit(true))
                   (out: DataFrame): DataFrame = {
    val first = out.filter(where).orderBy(byAll(out): _*).limit(1)
    out.exceptAll(first).unionByName(first.withColumn(c, f(col(c))))
  }

  /** Adds doc 0, which sits outside both survivor sides (a reference and an
    * existing document). */
  private def addDoc0(out: DataFrame): DataFrame =
    out.unionByName(spark.range(1).select(lit(0L).as("doc_id")))

  private val splitExactTwin: DataFrame => DataFrame = _
    .withColumn("keep", col("keep") || col("vec_id") === 1)
    .withColumn("group_id", when(col("vec_id") === 1, col("vec_id")).otherwise(col("group_id")))

  /** One corruption per query, at least one per check path of a shared rule. */
  private lazy val corruptions: Map[String, Seq[(String, DataFrame => DataFrame)]] = Map(
    "dedup_exact" -> Seq("drop a dup group" -> dropFirst(col("n_copies") === 2) _),
    "dedup_ngram_jaccard" -> Seq("drop a planted pair" -> dropPlanted("documents") _),
    "dedup_minhash_lsh" -> Seq("shift one jacc" -> alter("jacc", _ + 0.01) _),
    "dedup_jaccard_ppjoin" -> Seq("drop a planted pair" -> dropPlanted("documents") _),
    "dedup_substring" -> Seq(
      "drop an exact copy's full span" ->
        dropFirst(col("doc_id") % 10 < 2 && col("span_start") === 1) _,
      "drop a near copy's spans" -> ((out: DataFrame) => out.filter(col("doc_id") =!= 2))),
    "dedup_levenshtein" -> Seq("shift one dist" -> alter("dist", _ + 1) _),
    "dedup_simhash" -> Seq("drop a planted pair" -> dropPlanted("documents") _),
    "dedup_simhash_idf" -> Seq("shift one hamming" -> alter("hamming", _ + 1) _),
    "dedup_cross_jaccard" ->
      Seq("drop a planted straddler" -> dropPlanted("documents", "corpus_id", "ref_id") _),
    "dedup_cross_minhash" -> Seq("swap the sides of every pair" -> ((out: DataFrame) =>
      out.select(col("ref_id").as("corpus_id"), col("corpus_id").as("ref_id"), col("jacc")))),
    "decontaminate_neardup" -> Seq("add doc 0" -> addDoc0 _),
    "dedup_incremental" -> Seq("drop a survivor" -> dropFirst(lit(true)) _),
    "dedup_incremental_store" -> Seq("add doc 0" -> addDoc0 _),
    "dedup_paragraph" -> Seq("keep a paragraph of an exact copy" ->
      alter("n_dropped", _ - 1, col("doc_id") % 10 < 2) _),
    "unigram_token_count" ->
      Seq("zero one count" -> alter("n_unigram_tokens", _ => lit(0L), col("n_tokens") > 0) _),
    "embedding_neardup" -> Seq(
      "drop a planted pair" -> dropPlanted("embeddings") _,
      "shift one cos" -> alter("cos", _ + 0.01) _),
    "dedup_semantic" -> Seq("split an exact twin" -> splitExactTwin),
    "dedup_semantic_ann" -> Seq("flip one keep" -> alter("keep", !_) _),
    "kmeans_cluster" -> Seq("move an exact twin" ->
      alter("cluster", c => (c + 1) % 16, col("vec_id") === 1) _),
    "cluster_balanced_sample" -> Seq("repeat a rank" -> alter("rnk", _ + 1) _))

  test("Verify checks every declared planted rule on a GenCorpus dir, and every rule passes") {
    val (failed, verdicts) = verified
    assert(failed.isEmpty, failed)
    assert(verdicts.map(_._1) == ruled.map(_.name))
    verdicts.foreach { case (name, v) => assert(v.ok, s"$name: $v") }
    val record = Files.readString(Path.of(s"$root/out/planted_checks.json"))
    assert(record.contains("\"docs_fp\"") && record.contains("\"vecs\":2000"), record)
  }

  test("each planted rule fails on an output corrupted the way it guards against") {
    verified
    assert(corruptions.keySet == ruled.map(_.name).toSet)
    for (q <- ruled; ((label, corrupt), i) <- corruptions(q.name).zipWithIndex) {
      val badDir = s"$root/bad$i"
      corrupt(spark.read.parquet(s"$root/out/${q.name}"))
        .write.mode("overwrite").parquet(s"$badDir/${q.name}")
      val v = Verify.checkPlanted(spark, q, corpus, badDir)
      assert(v.exists(!_.ok), s"${q.name}, $label: $v")
    }
  }

  test("on a dir without truth files Verify runs no rule and writes no check record") {
    assert(ruled.forall(q => Verify.checkPlanted(spark, q, sfDir, s"$root/none").isEmpty))
    val out = s"$root/sf"
    val (failed, verdicts) = Verify.run(spark, sfDir, out, ruled.filter(_.name == "dedup_exact"))
    assert(failed.isEmpty && verdicts.isEmpty)
    assert(Files.exists(Path.of(s"$out/dedup_exact")))
    assert(!Files.exists(Path.of(s"$out/planted_checks.json")))
  }
}
