package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions
import graft.functions.GraftFunctions.cosineSim
import graft.ops.TextOps

/** Reference implementations that specs compare an operator against. No
  * query runs them, so they live with the specs. */
object SpecReferences {

  /** The quadratic all-pairs baseline of [[graft.ops.SimilarityOps.embeddingNearDup]]:
    * the bucketed form is the operator; this one exists to prove it exact. */
  def embeddingNearDupAllPairs(spark: SparkSession, emb: DataFrame, tau: Double = 0.4): DataFrame = {
    val a = emb.select(col("vec_id").as("a_id"), col("embedding").as("ea"))
    val b = emb.select(col("vec_id").as("b_id"), col("embedding").as("eb"))
    a.join(b, col("a_id") < col("b_id"))
      .withColumn("cos", round(cosineSim(col("ea"), col("eb")), 5))
      .filter(col("cos") >= tau)
      .select(col("a_id"), col("b_id"), col("cos"))
  }

  /** Mean logistic loss + accuracy of `w` on a
    * [[graft.ops.Classifier.hashedFeatures]] relation — the spec's
    * convergence/quality probe of `trainLogReg` (one shuffle-free pass). */
  def evaluate(feats: DataFrame, d: Int, w: Array[Double]): (Double, Double) = {
    val spark = feats.sparkSession
    import spark.implicits._
    val ds = feats.groupBy(col("doc_id"), col("y"))
      .agg(sort_array(collect_list(struct(col("idx"), col("v")))).as("fv"))
      .select(col("y").cast("double").as("y"),
        expr("transform(fv, p -> p.idx)").as("idx"),
        expr("transform(fv, p -> p.v)").as("v"))
      .as[(Double, Array[Int], Array[Double])]
    val bw = spark.sparkContext.broadcast(w)
    val (loss, correct, n) = ds.mapPartitions { rows =>
      val wv = bw.value
      var loss = 0.0; var correct = 0L; var n = 0L
      rows.foreach { case (y, idx, v) =>
        var m = wv(wv.length - 1)
        var i = 0
        while (i < idx.length) { m += wv(idx(i)) * v(i); i += 1 }
        val p = 1.0 / (1.0 + math.exp(-m))
        loss += (if (y > 0.5) -math.log(math.max(p, 1e-15))
                 else -math.log(math.max(1.0 - p, 1e-15)))
        if ((m > 0) == (y > 0.5)) correct += 1
        n += 1
      }
      Iterator((loss, correct, n))
    }.collect().foldLeft((0.0, 0L, 0L)) { case ((a, b, c), (x, y, z)) =>
      (a + x, b + y, c + z)
    }
    bw.destroy()
    (loss / math.max(1, n), correct.toDouble / math.max(1, n))
  }

  /** The pre-r10 regroup form of [[graft.ops.DedupOps.dedupParagraphs]] — identical output,
    * kept as the spec's identity reference: it shuffles the full framed
    * paragraph text twice (boiler join keyed on the paragraph string, then
    * a corpus-wide groupBy(doc_id).collect_list rebuild), which is the
    * shape the r10 rewrite exists to avoid at 100 TB. */
  def dedupParagraphsRegroup(docs: DataFrame, paraWords: Int = 10,
                             minDocs: Int = 2): DataFrame = {
    require(paraWords >= 1 && minDocs >= 2)
    val w = TextOps.tokens(col("text"))
    val framed = docs
      .select(col("doc_id"), w.as("w")).withColumn("n", size(col("w")))
      .filter(col("n") > 0)
      .select(col("doc_id"), posexplode(transform(
          sequence(lit(0), floor((col("n") + (paraWords - 1)) / paraWords).cast("int") - 1),
          i => array_join(slice(col("w"), i * paraWords + 1, lit(paraWords)), " ")))
        .as(Seq("idx", "para")))
      .withColumn("h", xxhash64(col("para")))
    val candHashes = framed.select(col("h"), col("doc_id")).distinct()
      .groupBy(col("h")).agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= minDocs).select(col("h"))
    val boiler = framed.join(candHashes, Seq("h"), "left_semi")
      .select(col("para"), col("doc_id")).distinct()
      .groupBy(col("para")).agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= minDocs).select(col("para"), lit(1).as("is_dup"))
    framed.join(boiler, Seq("para"), "left")
      .withColumn("is_dup", coalesce(col("is_dup"), lit(0)))
      .groupBy(col("doc_id")).agg(
        count(lit(1)).cast("long").as("n_paras"),
        sum(col("is_dup")).cast("long").as("n_dropped"),
        array_join(transform(
          array_sort(collect_list(when(col("is_dup") === 0,
            struct(col("idx"), col("para"))))),
          s => s.getField("para")), " ").as("text_clean"))
  }
}
