package graft

import org.apache.spark.sql.functions._
import graft.ops._

/** Round-9 batch 3: persisted IVF index (build-once / query-many) and
  * corpus snapshot diff. The IVF specs
  * recompute the probe-restricted ground truth in plain Scala from the
  * index the ops themselves persisted, so the equivalence is exact, and
  * pin the partition-pruning claim on the physical plan. */
class CurationR9cSpec extends SparkSpecBase {

  import spark.implicits._

  private def cos(a: Array[Float], b: Array[Float]): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0
    for (i <- a.indices) { d += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i) }
    if (na == 0 || nb == 0) 0.0 else d / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Exact top-k over the persisted index restricted to each query's probe
    * buckets — the ground truth ivfQueryIndex must equal, recomputed from
    * the persisted relations in plain Scala. */
  private def probeRestrictedTopK(dir: String,
      queries: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Double, Long)] = {
    val postings = SimilarityOps.readIndexPostings(spark, dir)
      .select("vec_id", "embedding", "bucket").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getInt(2)))
    val probes = SimilarityOps.ivfIndexProbes(spark, dir, queries)
      .select("q_id", "bucket").collect()
      .map(r => (r.getLong(0), r.getInt(1))).groupBy(_._1)
      .map { case (q, bs) => q -> bs.map(_._2).toSet }
    val qVecs = queries.collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    qVecs.keys.flatMap { q =>
      val cand = postings.filter(p => probes(q).contains(p._3) && p._1 != q)
        .map(p => (p._1, BigDecimal(cos(qVecs(q), p._2))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
      cand.sortBy { case (nId, c) => (-c, nId) }.take(5).zipWithIndex
        .map { case ((nId, c), i) => (q, nId, c, (i + 1).toLong) }
    }.toSeq.sorted
  }

  private def wipe(dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
  }

  test("ivfWriteIndex/ivfQueryIndex: results == probe-restricted exact " +
    "top-k from the persisted postings; postings scan is partition-pruned") {
    val dir = "/tmp/graft_test_ivf_index"
    wipe(dir)
    val emb = Tables.embeddings(spark, sfDir)
    val queries = emb.filter(col("vec_id") < 10)
    SimilarityOps.ivfWriteIndex(spark, emb, dir)
    val got = SimilarityOps.ivfQueryIndex(spark, dir, queries)
    val gotRows = got.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSeq.sorted
    assert(gotRows == probeRestrictedTopK(dir, queries))
    // the pruning claim: the postings scan carries an explicit partition
    // filter on bucket (the static isin), not a full-index scan
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("bucket"),
      "postings scan must be partition-pruned on bucket")
  }

  test("corpusDiff: added/removed/changed classified exactly; unchanged " +
    "rows never reach the output") {
    val old = Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma"), (4L, "delta"))
      .toDF("doc_id", "text")
    val nw = Seq((1L, "alpha"), (2L, "beta EDITED"), (4L, "delta"), (9L, "new doc"))
      .toDF("doc_id", "text")
    val got = CurationPipeline.corpusDiff(old, nw).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.isNullAt(2), r.isNullAt(3)))).toMap
    assert(got.keySet == Set(2L, 3L, 9L), "unchanged docs 1 and 4 excluded")
    assert(got(2L) == (("changed", false, false)))
    assert(got(3L) == (("removed", false, true)))
    assert(got(9L) == (("added", true, false)))
  }
}
