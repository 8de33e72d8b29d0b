package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.functions.GraftFunctions
import graft.ops.{CorpusGen, DedupOps, TextOps}

/** Output checks of the pair operators on the planted-duplicate corpus that
  * hold for any seed, after tools/ScaleDedup:
  *  - every planted exact pair (g, g+1) is emitted;
  *  - every emitted pair's Jaccard value matches a direct recomputation
  *    from the corpus.
  * `check` takes a query's output already cached, and returns its row count
  * and the first problem found, if any. */
final class CorpusChecks(spark: SparkSession, dir: String) {
  private lazy val docs = spark.read.parquet(s"$dir/documents.parquet")
  private lazy val exactPairs = CorpusGen.plantedPairs(spark, docs.count())
    .filter(col("kind") === "exact").select(col("a_id"), col("b_id"))
    .persist(StorageLevel.MEMORY_AND_DISK)
  private lazy val shingleHashes = docs
    .select(col("doc_id"), array_sort(transform(
      DedupOps.shinglesFromTokens(TextOps.tokens(col("text"))), x => xxhash64(x))).as("hv"))
    .persist(StorageLevel.MEMORY_AND_DISK)

  private def side(key: String, as: String, vAs: String): DataFrame =
    shingleHashes.select(col(key).as(as), col("hv").as(vAs))

  def check(out: DataFrame): (Long, Option[String]) = {
    val rows = out.count()
    val missed = exactPairs.join(out, Seq("a_id", "b_id"), "left_anti").count()
    val bad = out
      .join(side("doc_id", "a_id", "ha"), "a_id")
      .join(side("doc_id", "b_id", "hb"), "b_id")
      .withColumn("inter", GraftFunctions.sortedIntersectCount(col("ha"), col("hb")))
      .withColumn("j2", round(col("inter") /
        (size(col("ha")) + size(col("hb")) - col("inter")), 6))
      .filter(col("j2") =!= col("jacc")).count()
    val problem =
      if (missed > 0) Some(s"$missed of ${exactPairs.count()} planted exact pairs missed")
      else if (bad > 0) Some(s"$bad pairs whose recomputed Jaccard differs")
      else None
    (rows, problem)
  }
}
