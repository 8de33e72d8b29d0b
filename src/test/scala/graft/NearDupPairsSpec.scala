package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.{CorpusGen, DedupOps, TextOps}

/** The shingle-family pair operators (n-gram inverted index, prefix
  * filter, MinHash-LSH, cross-corpus MinHash-LSH): outputs that must not
  * depend on how the input or the shuffles are split. */
class NearDupPairsSpec extends SparkSpecBase {

  /** Writes the planted-duplicate corpus (1,000 documents, stopword head)
    * once as one file and once as four, so a scan yields 1 or 4 partitions. */
  private def writeCorpus(root: String): Map[Int, String] = {
    val docs = CorpusGen.documents(spark, 1000, seed = 3L, stopFrac = 0.25)
    Seq(1, 4).map { n =>
      val dir = s"$root/split$n"
      docs.repartition(n).write.parquet(dir)
      n -> dir
    }.toMap
  }

  private def pairs(df: DataFrame): Seq[(Long, Long, Double)] =
    df.select(col("a_id"), col("b_id"), col("jacc")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq.sorted

  // The verifying ops persist their shingle relation hash-partitioned by
  // doc_id at the shuffle width, and their verify joins read it in place,
  // so co-partitioning rests on partition counts: widths 1 and 7 differ
  // from the session's 4 cores.
  test("ngramJaccardPairs, ngramJaccardPairsPrefix, minhashLshPairs and crossMinhashPairs " +
    "return the same rows whether the input arrives in one partition or four, " +
    "at 1 or 7 shuffle partitions") {
    // the reference side of the cross-corpus op: every third document
    def cross(d: DataFrame) = DedupOps.crossMinhashPairs(
        d.filter(col("doc_id") % 3 =!= 0), d.filter(col("doc_id") % 3 === 0))
      .select(col("corpus_id").as("a_id"), col("ref_id").as("b_id"), col("jacc"))
    val ops: Seq[(String, DataFrame => DataFrame)] = Seq(
      "ngramJaccardPairs" -> (d => DedupOps.ngramJaccardPairs(d)),
      "ngramJaccardPairsPrefix" -> (d => DedupOps.ngramJaccardPairsPrefix(d)),
      "minhashLshPairs" -> (d => DedupOps.minhashLshPairs(d)),
      "crossMinhashPairs" -> cross)
    val root = Files.createTempDirectory("graft_neardup_")
    val corpusDirs = writeCorpus(root.toString)
    val prior = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      ops.foreach { case (name, op) =>
        val results = for (split <- Seq(1, 4); shufflePartitions <- Seq(1, 7)) yield {
          spark.conf.set("spark.sql.shuffle.partitions", shufflePartitions.toString)
          val docs = spark.read.parquet(corpusDirs(split))
          assert(docs.rdd.getNumPartitions == split)
          val rows = pairs(op(docs))
          // the shingle relation is cached by plan: drop it so no case
          // reads another case's persisted partitions
          spark.catalog.clearCache()
          (split, shufflePartitions) -> rows
        }
        val (_, reference) = results.head
        assert(reference.size >= 100, s"$name: too few pairs to compare (${reference.size})")
        results.tail.foreach { case (c, rows) =>
          assert(rows == reference, s"$name at (input partitions, shuffle partitions) = $c " +
            s"differs from ${results.head._1}: ${rows.size} vs ${reference.size} rows")
        }
      }
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prior)
      org.apache.commons.io.FileUtils.deleteDirectory(root.toFile)
    }
  }

  test("hasTokens(text, n) holds exactly when text yields a non-empty n-shingle array") {
    import spark.implicits._
    val texts = Seq("", " ", "a", "a b", " a  b ", "a b c", "\ta\nb\rc ", "a\u00a0b c",
      "  x y  z  ", "one two three four", "x\u000By\fz", null)
    val df = texts.toDF("text")
    (1 to 4).foreach { n =>
      val got = df.select(col("text"),
          coalesce(TextOps.hasTokens(col("text"), n), lit(false)),
          coalesce(size(DedupOps.shinglesFromTokens(TextOps.tokens(col("text")), n)) > 0,
            lit(false)))
        .collect()
      got.foreach { r =>
        assert(r.getBoolean(1) == r.getBoolean(2), s"n=$n text=${Option(r.getString(0))}")
      }
    }
  }
}
