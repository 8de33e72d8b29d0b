package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

/** graft's stateless predicates and its SpaceSaving aggregate run unchanged
  * over Structured Streaming sources, equal to their batch form; and a
  * file sink restarted from its checkpoint does not reprocess input. */
class StreamingSpec extends SparkSpecBase {

  test("SpaceSaving sketch aggregates incrementally in a streaming query") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[String]
    val q = input.toDF().select(org.apache.spark.sql.functions.col("value").as("w"))
      .groupBy()
      .agg(org.apache.spark.sql.functions.expr("spacesaving_topk(w, 8)").as("top"))
      .writeStream.format("memory").queryName("ss_stream_t")
      .outputMode(OutputMode.Complete).start()
    try {
      input.addData("a", "a", "b", "a", "c", "b")
      q.processAllAvailable()
      def head = spark.table("ss_stream_t").head
        .getAs[scala.collection.Seq[org.apache.spark.sql.Row]](0).head
      assert(head.getString(0) == "a" && head.getLong(1) == 3L, s"got $head")
      // next batch merges into the SAME sketch state (capacity ≥ distinct → exact)
      input.addData("c", "c", "c", "c")
      q.processAllAvailable()
      assert(head.getString(0) == "c" && head.getLong(1) == 5L, s"after merge got $head")
    } finally q.stop()
  }

  test("file sink + checkpoint: exactly-once across a query restart") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_eo").toString
    val events = Tables.events(spark, sfDir)
    val schema = events.schema
    events.limit(100).write.parquet(s"$tmp/in")

    def start() = spark.readStream.schema(schema).parquet(s"$tmp/in")
      .writeStream.format("parquet")
      .option("path", s"$tmp/out").option("checkpointLocation", s"$tmp/ckpt")
      .outputMode(OutputMode.Append).start()

    val q1 = start(); q1.processAllAvailable(); q1.stop()
    assert(spark.read.parquet(s"$tmp/out").count() == 100)
    // new files arrive while the query is down; restart from the checkpoint
    events.orderBy("event_id").limit(150).write.mode("append").parquet(s"$tmp/in")
    val q2 = start(); q2.processAllAvailable(); q2.stop()
    val out = spark.read.parquet(s"$tmp/out")
    // 100 + 150 rows, previously-seen input files NOT reprocessed
    assert(out.count() == 250, s"expected 250 rows, got ${out.count()}")
  }

  test("curation predicates compose on a stream: mixtureKeep + repetitionOk are stateless filters") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    case class Doc(doc_id: Long, source: String, text: String)
    val input = MemoryStream[(Long, String, String)]
    val docs = input.toDF().toDF("doc_id", "source", "text")
    // the exact batch predicates, unchanged, on an unbounded source —
    // stateless map-side filters need no watermark and no state store
    val q = docs.filter(
        graft.ops.TextAnalysis.mixtureKeep && graft.ops.TextAnalysis.repetitionOk())
      .writeStream.format("memory").queryName("curated_stream_t")
      .outputMode(OutputMode.Append).start()
    try {
      val rows = Seq(
        (0L, "src4", "unique words only here"),       // src4: frac 1.0 — kept, non-repetitive
        (1L, "src4", "a b a b a b a b a b a b"),      // repetitive — dropped
        (2L, "src0", "fine text")                     // src0 frac .2: coin decides
      )
      input.addData(rows: _*)
      q.processAllAvailable()
      val got = spark.table("curated_stream_t").collect().map(_.getLong(0)).toSet
      // reference: the batch op on the same rows
      val batch = rows.toDF("doc_id", "source", "text").filter(
        graft.ops.TextAnalysis.mixtureKeep && graft.ops.TextAnalysis.repetitionOk())
        .collect().map(_.getLong(0)).toSet
      assert(got == batch, s"stream $got vs batch $batch")
      assert(got.contains(0L) && !got.contains(1L))
    } finally q.stop()
  }

  test("stateless curation ops are streaming-safe as-is: textNormalize and " +
    "gopherRules over a memory stream == the batch op row-for-row") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq(
      (1L, "Café COSTS 12,50 dollars!!"),
      (2L, (Seq.fill(24)("the") ++ Seq.fill(26)("table")).mkString(" ")),
      (3L, "...!!!"))
    val batch = rows.toDF("doc_id", "text")
    val input = MemoryStream[(Long, String)]
    val stream = input.toDF().toDF("doc_id", "text")
    val q1 = graft.ops.TextAnalysis.textNormalize(stream)
      .writeStream.format("memory").queryName("tn_stream_t")
      .outputMode(OutputMode.Append).start()
    val q2 = graft.ops.TextAnalysis.gopherRules(stream)
      .writeStream.format("memory").queryName("gr_stream_t")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(rows: _*)
      q1.processAllAvailable(); q2.processAllAvailable()
      def canon(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(_.toSeq.map(String.valueOf)).sortBy(_.mkString("|")).toSeq
      assert(canon(spark.table("tn_stream_t")) ==
        canon(graft.ops.TextAnalysis.textNormalize(batch)))
      assert(canon(spark.table("gr_stream_t")) ==
        canon(graft.ops.TextAnalysis.gopherRules(batch)))
    } finally { q1.stop(); q2.stop() }
  }
}
