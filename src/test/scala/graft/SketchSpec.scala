package graft

import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions
import graft.ops.TextOps

/** The custom TypedImperativeAggregate: Space-Saving heavy hitters. */
class SketchSpec extends SparkSpecBase {

  private def docs = Tables.documents(spark, sfDir)

  test("capacity >= distinct items → sketch equals the exact word count") {
    val words = docs.select(explode(TextOps.tokens(col("text"))).as("w"))
    val sketch = words
      .agg(GraftFunctions.spacesavingTopK(col("w"), 128).as("top")).head
      .getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("top")
      .map(r => r.getString(0) -> r.getLong(1))
    val exact = TextOps.wordCount(docs).collect()
      .map(r => r.getString(0) -> r.getLong(1))
      .sortBy { case (w, n) => (-n, w) }
    assert(sketch.toSeq == exact.toSeq,
      s"exact-mode sketch must equal the full groupBy count")
  }

  test("tiny capacity still surfaces true heavy hitters of a skewed stream") {
    // guarantee applies to items with freq > N/capacity: make two such items
    val skewed = spark.range(0, 20000, 1, 8).selectExpr(
      """CASE WHEN id % 10 < 4 THEN 'hot1'
              WHEN id % 10 < 7 THEN 'hot2'
              ELSE concat('cold_', id % 997) END AS w""")
    val sketch = skewed
      .agg(GraftFunctions.spacesavingTopK(col("w"), 8).as("top")).head
      .getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("top")
    val top2 = sketch.take(2).map(_.getString(0)).toSet
    assert(top2 == Set("hot1", "hot2"), s"got $sketch")
    // counts over-estimate but never under-estimate (space-saving invariant)
    assert(sketch.head.getLong(1) >= 8000L)
  }

  test("adversarial all-distinct stream: bounded buffer, heavy hitter still survives merges") {
    // worst case for eviction (every item unseen → evict per row) across 8
    // partitions, with one hitter above N/capacity interleaved so the
    // MERGEABLE guarantee (not just per-partition) is what finds it
    val n = 100000L
    val stream = spark.range(0, n, 1, 8).selectExpr(
      "CASE WHEN id % 5 = 0 THEN 'hot' ELSE concat('cold_', id) END AS w")
    val sketch = stream
      .agg(GraftFunctions.spacesavingTopK(col("w"), 64).as("top")).head
      .getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("top")
    val hot = sketch.find(_.getString(0) == "hot")
    assert(hot.isDefined, s"freq(hot)=20000 > N/capacity=${n / 64} must be present")
    assert(hot.get.getLong(1) >= 20000L, "counts never under-estimate")
  }

  test("SpaceSavingBuffer survives callers that reuse the input byte buffer") {
    import org.apache.spark.unsafe.types.UTF8String
    import graft.functions.SpaceSavingBuffer
    val buf = new SpaceSavingBuffer
    val bytes = "aaaa".getBytes("UTF-8")
    val reused = UTF8String.fromBytes(bytes)
    buf.add(reused, 1L)
    buf.add(reused, 1L) // increment path — must NOT retain the live reference
    // caller reuses the buffer: the same UTF8String object now reads "bbbb"
    System.arraycopy("bbbb".getBytes("UTF-8"), 0, bytes, 0, 4)
    buf.add(reused, 1L) // a NEW item from the sketch's perspective
    buf.add(UTF8String.fromString("cccc"), 1L)
    buf.add(UTF8String.fromString("dddd"), 1L)
    buf.truncate(2) // evicts minima — corrupt ordering would throw or evict wrong keys
    assert(buf.size == 2)
    val kept = buf.counts.keys.map(_.toString).toSet
    assert(kept.contains("aaaa"), s"hot item evicted; kept=$kept")
    assert(buf.counts(UTF8String.fromString("aaaa")) == 2L)
  }

  test("transparent-register HLL: reagg == single-pass exactly, tracks exact within error") {
    val events = Tables.events(spark, sfDir)
    val viaDaily = graft.ops.AggOps.hllReaggregateTransparent(events)
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getLong(2))).toMap
    // single-pass: estimate straight from the day-merged register build —
    // max over day-maxes == global max, so estimates must be IDENTICAL
    val singleRegs = graft.ops.AggOps.hllDailyRegisters(
        events.withColumn("ts", org.apache.spark.sql.functions.lit("2024-01-01 00:00:00").cast("timestamp")))
    val single = graft.ops.AggOps.hllReaggregateFromRegisters(singleRegs)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(viaDaily.view.mapValues(_._1).toMap == single,
      s"register union must be lossless: $viaDaily vs $single")
    val exact = events.groupBy(col("event_type"))
      .agg(org.apache.spark.sql.functions.countDistinct(col("user_id")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // standard error at m=4096 is 1.04/sqrt(m) ≈ 1.6%; allow 5%
    exact.foreach { case (k, n) =>
      assert(math.abs(viaDaily(k)._1 - n) / n <= 0.05,
        s"$k: transparent est ${viaDaily(k)._1} vs exact $n drifts > 5%")
    }
    // n_days matches the raw per-type day counts
    val days = events.select(col("event_type"), org.apache.spark.sql.functions.to_date(col("ts")).as("d"))
      .distinct().groupBy(col("event_type")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(viaDaily.view.mapValues(_._2).toMap == days)
  }

  test("transparent approx_sketch tracks exact distincts and quantile ranks") {
    val li = Tables.lineitem(spark, sfDir)
    val row = graft.ops.AggOps.approxSketchTransparent(li).head
    val exactParts = li.select(col("l_partkey")).distinct().count()
    val exactOrders = li.select(col("l_orderkey")).distinct().count()
    // m=4096 registers → standard error 1.04/sqrt(m) ≈ 1.6%; allow 5%
    assert(math.abs(row.getDouble(0) - exactParts) / exactParts <= 0.05,
      s"approx_parts ${row.getDouble(0)} vs $exactParts")
    assert(math.abs(row.getDouble(1) - exactOrders) / exactOrders <= 0.05,
      s"approx_orders ${row.getDouble(1)} vs $exactOrders")
    // rank error of a sample quantile ~ Binomial: sqrt(p(1-p)/sampleN);
    // allow 4σ (sf0.001's 361-row sample sits at 2.7σ for p95 — the same
    // value DuckDB computes, so the check is noise-bounded, not drift)
    val n = li.count().toDouble
    val sampleN = n / 16.0
    Seq((row.getDouble(2), 0.5), (row.getDouble(3), 0.95), (row.getDouble(4), 0.99))
      .foreach { case (v, p) =>
        val rank = li.filter(col("l_extendedprice") <= v).count() / n
        val tol = 4.0 * math.sqrt(p * (1 - p) / sampleN)
        assert(math.abs(rank - p) <= tol, f"p$p sample quantile $v rank $rank%.4f tol $tol%.4f")
      }
    // dump round trip: recomputing FROM the register relation is identical
    val regs = graft.ops.AggOps.approxSketchRegisters(li)
    val viaRegs = graft.ops.AggOps.approxSketchFromRegisters(li, regs).head
    assert(viaRegs == row, s"register-relation recompute diverged: $viaRegs vs $row")
  }

  test("sketch works from SQL text and per group") {
    docs.select(col("lang"), explode(TextOps.tokens(col("text"))).as("w"))
      .createOrReplaceTempView("graft_words_v")
    val perLang = spark.sql(
      "SELECT lang, spacesaving_topk(w, 16) AS top FROM graft_words_v GROUP BY lang")
      .collect()
    assert(perLang.length == 5)
    perLang.foreach { r =>
      val top = r.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("top")
      assert(top.nonEmpty && top.map(_.getLong(1)).sliding(2).forall {
        case scala.collection.Seq(a, b) => a >= b
        case _ => true
      })
    }
  }
}
