package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The Tungsten page size `GraftSessions.local` derives from the heap, and
  * rows larger than one such page: each page-using operator must give the
  * record a page of its own and return it unchanged. */
class PageSizeSpec extends SparkSpecBase {

  private val MiB = 1L << 20
  private val GiB = 1L << 30

  test("page size: smallest power of two >= 1 MiB whose page table covers the heap") {
    import GraftSessions.{pageSizeBytes, PageTableSize}
    assert(pageSizeBytes(4 * GiB) == MiB)
    assert(pageSizeBytes(7 * GiB) == MiB)
    assert(pageSizeBytes(8 * GiB) == MiB)
    assert(pageSizeBytes(8 * GiB + 1) == 2 * MiB)
    assert(pageSizeBytes(16 * GiB) == 2 * MiB)
    val heaps = Seq(0L, 1L, MiB, GiB, 3 * GiB + 7, 31 * GiB, 64 * GiB + 1, 1L << 40,
      Long.MaxValue) ++ (0 until 200).map(i => (i.toLong * 7919 + 1) * 97 * MiB / 13)
    heaps.foreach { h =>
      val p = pageSizeBytes(h)
      assert(p >= MiB && java.lang.Long.bitCount(p) == 1, s"heap $h: page $p")
      assert(BigInt(p) * PageTableSize >= BigInt(h), s"heap $h: page $p")
      // smallest such: half the page would not cover the heap
      if (p > MiB) assert(BigInt(p / 2) * PageTableSize < BigInt(h), s"heap $h: page $p")
    }
    assert(spark.sparkContext.getConf.getSizeAsBytes("spark.buffer.pageSize") ==
      pageSizeBytes(Runtime.getRuntime.maxMemory))
  }

  // k = 0 is the large row: a string of 3 MiB + 3 chars and a 300,000-element
  // array<bigint>, each larger than the page; k = 1..3 are small rows
  private val reps = 1048577
  private val nLongs = 300000
  private def strOf(k: Long) = ("ab" + k) * (if (k == 0) reps else 1)
  private def arrOf(k: Long): Seq[Long] = if (k == 0) (1L to nLongs) else Seq(k)

  private def rows: DataFrame = spark.range(4).select(
    col("id").as("k"), (col("id") % 2).as("tag"),
    repeat(concat(lit("ab"), col("id").cast("string")),
      when(col("id") === 0, lit(reps)).otherwise(lit(1))).as("s"),
    when(col("id") === 0, sequence(col("id") + 1, col("id") + nLongs))
      .otherwise(array(col("id"))).as("arr"))

  private def finalPlan(df: DataFrame): String = df.queryExecution.executedPlan.toString

  test("rows larger than a page pass through aggregate, sort, window and hash joins") {
    val pageB = spark.sparkContext.getConf.getSizeAsBytes("spark.buffer.pageSize")
    assert(strOf(0).length > 2 * pageB && nLongs * 8L > pageB,
      s"the large row must exceed the $pageB B page")

    // hash aggregate keyed by the large string (BytesToBytesMap record)
    val byS = rows.groupBy("s").agg(count(lit(1)).as("n"), max("k").as("k"))
    val gotS = byS.collect().map(r => r.getLong(2) -> (r.getString(0), r.getLong(1))).toMap
    assert(gotS == (0L to 3L).map(k => k -> (strOf(k), 1L)).toMap)
    assert(finalPlan(byS).contains("HashAggregate"), finalPlan(byS))

    // first / collect_list carry the large values in the aggregation buffer
    val byTag = rows.groupBy("tag").agg(
      first(when(col("k") % 2 === col("tag") && col("k") < 2, col("s")), ignoreNulls = true).as("s"),
      collect_list(col("arr")).as("arrs"))
    val gotTag = byTag.collect().map(r =>
      r.getLong(0) -> (r.getString(1), r.getSeq[collection.Seq[Long]](2).map(_.toSeq).sortBy(_.size))).toMap
    assert(gotTag == Map(0L -> (strOf(0), Seq(arrOf(2), arrOf(0))),
      1L -> (strOf(1), Seq(arrOf(1), arrOf(3)).sortBy(_.size))))

    // sort by the large string (UnsafeExternalSorter record)
    val sorted = rows.orderBy(col("s").desc, col("k")).select("k", "s", "arr").collect()
    val want = (0L to 3L).sortBy(k => strOf(k))(Ordering[String].reverse)
    assert(sorted.map(_.getLong(0)).toSeq == want)
    sorted.foreach(r => assert(r.getString(1) == strOf(r.getLong(0)) &&
      r.getSeq[Long](2) == arrOf(r.getLong(0)), s"k=${r.getLong(0)}"))

    // window: the large row is buffered and seen again by its neighbour
    val w = Window.partitionBy("tag").orderBy("k")
    val win = rows.select(col("k"), lag("s", 1).over(w).as("prev_s"),
      lag("arr", 1).over(w).as("prev_arr")).collect()
      .map(r => r.getLong(0) -> (Option(r.getString(1)),
        Option(r.getSeq[Long](2)).map(_.toSeq))).toMap
    assert(win == Map(0L -> (None, None), 1L -> (None, None),
      2L -> (Some(strOf(0)), Some(arrOf(0))), 3L -> (Some(strOf(1)), Some(arrOf(1)))))

    // hash joins on a two-column key (UnsafeHashedRelation), large row on
    // the build side: shuffled and broadcast
    val probe = spark.range(4).select(col("id").as("k"), (col("id") % 2).as("tag"))
    Seq("shuffle_hash" -> "ShuffledHashJoin", "broadcast" -> "BroadcastHashJoin").foreach {
      case (hint, op) =>
        val j = probe.join(rows.hint(hint), Seq("k", "tag")).select("k", "s", "arr")
        val got = j.collect().map(r => r.getLong(0) -> (r.getString(1), r.getSeq[Long](2))).toMap
        assert(got == (0L to 3L).map(k => k -> (strOf(k), arrOf(k))).toMap, hint)
        assert(finalPlan(j).contains(op), s"$hint: ${finalPlan(j)}")
    }
  }
}
