package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.ops.PipeOps
import graft.sources.IO

class PipeIoMultimodalSpec extends SparkSpecBase {

  private def docs = Tables.documents(spark, sfDir)

  test("pipeThrough an external process preserves keys and transforms text") {
    val out = PipeOps.pipeThrough(spark, docs, "doc_id", "text", Seq("tr", "a-z", "A-Z"))
    val joined = out.join(docs, "doc_id")
      .select(col("out") === upper(col("text"))).collect()
    assert(joined.nonEmpty && joined.forall(_.getBoolean(0)))
  }

  test("pipeThrough tolerates tab-free / diagnostic output lines (hadoop-streaming parity)") {
    // grep emits only matching lines; non-matching records vanish — and a
    // command emitting a tab-free diagnostic line must not kill the task
    val out = PipeOps.pipeThrough(spark, docs, "doc_id", "text",
      Seq("sh", "-c", "echo 'diagnostic: no tab here'; grep -v '^$' | head -5"))
    assert(out.count() >= 0) // would throw StringIndexOutOfBounds before the guard
    assert(out.columns.toSeq == Seq("doc_id", "out"))
  }

  test("mapPartitionsTyped streams per-partition") {
    import spark.implicits._
    val ds = spark.range(0, 100, 1, 4).as[Long]
    val out = PipeOps.mapPartitionsTyped(ds)(it => it.map(_ * 2)).collect().sorted
    assert(out.toSeq == (0L until 100L).map(_ * 2))
  }

  test("parquet relayout (distcp analog) preserves data and partitions the layout") {
    val tmp = Files.createTempDirectory("graft_io").toString
    val src = s"$tmp/src"; val dst = s"$tmp/dst"
    IO.writeParquet(Tables.lineitem(spark, sfDir), src)
    IO.relayout(IO.readParquet(spark, src), dst, partitionCol = Some("l_returnflag"), filesPerPartition = 2)
    val back = spark.read.parquet(dst)
    assert(back.count() == Tables.lineitem(spark, sfDir).count())
    val dirs = new java.io.File(dst).listFiles().filter(_.isDirectory).map(_.getName)
    assert(dirs.count(_.startsWith("l_returnflag=")) == 3)
    // the salted write spread keeps the distcp width contract: at most
    // filesPerPartition data files per partition dir
    dirs.filter(_.startsWith("l_returnflag=")).foreach { dn =>
      val n = new java.io.File(s"$dst/$dn").listFiles()
        .count(_.getName.endsWith(".parquet"))
      assert(n >= 1 && n <= 2, s"$dn holds $n files, bound is 2")
    }
    // partition pruning: reading one partition dir touches only that subset
    val pruned = back.filter(col("l_returnflag") === "R")
    assert(pruned.count() ==
      Tables.lineitem(spark, sfDir).filter(col("l_returnflag") === "R").count())
  }

  test("compaction (HAR analog) bounds file count, preserves rows") {
    val tmp = Files.createTempDirectory("graft_compact").toString
    val src = s"$tmp/many"; val dst = s"$tmp/compact"
    Tables.orders(spark, sfDir).repartition(37).write.parquet(src)
    val nSrcFiles = new java.io.File(src).listFiles().count(_.getName.endsWith(".parquet"))
    IO.compact(spark, src, dst)
    val nDstFiles = new java.io.File(dst).listFiles().count(_.getName.endsWith(".parquet"))
    assert(nSrcFiles == 37 && nDstFiles < nSrcFiles)
    assert(spark.read.parquet(dst).count() == Tables.orders(spark, sfDir).count())
  }

  test("writeRouted (MultipleOutputs analog): one job routes rows to named sinks") {
    val tmp = Files.createTempDirectory("graft_routed").toString
    val orders = Tables.orders(spark, sfDir)
    IO.writeRouted(orders, tmp,
      when(col("o_totalprice") >= 200000, lit("large"))
        .when(col("o_totalprice") >= 100000, lit("medium"))) // else null → dropped
    val dirs = new java.io.File(tmp).listFiles().filter(_.isDirectory).map(_.getName).toSet
    assert(dirs == Set("split=large", "split=medium"))
    val large = spark.read.parquet(s"$tmp/split=large")
    val medium = spark.read.parquet(s"$tmp/split=medium")
    assert(large.count() == orders.filter(col("o_totalprice") >= 200000).count())
    assert(medium.count() == orders.filter(
      col("o_totalprice") >= 100000 && col("o_totalprice") < 200000).count())
  }

  test("writeSplit (overlapping sinks): each sink gets its predicate's rows from one materialization") {
    val tmp = Files.createTempDirectory("graft_split").toString
    val docs2 = Tables.documents(spark, sfDir)
    val paths = IO.writeSplit(docs2, tmp, Map(
      "english" -> (col("lang") === "en"),
      "longdocs" -> (length(col("text")) > 100))) // overlaps with english
    assert(spark.read.parquet(paths("english")).count() ==
      docs2.filter(col("lang") === "en").count())
    assert(spark.read.parquet(paths("longdocs")).count() ==
      docs2.filter(length(col("text")) > 100).count())
    // overlap really lands in both sinks
    val both = docs2.filter(col("lang") === "en" && length(col("text")) > 100).count()
    assert(spark.read.parquet(paths("english")).filter(length(col("text")) > 100).count() == both)
  }

  test("upsertByRewrite: updated keys replaced, new keys appended, others untouched") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_upsert").toString
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v").write.parquet(s"$tmp/base")
    val updates = Seq((2L, "B2"), (4L, "d")).toDF("k", "v")
    IO.upsertByRewrite(spark, s"$tmp/base", updates, "k", s"$tmp/out")
    val got = spark.read.parquet(s"$tmp/out").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "a", 2L -> "B2", 3L -> "c", 4L -> "d"), s"got $got")
  }

  test("zorderWrite clusters BOTH key columns per file (multi-dim pruning layout)") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_zorder").toString + "/z"
    val li = Tables.lineitem(spark, sfDir)
    IO.zorderWrite(li, tmp, "l_partkey", "l_suppkey", files = 16)
    // per-file min/max ranges of each key ≈ parquet footer stats: with
    // z-order both dimensions must be narrow; a linear sort on l_partkey
    // would leave l_suppkey ranges at ~full width in every file
    val perFile = spark.read.parquet(tmp)
      .groupBy(input_file_name().as("f"))
      .agg((max("l_partkey") - min("l_partkey")).as("pw"),
        (max("l_suppkey") - min("l_suppkey")).as("sw"))
      .collect()
    assert(perFile.length >= 8, s"expected ~16 files, got ${perFile.length}")
    val (globalP, globalS) = {
      val r = li.agg(max("l_partkey") - min("l_partkey"),
        max("l_suppkey") - min("l_suppkey")).head
      (r.getLong(0).toDouble, r.getLong(1).toDouble)
    }
    val avgP = perFile.map(_.getLong(1)).sum.toDouble / perFile.length / globalP
    val avgS = perFile.map(_.getLong(2)).sum.toDouble / perFile.length / globalS
    assert(avgP <= 0.6 && avgS <= 0.6,
      f"z-order must narrow both dims: partkey width $avgP%.2f, suppkey width $avgS%.2f of global")
    // row preservation
    assert(spark.read.parquet(tmp).count() == li.count())
  }

  test("quantile z-order keeps file sizes balanced under a power-law key") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    // heavily skewed a (power-law-ish), uniform b: min/max normalization
    // would map ~90% of rows into a sliver of a-space
    val skewed = (0 until 20000).map { _ =>
      (math.pow(10, rnd.nextDouble() * 4), rnd.nextDouble() * 100) }
      .toDF("a", "b")
    val tmp = java.nio.file.Files.createTempDirectory("graft_zq").toString + "/z"
    IO.zorderWriteQuantile(skewed, tmp, "a", "b", files = 8)
    val sizes = spark.read.parquet(tmp)
      .groupBy(input_file_name()).count().collect().map(_.getLong(1))
    assert(sizes.length >= 6, s"expected ~8 files, got ${sizes.length}")
    assert(sizes.max.toDouble / sizes.min <= 2.0,
      s"rank-normalized z-order must balance files; sizes=${sizes.sorted.mkString(",")}")
    assert(spark.read.parquet(tmp).count() == 20000L)
  }

  test("combineRead bounds task count over a many-small-files directory") {
    val tmp = Files.createTempDirectory("graft_combine").toString + "/many"
    Tables.lineitem(spark, sfDir).repartition(200).write.parquet(tmp)
    val nFiles = new java.io.File(tmp).listFiles().count(_.getName.endsWith(".parquet"))
    assert(nFiles == 200)
    val combined = IO.combineRead(spark, tmp,
      targetPartitionBytes = 8L * 1024 * 1024, openCostInBytes = 64L * 1024)
    assert(combined.rdd.getNumPartitions <= 8,
      s"200 small files must pack into few partitions, got ${combined.rdd.getNumPartitions}")
    assert(combined.count() == Tables.lineitem(spark, sfDir).count())
  }

  test("csv/json/orc/text round-trips preserve data") {
    val tmp = Files.createTempDirectory("graft_fmt").toString
    val src = Tables.nation(spark, sfDir)
    src.write.option("header", "true").csv(s"$tmp/csv")
    assert(spark.read.option("header", "true").option("inferSchema", "true")
      .csv(s"$tmp/csv").count() == 25)
    src.write.json(s"$tmp/json")
    val j = spark.read.json(s"$tmp/json")
    assert(j.count() == 25 && j.columns.sorted.toSeq == src.columns.sorted.toSeq)
    src.write.orc(s"$tmp/orc")
    assert(spark.read.orc(s"$tmp/orc").count() == 25)
    Tables.documents(spark, sfDir).select(col("text")).write.text(s"$tmp/text")
    assert(spark.read.text(s"$tmp/text").count() == Tables.documents(spark, sfDir).count())
  }

  test("sequence file round-trip (MR-era interop format)") {
    val tmp = Files.createTempDirectory("graft_seq").toString
    IO.writeSequenceFile(docs, "doc_id", "text", s"$tmp/seq")
    val back = IO.readSequenceFile(spark, s"$tmp/seq")
    assert(back.count() == docs.count())
    val joined = back.join(docs, col("key") === col("doc_id"))
      .filter(col("value") =!= col("text")).count()
    assert(joined == 0, "values must round-trip byte-identical")
  }

  test("observe counters (MR Counters analog) report exact job-side metrics") {
    val (observed, obs) = graft.ops.CounterOps.withCounters(docs, "text")
    observed.write.format("noop").mode("overwrite").save()
    val m = obs.get
    assert(m("rows") == docs.count())
    assert(m("null_rows") == 0L)
    assert(m("bytes").asInstanceOf[Long] > 0L)
  }

  test("bucketed tables join without a shuffle exchange") {
    // in-memory metastore is fresh per JVM but the warehouse dir persists
    Seq("orders_b", "customer_b").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val dir = new java.io.File(s"/tmp/graft_warehouse/$t")
      if (dir.exists()) {
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) f.listFiles().foreach(rm)
          f.delete()
        }
        rm(dir)
      }
    }
    IO.writeBucketed(Tables.orders(spark, sfDir), "orders_b", "o_custkey", 4)
    IO.writeBucketed(Tables.customer(spark, sfDir), "customer_b", "c_custkey", 4)
    val joined = spark.table("customer_b").hint("merge")
      .join(spark.table("orders_b"), col("c_custkey") === col("o_custkey"))
    joined.collect()
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed join must not shuffle:\n$plan")
    assert(joined.count() ==
      Tables.customer(spark, sfDir).join(Tables.orders(spark, sfDir),
        col("c_custkey") === col("o_custkey")).count())
  }

  test("diffPartitions: copy/rewrite/delete/skip classified; layout differences are not diffs") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft_diff").toString
    val old = Seq(("a", 1L, "x"), ("a", 2L, "y"), ("b", 3L, "z"), ("c", 4L, "w"))
      .toDF("p", "k", "v")
    old.write.partitionBy("p").parquet(s"$tmp/target")
    // new source: a unchanged but written in a DIFFERENT file layout (one
    // file vs many, different row order); b changed; c gone; d new
    val src = Seq(("a", 2L, "y"), ("a", 1L, "x"), ("b", 3L, "Z2"), ("d", 5L, "q"))
      .toDF("p", "k", "v").repartition(7)
    src.write.partitionBy("p").parquet(s"$tmp/source")
    val plan = IO.diffPartitions(spark, s"$tmp/source", s"$tmp/target", "p")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(plan == Map("a" -> "skip", "b" -> "rewrite", "c" -> "delete", "d" -> "copy"), s"got $plan")
  }

  test("syncPartitions: rewrites only the delta, deletes orphans, leaves identical partitions' files untouched") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft_sync").toString
    Seq(("a", 1L, "x"), ("a", 2L, "y"), ("b", 3L, "z"), ("c", 4L, "w"))
      .toDF("p", "k", "v").write.partitionBy("p").parquet(s"$tmp/target")
    val src = Seq(("a", 1L, "x"), ("a", 2L, "y"), ("b", 3L, "Z2"), ("d", 5L, "q"))
      .toDF("p", "k", "v")
    src.write.partitionBy("p").parquet(s"$tmp/source")
    def filesOf(part: String): Set[(String, Long)] = {
      val d = new java.io.File(s"$tmp/target/p=$part")
      if (!d.exists()) Set.empty
      else d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toSet
    }
    val aBefore = filesOf("a")
    val plan = IO.syncPartitions(spark, s"$tmp/source", s"$tmp/target", "p")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(plan == Map("a" -> "skip", "b" -> "rewrite", "c" -> "delete", "d" -> "copy"), s"got $plan")
    // untouched partition keeps its exact files (the -update "skip" promise)
    assert(filesOf("a") == aBefore, "identical partition was rewritten")
    assert(filesOf("c").isEmpty, "orphan partition survived")
    // target now equals source, row-for-row
    val got = spark.read.parquet(s"$tmp/target").select("p", "k", "v")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    val want = src.collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    assert(got == want)
    // idempotence: a second sync is all-skip
    val plan2 = IO.syncPartitions(spark, s"$tmp/source", s"$tmp/target", "p")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(plan2 == Map("a" -> "skip", "b" -> "skip", "d" -> "skip"), s"got $plan2")
  }

  test("syncPartitions: multi-level (date/lang) layout syncs per CELL, not per top-level dir") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft_sync2").toString
    Seq(("d1", "en", 1L, "x"), ("d1", "fr", 2L, "y"), ("d2", "en", 3L, "z"))
      .toDF("date", "lang", "k", "v").write.partitionBy("date", "lang").parquet(s"$tmp/target")
    // d1/en unchanged, d1/fr changed, d2/en orphaned, d2/fr new — the d1 and
    // d2 top dirs BOTH contain a changed cell and an unchanged/orphan one
    val src = Seq(("d1", "en", 1L, "x"), ("d1", "fr", 2L, "Y2"), ("d2", "fr", 4L, "q"))
      .toDF("date", "lang", "k", "v")
    src.write.partitionBy("date", "lang").parquet(s"$tmp/source")
    def filesOf(rel: String): Set[(String, Long)] = {
      val d = new java.io.File(s"$tmp/target/$rel")
      if (!d.exists()) Set.empty
      else d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toSet
    }
    val before = filesOf("date=d1/lang=en")
    val plan = IO.syncPartitions(spark, s"$tmp/source", s"$tmp/target", Seq("date", "lang"), true)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getString(2)).toMap
    assert(plan == Map(("d1", "en") -> "skip", ("d1", "fr") -> "rewrite",
      ("d2", "en") -> "delete", ("d2", "fr") -> "copy"), s"got $plan")
    assert(filesOf("date=d1/lang=en") == before, "unchanged cell was rewritten")
    assert(filesOf("date=d2/lang=en").isEmpty, "orphan cell survived")
    val got = spark.read.parquet(s"$tmp/target").select("date", "lang", "k", "v")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getString(3))).toSet
    val want = src.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getString(3))).toSet
    assert(got == want)
  }

  test("syncPartitions: first sync into an empty target copies everything") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft_sync0").toString
    Seq(("a", 1L, "x"), ("b", 2L, "y")).toDF("p", "k", "v")
      .write.partitionBy("p").parquet(s"$tmp/source")
    val plan = IO.syncPartitions(spark, s"$tmp/source", s"$tmp/target", "p")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(plan == Map("a" -> "copy", "b" -> "copy"), s"got $plan")
    assert(spark.read.parquet(s"$tmp/target").count() == 2)
  }
}
