package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.util.GenericArrayData
import graft.ops._

/** Round-10: an IVF index rebuild leaves only what it wrote, the
  * zero-text-shuffle paragraph dedup, kmeans|| init, and every
  * centroid-assignment path shares ONE tie-break rule (round-6 cosine
  * desc, index asc). */
class Round10Spec extends SparkSpecBase {

  import spark.implicits._

  private def wipe(dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
  }

  test("ivfWriteIndex rebuild clears stale increments (old-model buckets " +
    "never leak into the new index)") {
    val dir = "/tmp/graft_test_ivf_rebuild"
    wipe(dir)
    val emb = Tables.embeddings(spark, sfDir)
    SimilarityOps.ivfWriteIndex(spark, emb.filter(col("vec_id") >= 100), dir)
    // an index written by an older layout also carries a postings_inc dir
    // of increments bucketed under its own model
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
    org.apache.hadoop.fs.FileUtil.copy(fs, new org.apache.hadoop.fs.Path(s"$dir/postings"),
      fs, new org.apache.hadoop.fs.Path(s"$dir/postings_inc"), false, conf)
    // full rebuild over a DIFFERENT corpus slice retrains the model
    val rebuilt = emb.filter(col("vec_id") < 100)
    SimilarityOps.ivfWriteIndex(spark, rebuilt, dir)
    def rows(df: org.apache.spark.sql.DataFrame) = df.select("vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1))).sortBy(_._1).toSeq
    assert(rows(SimilarityOps.readIndexPostings(spark, dir)) == rows(rebuilt),
      "index contains exactly the rebuilt corpus")
    assert(new java.io.File(dir).list().filterNot(_.startsWith(".")).toSet ==
      Set("centroids", "postings"), "rebuild leaves only what it wrote")
  }

  test("dedupParagraphs: zero-text-shuffle path is output-identical to the " +
    "regroup form; no shuffle exchange carries document text") {
    val docs = Tables.documents(spark, sfDir)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .sorted.toSeq
    val got = rows(DedupOps.dedupParagraphs(docs))
    assert(got == rows(SpecReferences.dedupParagraphsRegroup(docs)),
      "r10 bloom-split form must be row-identical to the regroup form")
    assert(got.exists(_._3 > 0), "gate corpus should contain boilerplate")
    assert(got.exists(_._3 == 0), "gate corpus should contain clean docs")
    // plan shape: document text (the framed paragraph ARRAY or the raw text
    // column) never enters a shuffle exchange; only narrow hash/id rows and
    // candidate paragraph strings ("para") may shuffle. AQE off so the
    // executed tree exposes raw ShuffleExchangeExec nodes to traverse.
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val df = DedupOps.dedupParagraphs(docs)
      df.collect()
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
      val shuffled = df.queryExecution.executedPlan.collect {
        case e: ShuffleExchangeExec => e.output.map(_.name)
      }.flatten
      // The hash-frequency / exact-verify stages run EAGERLY inside the op
      // over narrow (hash, id) and candidate-paragraph relations; the
      // returned rebuild plan is scan -> in-row project (clean branch)
      // unioned with scan -> broadcast-join(drop sets) -> in-row project
      // (dirty branch) — NO shuffle exchange at all, so document text can
      // never be exchanged.
      assert(shuffled.isEmpty,
        s"rebuild plan must not shuffle anything, got exchanges of: $shuffled")
      val planStr = df.queryExecution.executedPlan.toString
      assert(planStr.contains("BroadcastHashJoin"),
        "dirty branch joins its drop sets broadcast while they fit")
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }

  test("crossJaccardPairs maxRefDf guard: hot reference shingle fails " +
    "loudly; a clean reference passes with identical output") {
    val corpus = Seq((1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "eta theta iota kappa lambda mu")).toDF("doc_id", "text")
    // every ref doc contains the same hot 3-shingle "common words here"
    val hotRef = (10L to 15L)
      .map(i => (i, s"common words here unique$i tail$i end$i"))
      .toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      DedupOps.crossJaccardPairs(corpus, hotRef, tau = 0.1, maxRefDf = 3).collect()
    }
    assert(e.getMessage.contains("maxRefDf") &&
      e.getMessage.contains("crossMinhashPairs") &&
      e.getMessage.contains("'common words here'"),
      s"guard message must name the hot shingle, the knob and the LSH twin: ${e.getMessage}")
    // guard satisfied -> output identical to the unguarded run
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    val cleanRef = Seq((10L, "alpha beta gamma delta epsilon zeta extra"))
      .toDF("doc_id", "text")
    assert(rows(DedupOps.crossJaccardPairs(corpus, cleanRef, tau = 0.5, maxRefDf = 10))
      == rows(DedupOps.crossJaccardPairs(corpus, cleanRef, tau = 0.5)))
  }

  test("distCh: distributed chmod/chown over a tree — every node changed, " +
    "audit rows report outcomes, failures are rows not exceptions") {
    val root = "/tmp/graft_test_distch"
    wipe(root)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    (0 until 3).foreach { d =>
      (0 until 4).foreach { f =>
        val p = new org.apache.hadoop.fs.Path(s"$root/dir$d/file$f.txt")
        val out = fs.create(p); out.write(42); out.close()
      }
    }
    val audit = graft.sources.IO.distCh(spark, root,
      mode = Some("600"), owner = Some("root"), group = Some("root"))
    val rows = audit.collect()
    assert(rows.length == 16, s"3 dirs x 4 files + 3 dirs + root = 16, got ${rows.length}")
    assert(rows.forall(_.getBoolean(2)), "every node's mode changed")
    assert(rows.forall(_.getBoolean(3)), "every node's owner changed")
    assert(rows.forall(_.isNullAt(5)), "no errors expected")
    val perm = fs.getFileStatus(
      new org.apache.hadoop.fs.Path(s"$root/dir1/file2.txt")).getPermission
    assert(perm.toString == "rw-------", s"chmod 600 must land, got $perm")
    // a bad owner fails AS A ROW (the DistCh counter contract), and the
    // other requested ops on the same node still apply
    val audit2 = graft.sources.IO.distCh(spark, root,
      mode = Some("644"), owner = Some("no_such_user_graft"))
    val r2 = audit2.collect()
    assert(r2.forall(r => r.getBoolean(2) && !r.getBoolean(3) && !r.isNullAt(5)),
      "owner change must fail per-row while chmod still applies")
  }

  test("logGrepSort: grep + column sortSpec == a naive single-window rank, " +
    "at 1, 3 and 32 buckets") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val lines = Seq(
      "2024-01-01T10:00:00 view 3", "2024-01-01T09:00:00 click 7",
      "2024-01-02T08:00:00 view 1", "2024-01-01T09:30:00 buy 2",
      "2024-01-03T11:00:00 click 5", "2024-01-01T12:00:00 click 5",
      "not a log line at all", "2024-01-02T23:00:00 view 9"
    ).toDF("line")
    val naive = lines.filter(col("line").rlike("click|view"))
      .withColumn("k", concat_ws("\u0000",
        coalesce(split(col("line"), " ").getItem(1), lit("")), col("line")))
      .withColumn("pos", row_number().over(Window.orderBy(col("k"))).cast("long"))
      .select("pos", "line").collect().map(r => (r.getLong(0), r.getString(1)))
      .sorted.toSeq
    for (parts <- Seq(1, 3, 32)) {
      val got = TextOps.logGrepSort(lines, "click|view",
          sortColumns = Seq(1), partitions = parts)
        .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
      assert(got == naive, s"two-phase rank at $parts buckets must equal the window")
    }
    assert(naive.length == 6 && naive.map(_._1) == (1L to 6L),
      "grep keeps 6 of 8 lines with a 1..6 rank")
    // sortSpec ordering: all clicks rank before all views
    val types = naive.sortBy(_._1).map(_._2.split(" ")(1))
    assert(types == Seq("click", "click", "click", "view", "view", "view"))
  }

  test("NearestCentroids tie-break: round-6 cosine desc, index asc — " +
    "sub-1e-6 differences resolve by index, super-1e-6 by score") {
    import graft.functions.NearestCentroids
    val dim = 2
    // unit vectors at angles chosen so centroid cosines to the query are
    // (a) equal at 6 decimals but unequal raw -> index wins even though the
    // HIGHER index has the (infinitesimally) larger raw cosine, and
    // (b) distinct at 6 decimals -> score wins regardless of index
    val query = Array(1.0f, 0.0f)
    // raw cosines: lo = 0.79999999..., hi = 0.80000001... (hi raw-greater by
    // ~2e-8) — both round to 0.800000, so the index tie-break must pick the
    // LOWER index even though the higher index wins on raw score (this is
    // exactly the case where the pre-r10 unrounded argmax diverged from the
    // relation/oracle ranking)
    val nearTieLo = Array(0.8f, 0.6f)
    val nearTieHi = Array(0.8000001f, 0.6f)
    val clearlyBetter = Array(0.9f, math.sqrt(1 - 0.81).toFloat)
    assert(dim == 2)
    val m1 = new NearestCentroids.Model(Array(nearTieLo, nearTieHi))
    val got1 = NearestCentroids.compute(
      new GenericArrayData(query), m1, 2).toIntArray().toSeq
    assert(got1 == Seq(0, 1),
      s"sub-1e-6 raw difference must fall to the index tie-break, got $got1")
    val m2 = new NearestCentroids.Model(Array(nearTieLo, clearlyBetter))
    val got2 = NearestCentroids.compute(
      new GenericArrayData(query), m2, 2).toIntArray().toSeq
    assert(got2 == Seq(1, 0), s"distinct round-6 scores rank by score, got $got2")
  }
}
