package graft

import org.apache.spark.sql.functions._
import graft.ops._

/** Round-12: streamed (paged) directory listings in distCh — one flat
  * directory with more children than the driver seed budget never
  * materializes as one array; exact integer pair-bound arithmetic in the
  * budget guards; the advisory (maxBucket-capped) sizing walk's early
  * stop; and the realistic-vocabulary corpus profile the exact pair family
  * is benchmarked on (prefix selection must exist on it). */
class Round12Spec extends SparkSpecBase {

  import spark.implicits._

  private def wipe(dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
  }

  test("distCh: wide FLAT directory (children >> maxDriverSeeds) is fully " +
    "audited — the driver abandons the paged listing and a task streams it") {
    val root = "/tmp/graft_test_distch_flat"
    wipe(root)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(root))
    val expected = scala.collection.mutable.Set[String](s"file:$root")
    for (i <- 1 to 3000) {
      val p = s"$root/f$i.txt"
      val out = fs.create(new org.apache.hadoop.fs.Path(p)); out.write(1); out.close()
      expected += s"file:$p"
    }
    // a couple of subdirs so the flat case coexists with recursion
    for (d <- 1 to 2) {
      val dir = s"$root/sub$d"
      fs.mkdirs(new org.apache.hadoop.fs.Path(dir)); expected += s"file:$dir"
      val out = fs.create(new org.apache.hadoop.fs.Path(s"$dir/leaf.txt"))
      out.write(1); out.close(); expected += s"file:$dir/leaf.txt"
    }
    // maxDriverSeeds = 64 << 3002 children: the driver MUST hand the root
    // off as an expand seed after one overflowing page, never buffer the
    // child array; the task-side post-order walk must still cover all of it
    val audit = graft.sources.IO.distCh(spark, root, mode = Some("700"),
      partitions = 8, maxDriverSeeds = 64).collect()
    assert(audit.map(_.getString(0)).toSet == expected.toSet,
      "audit covers exactly the flat directory")
    assert(audit.length == expected.size, "every path audited exactly once")
    assert(audit.forall(r => r.getBoolean(2) && r.isNullAt(5)),
      "chmod landed everywhere with no error rows")
    assert(fs.getFileStatus(new org.apache.hadoop.fs.Path(s"$root/f1.txt"))
      .getPermission.toShort == Integer.parseInt("700", 8).toShort)
    wipe(root)
  }

  test("pairBound: exact at counts where double division and Long products " +
    "both break (the saturated-df regime the budget guards exist for)") {
    def exact(cs: Seq[Long]): BigInt =
      cs.map(c => BigInt(c) * BigInt(c - 1) / 2).sum
    // 1e9: c*(c-1)/2 = 499999999500000000 — not representable in double
    // (the old double-division path rounded it); 4e9: the Long product
    // c*(c-1) overflows (the old cast silently wrapped)
    val cases = Seq(Seq(3L, 7L, 1L), Seq(1000000000L), Seq(4000000000L),
      Seq(123456789L, 987654321L))
    cases.foreach { cs =>
      val df = cs.toDF("c")
      val want = exact(cs)
      val got = DedupOps.pairBound(df, "c")
      assert(BigInt(got) == want.min(BigInt(Long.MaxValue)),
        s"pairBound($cs) = $got, want $want")
    }
    // clamp: a bound past Long range must saturate, not wrap
    val huge = Seq(Long.MaxValue / 2, Long.MaxValue / 2).toDF("c")
    assert(DedupOps.pairBound(huge, "c") == Long.MaxValue)
  }

  test("selfJoinBitsMeasured advisory mode: a duplicate-heavy corpus stops " +
    "the walk at the plateau instead of walking to the 24-bit cap") {
    // 400 IDENTICAL vectors: they collide in every table at ANY bits, so
    // the bound (8 tables x C(400,2) = 638,400) is irreducible — each +2
    // bits step cannot halve it, and the advisory walk must stop after at
    // most one step past the seed instead of paying 7 more full-corpus
    // aggregates on the way to the cap.
    val emb = (0 until 400).map(i =>
      (i.toLong, Array.tabulate(8)(d => (d + 1).toFloat))).toDF("vec_id", "embedding")
    val seed = SimilarityOps.selfJoinBits(400)
    val (bits, bound) = SimilarityOps.selfJoinBitsMeasured(emb,
      maxPairs = 1000L, allowOverBudget = true)
    assert(bound > 1000L, "the bound is genuinely over budget")
    assert(bits <= seed + 2,
      s"advisory walk must stop at the plateau (got $bits bits, seed $seed)")
    // strict mode on the same corpus still fails loud (unchanged contract)
    val ex = intercept[IllegalStateException] {
      SimilarityOps.selfJoinBitsMeasured(emb, maxPairs = 1000L)
    }
    assert(ex.getMessage.contains("candidate bound"))
  }

  test("CorpusGen stopword-head profile: prefix filtering SELECTS on the " +
    "realistic df shape (prefix pair bound << raw inverted-index bound)") {
    // The driver corpus (31-word vocabulary, df p99/p50 = 1.3) AND the
    // topic-remapped default generator (no cross-doc shared vocabulary at
    // all — measured ~2x selection at any n) both lack the regime the
    // prefix filter exists for. stopFrac adds the global stopword head of
    // real text: stopword shingles carry corpus-scale df (quadratic raw
    // bound) while content shingles stay rare (the df-ascending prefix
    // skips the stopword mass). The sf10 sweep records the same two
    // numbers at 500 k docs via observed.ngram_inverted_join vs
    // observed.ppjoin_prefix_join.
    import org.apache.spark.sql.expressions.Window
    val docs = CorpusGen.documents(spark, 5000, numPartitions = 4, stopFrac = 0.5)
    val sh = docs.select(col("doc_id"),
      DedupOps.shinglesFromTokens(TextOps.tokens(col("text"))).as("s"))
    val ex = sh.select(col("doc_id"), explode(col("s")).as("sg"), size(col("s")).as("nsh"))
      .persist()
    val raw = DedupOps.pairBound(
      ex.groupBy(col("sg")).agg(count(lit(1)).as("df")), "df")
    val dfs = ex.groupBy(col("sg")).agg(count(lit(1)).as("df"))
    val tau = 0.5
    val prefix = ex.join(dfs, "sg")
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("df"), col("sg"))))
      .filter(col("rnk") <= col("nsh") - ceil(col("nsh") * tau) + 1)
    val pref = DedupOps.pairBound(
      prefix.groupBy(col("sg")).agg(count(lit(1)).as("dfp")), "dfp")
    ex.unpersist()
    assert(raw > 0 && pref > 0, s"degenerate profile: raw=$raw pref=$pref")
    assert(pref * 4 <= raw,
      s"prefix must select at least 4x on the stopword-head corpus: raw=$raw pref=$pref")
  }

  test("stopFrac default is bit-identical to the historical stream (the " +
    "recorded artifacts and reusable corpus dirs depend on it)") {
    // same call through the 3-arg path and an explicit 0.0
    (0L until 50L).foreach { id =>
      assert(graft.functions.SyntheticCorpus.docText(id, 50000, 6L) ==
        graft.functions.SyntheticCorpus.docText(id, 50000, 6L, 0.0))
    }
    // and a pinned fingerprint of the stream itself, so a refactor that
    // accidentally consumes an extra RNG draw in the default path cannot
    // pass silently (value recorded from the pre-stopFrac implementation)
    val h = (0L until 100L).map(id =>
        graft.functions.SyntheticCorpus.docText(id, 50000, 6L))
      .mkString("\u0000").hashCode
    assert(h == StreamPin, s"default-stream fingerprint moved: $h")
  }

  /** hashCode of docs 0..99 under the pre-stopFrac generator — verified
    * per-doc md5-identical against the persisted pre-change 500 k corpus
    * (/tmp/graft_scale/n500000, generated before the stopFrac branch
    * landed); the branch must not consume RNG draws when stopFrac == 0. */
  private val StreamPin = 1710657010

  test("weighted simhash is a strict generalization: empty table + default " +
    "1.0 is bit-identical to simhash64") {
    val docs = CorpusGen.documents(spark, 300, numPartitions = 2,
      stopFrac = 0.25)
    val diff = docs.select(
        graft.functions.GraftFunctions.simhash64(
          TextOps.tokens(col("text"))).as("a"),
        graft.functions.GraftFunctions.simhash64Weighted(
          TextOps.tokens(col("text")), Nil, Nil, 1.0).as("b"))
      .filter(col("a") =!= col("b")).count()
    assert(diff == 0, s"$diff docs fingerprint differently under ±1.0 votes")
  }

  test("idf-weighted simhash on a stopword-head corpus: unrelated docs " +
    "DECORRELATE (the 300s sf10 artifact), planted pairs stay recalled") {
    val n = 2000L
    val docs = CorpusGen.documents(spark, n, numPartitions = 4,
      stopFrac = 0.25).persist()
    val un = DedupOps.simhashFingerprints(docs).withColumnRenamed("fp", "fp_un")
    val wt = DedupOps.simhashIdfFingerprints(docs).withColumnRenamed("fp", "fp_wt")
    val both = un.join(wt, "doc_id").persist()
    // independent probe pairs: group positions 3..9 are mutual independents;
    // (g+3, g+4) samples one independent pair per group
    val a = both.filter(pmod(col("doc_id"), lit(10)) === 3)
      .select((col("doc_id") + 1).as("doc_id"),
        col("fp_un").as("ua"), col("fp_wt").as("wa"))
    val indep = a.join(both, "doc_id").select(
      graft.functions.GraftFunctions.hamming64(col("ua"), col("fp_un")).as("h_un"),
      graft.functions.GraftFunctions.hamming64(col("wa"), col("fp_wt")).as("h_wt"))
      .agg(avg(col("h_un")).as("mu_un"), avg(col("h_wt")).as("mu_wt"))
      .head()
    val (muUn, muWt) = (indep.getDouble(0), indep.getDouble(1))
    // the failure mode being fixed: the shared stopword head drags
    // unrelated fingerprints together (mean hamming well under the ~32 of
    // independent 64-bit words); idf weighting must restore separation
    assert(muWt > muUn,
      s"idf weighting did not decorrelate independents: un=$muUn wt=$muWt")
    assert(muWt >= 24,
      s"weighted independent-pair mean hamming too low: $muWt (un=$muUn)")
    // planted recall through the same banding machinery (radius 6):
    // exact copies are fp-identical by construction; near copies share
    // their content mass so idf weighting must keep them in-radius
    val planted = CorpusGen.plantedPairs(spark, n)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val found = DedupOps.simhashPairsFromFingerprints(
        wt.withColumnRenamed("fp_wt", "fp"), maxHamming = 6)
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exacts = planted.filter(_._3 == "exact")
    assert(exacts.forall(p => found.contains((p._1, p._2))),
      "every planted exact pair must be found (hamming 0)")
    val nears = planted.filter(_._3 == "near")
    val nearRecall = nears.count(p => found.contains((p._1, p._2))).toDouble /
      math.max(1, nears.length)
    assert(nearRecall >= 0.9, s"near planted recall $nearRecall < 0.9")
    // and the cost claim: at the same radius the weighted fingerprints
    // yield FEWER total pairs (the unweighted false cross-topic mass is
    // exactly what made the sf10 hamming-ball stage quadratic)
    val unPairs = DedupOps.simhashPairsFromFingerprints(
      un.withColumnRenamed("fp_un", "fp"), maxHamming = 6).count()
    assert(found.size * 2 <= unPairs,
      s"weighted pair volume ${found.size} should undercut unweighted " +
        s"$unPairs by at least 2x (measured 3x at this n/stopFrac)")
    info(f"indep mean hamming: un=$muUn%.1f wt=$muWt%.1f; " +
      f"near recall=$nearRecall%.4f; pairs: wt=${found.size} un=$unPairs")
    both.unpersist(); docs.unpersist()
  }
}
