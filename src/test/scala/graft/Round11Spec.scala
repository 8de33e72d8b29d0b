package graft

import org.apache.spark.sql.functions._
import graft.ops._

/** Round-11: distCh's DISTRIBUTED listing (no whole-tree driver buffer —
  * driver seeds are bounded, tasks walk subtrees), executor FileSystem
  * built from the broadcast session configuration. */
class Round11Spec extends SparkSpecBase {

  import spark.implicits._

  private def wipe(dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
  }

  test("distCh: deep synthetic tree (depth 12, wider than any driver seed " +
    "level) is fully audited — every path exactly once, chmod applied") {
    val root = "/tmp/graft_test_distch_deep"
    wipe(root)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // depth-12 chain with 3 files per level + a 20-dir fan at the top:
    // the driver expansion stops well before the leaves, so correctness
    // here proves the per-task BFS walks what the driver never saw.
    val expected = scala.collection.mutable.Set.empty[String]
    def touch(p: String): Unit = {
      val out = fs.create(new org.apache.hadoop.fs.Path(p)); out.write(1); out.close()
      expected += s"file:$p"
    }
    var cur = root
    fs.mkdirs(new org.apache.hadoop.fs.Path(cur)); expected += s"file:$cur"
    for (d <- 1 to 12) {
      cur = s"$cur/d$d"
      fs.mkdirs(new org.apache.hadoop.fs.Path(cur)); expected += s"file:$cur"
      for (f <- 1 to 3) touch(s"$cur/f$f.txt")
    }
    for (w <- 1 to 20) {
      val dir = s"$root/wide$w"
      fs.mkdirs(new org.apache.hadoop.fs.Path(dir)); expected += s"file:$dir"
      touch(s"$dir/leaf.txt")
    }
    val audit = graft.sources.IO.distCh(spark, root, mode = Some("700"),
      partitions = 8, maxDriverSeeds = 16).collect()
    assert(audit.map(_.getString(0)).toSet == expected.toSet,
      "audit covers exactly the tree")
    assert(audit.length == expected.size, "every path audited exactly once")
    assert(audit.forall(r => r.getBoolean(2) && r.isNullAt(5)),
      "chmod landed everywhere with no error rows")
    val aFile = new org.apache.hadoop.fs.Path(s"$root/d1/f1.txt")
    assert(fs.getFileStatus(aFile).getPermission.toShort == Integer.parseInt("700", 8).toShort,
      "mode actually changed on disk")
    wipe(root)
  }

  test("distCh: executor-side FileSystem honors the SESSION hadoop conf " +
    "(a session-only key is visible through the broadcast)") {
    // the old code built executor FileSystems from `new Configuration()`;
    // prove the broadcast carries session-level settings by checking the
    // wrapper round-trips a custom key (the mechanism distCh now uses).
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("graft.test.session.key", "carried")
    try {
      val wrapped = new graft.sources.SerializableHadoopConf(conf)
      val bos = new java.io.ByteArrayOutputStream()
      val oos = new java.io.ObjectOutputStream(bos); oos.writeObject(wrapped); oos.close()
      val back = new java.io.ObjectInputStream(
        new java.io.ByteArrayInputStream(bos.toByteArray))
        .readObject().asInstanceOf[graft.sources.SerializableHadoopConf]
      assert(back.value.get("graft.test.session.key") == "carried",
        "session conf must survive serialization to executors")
      // and the distributed op still works end-to-end with the broadcast
      val root = "/tmp/graft_test_distch_conf"
      wipe(root)
      val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(conf)
      fs.mkdirs(new org.apache.hadoop.fs.Path(s"$root/a"))
      val out = fs.create(new org.apache.hadoop.fs.Path(s"$root/a/f.txt"))
      out.write(1); out.close()
      val audit = graft.sources.IO.distCh(spark, root, mode = Some("750")).collect()
      assert(audit.length == 3 && audit.forall(_.getBoolean(2)))
      wipe(root)
    } finally conf.unset("graft.test.session.key")
  }

  test("pipeThroughCombined: combiner + reducer == reducer alone on a " +
    "run-length sum workload (MR combiner contract)") {
    val ev = Tables.events(spark, sfDir)
      .select(col("event_type"), lit("1").as("payload"))
    // contiguous-key summing awk: correct per partition only if the
    // combiner sees its partition sorted; correct globally only if the
    // reducer sees each key's partials contiguously in one subprocess
    val sumAwk = Seq("awk", "-F", "\t",
      "{ if (NR>1 && $1!=k) print k\"\\t\"s; if ($1!=k) { k=$1; s=0 }; s+=$2 } " +
      "END { if (NR>0) print k\"\\t\"s }")
    val combined = PipeOps.pipeThroughCombined(spark, ev, "event_type",
        "payload", sumAwk, sumAwk, numPartitions = 4)
      .select(col("event_type"), col("out").cast("long").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val reducerOnly = PipeOps.pipeThroughSorted(spark, ev, "event_type",
        "payload", sumAwk, numPartitions = 4)
      .select(col("event_type"), col("out").cast("long").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val direct = ev.groupBy("event_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(combined == direct, s"combiner+reducer broke the sum: $combined vs $direct")
    assert(reducerOnly == direct, s"reducer-alone baseline broke: $reducerOnly")
  }

  test("one-sided pentomino: 18 pieces (6 chiral mirrors), placements flip-" +
    "free, and the 3x30 board counts 184 = 4 x the published 46") {
    assert(PuzzleOps.oneSidedPieceOrients.size == 18,
      "12 free pieces + 6 chiral mirrors")
    // no one-sided piece's orientation list may contain its own mirror
    // unless the mirror is a rotation (achiral)
    PuzzleOps.oneSidedPieceOrients.foreach { orients =>
      assert(orients.size <= 4, "rotations only: at most 4 orientations")
    }
    val counts = PuzzleOps.pentominoCounts(spark, Seq((3, 30)),
      splitDepth = 3, oneSided = true).collect()
    // published: 46 distinct up to the rectangle's 4 symmetries; this suite
    // counts symmetric duplicates included (free-family convention:
    // 6x10 = 9356 = 4 x 2339), and no 3x30 one-sided tiling is
    // self-symmetric, so the full count is exactly 4 x 46 = 184
    assert(counts.length == 1 && counts(0).getString(0) == "3x30" &&
      counts(0).getLong(1) == 184L,
      s"one-sided 3x30 full count is 184 (= 4 x published 46), got ${counts.toList}")
  }

  test("minhashLshPairs maxBucket cap: adversarial all-identical corpus is " +
    "bounded, still fully grouped by CC, and the cap is a no-op on an " +
    "honest corpus") {
    import spark.implicits._
    // adversarial: 60 identical docs — every band bucket degenerates
    val adv = (0L until 60L).map(i =>
      (i, "the same exact document text repeated for every row here")).toDF("doc_id", "text")
    val capped = DedupOps.minhashLshPairs(adv, tau = 0.8, maxBucket = 8)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    // bound: each doc pairs only with the first 8 members ⇒ ≤ 8*N pairs,
    // far under the uncapped N(N−1)/2 = 1770
    assert(capped.nonEmpty && capped.length <= 8 * 60,
      s"cap must bound candidate pairs, got ${capped.length}")
    assert(capped.length < 1770, "cap must actually bite on the degenerate corpus")
    // the capped pair set still connects all 60 docs into ONE component
    val cc = DedupOps.connectedComponents(
      capped.toSeq.toDF("a_id", "b_id")).collect()
    assert(cc.map(_.getLong(1)).distinct.length == 1,
      "saturation pairing must keep the duplicate cluster in one component")
    // honest corpus: cap ≥ real bucket sizes ⇒ output identical to exact
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    def pairs(mb: Int) = DedupOps.minhashLshPairs(docs, tau = 0.8, maxBucket = mb)
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs(100000) == pairs(0),
      "a cap larger than every bucket must not change the output")
  }

  test("bloomMightContain: the large-blob broadcast path answers exactly " +
    "like the parsed model (no false negatives, identical decisions)") {
    import spark.implicits._
    import graft.functions.GraftFunctions
    val hashes = (1L to 2000L).map(i => i * 0x9E3779B97F4A7C15L)
    val df = hashes.toDF("h")
    val numBits = 9000000 // ~1.1 MB blob — over the 1 MB literal gate
    val blob = df.agg(GraftFunctions.bloomBuild(col("h"), numBits, 7).as("b"))
      .head().getAs[Array[Byte]](0)
    assert(blob.length > (1 << 20), "test must exercise the broadcast path")
    assert(df.filter(GraftFunctions.bloomMightContain(col("h"), blob)).count() == 2000,
      "no false negatives through the broadcast path")
    val model = graft.functions.GraftBloom.parse(blob)
    val probes = (1L to 5000L).map(i => i * 31L + 7L)
    val viaCol = probes.toDF("h")
      .filter(GraftFunctions.bloomMightContain(col("h"), blob))
      .collect().map(_.getLong(0)).toSet
    assert(viaCol == probes.filter(model.mightContain).toSet,
      "broadcast probe must be bit-identical to the model")
  }

  test("decodeAudio SPI cache: cached-provider decode is row-identical to " +
    "the AudioSystem lookup path, including the degrade-to-stub rows") {
    import spark.implicits._
    // mixed corpus: real WAVs (varying frames/amp) + garbage payloads that
    // must degrade identically on both paths
    val media = spark.range(0, 64).as[Long].map { id =>
      if (id % 7 == 6)
        MultimodalOps.MediaRecord(id, Array.tabulate(32)(i => (id + i).toByte), "audio")
      else MultimodalOps.MediaRecord(id,
        MultimodalOps.synthWav((100 + id % 400).toInt, 8000f, ((id % 9) + 1) / 10.0),
        "audio")
    }.cache()
    def rows() = MultimodalOps.decodeAudio(spark, media)
      .collect().sortBy(_.media_id).toSeq
    val fast = rows()
    assert(fast.count(_.real_decode) > 0, "fast path must really decode")
    MultimodalOps.forceAudioSystemSpi = true
    try assert(rows() == fast,
      "cached-SPI decode must equal the AudioSystem path row-for-row")
    finally MultimodalOps.forceAudioSystemSpi = false
  }

  // ---- semanticDedupAnn (the ANN scale path of semanticDedup) ----

  test("semanticDedupAnn: exactly-parallel cluster corpus — ANN output " +
    "equals the exact path (recall structural: same-direction vectors " +
    "share every LSH bucket; precision exact by the cosine verify)") {
    import spark.implicits._
    // 4 clusters of exactly-parallel vectors (scaled copies: cos = 1
    // within, sign-LSH buckets identical by construction) on orthogonal-ish
    // axes (cos = 0 across < tau — any accidental bucket collision is
    // killed by the exact verify)
    val dim = 8
    val emb = (0L until 40L).map { i =>
      val axis = (i % 4).toInt
      val scale = 1.0f + (i / 4).toFloat
      (i, Array.tabulate(dim)(d => if (d == axis * 2) scale else 0.0f))
    }.toDF("vec_id", "embedding")
    def norm(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).sortBy(_._1).toSeq
    val ann = norm(SimilarityOps.semanticDedupAnn(emb))
    val exact = norm(SimilarityOps.semanticDedup(spark, emb))
    assert(exact.map(_._2).distinct.length == 4, "fixture must form 4 exact groups")
    assert(ann == exact, "ANN path must equal the exact path on this corpus")
  }

  test("semanticDedupAnn: on the testdata corpus the ANN grouping REFINES " +
    "the exact grouping (ANN pairs are a verified subset), shape invariants " +
    "hold, and the dump-relation recovery is path-identical") {
    val emb = Tables.embeddings(spark, sfDir)
    val ann = SimilarityOps.semanticDedupAnn(emb).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(ann.length == emb.count(), "one row per vector")
    assert(ann.forall { case (id, g, k) => k == (id == g) && g <= id },
      "keep <=> canonical, min-label group ids")
    val exactGroup = SimilarityOps.semanticDedup(spark, emb).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // ANN candidate pairs pass the same exact-cosine verify, so the ANN
    // pair graph is a subgraph of the exact one: ANN components can only
    // split exact components, never merge across them
    val annGroups = ann.groupBy(_._2).values
    assert(annGroups.forall(g => g.map(x => exactGroup(x._1)).distinct.length == 1),
      "an ANN group must never span two exact groups")
    assert(ann.exists { case (id, g, _) => id != g },
      "testdata should contain semantic near-dups the ANN path finds")
    // dump-relation recovery (the Verify shape) is the same computation
    val viaDump = SimilarityOps.semanticDedupFromBuckets(emb,
      SimilarityOps.lshIndexRelation(emb,
        bits = SimilarityOps.selfJoinBitsMeasured(emb,
          SimilarityOps.DefaultSemAnnPairBudget)._1)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).sortBy(_._1).toSeq
    assert(viaDump == ann.sortBy(_._1).toSeq)
  }

  test("semanticDedupAnn maxBucket cap: degenerate all-identical corpus is " +
    "bounded but still grouped into one component") {
    import spark.implicits._
    val emb = (0L until 50L).map(i =>
      (i, Array.tabulate(8)(d => (d + 1).toFloat))).toDF("vec_id", "embedding")
    val out = SimilarityOps.semanticDedupAnn(emb, maxBucket = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(out.length == 50 && out.map(_._2).distinct.toSeq == Seq(0L),
      "saturation pairing must keep the identical cluster in one component")
  }

  test("semanticDedupAnn budget: a duplicate-heavy corpus no bit count can " +
    "subdivide fails LOUDLY at the walk cap; maxBucket > 0 is the escape " +
    "hatch (cap-bounded join, best-effort sizing)") {
    import spark.implicits._
    // 400 identical vectors: same bucket in EVERY table at ANY bits —
    // bound ~8*400*399/2 ≈ 638k pairs regardless of the walk
    val emb = (0L until 400L).map(i =>
      (i, Array.tabulate(8)(d => (d + 1).toFloat))).toDF("vec_id", "embedding")
    val ex = intercept[IllegalStateException] {
      SimilarityOps.semanticDedupAnn(emb, maxCandidatePairs = 1000L).count()
    }
    assert(ex.getMessage.contains("candidate bound") && ex.getMessage.contains("maxBucket"),
      s"must carry the measured bound and the remediation: ${ex.getMessage}")
    // with the cap the same corpus completes and still groups fully
    val out = SimilarityOps.semanticDedupAnn(emb,
        maxBucket = 5, maxCandidatePairs = 1000L)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.length == 400 && out.map(_._2).distinct.toSeq == Seq(0L))
  }

  // ---- ppjoin pre-flight candidate budget ----

  test("ngramJaccardPairsPrefix maxCandidates: a too-small budget fails " +
    "fast with the measured bound; a generous budget changes nothing") {
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    val ex = intercept[IllegalStateException] {
      DedupOps.ngramJaccardPairsPrefix(docs, maxCandidates = 1L).count()
    }
    assert(ex.getMessage.contains("candidate bound") &&
      ex.getMessage.contains("minhashLshPairs"),
      s"guard message must carry the bound and the remediation: ${ex.getMessage}")
    def pairs(budget: Long) =
      DedupOps.ngramJaccardPairsPrefix(docs, maxCandidates = budget)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs(Long.MaxValue) == pairs(0L),
      "an ample budget must be invisible in the output")
  }
}
