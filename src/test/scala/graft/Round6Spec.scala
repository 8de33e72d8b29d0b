package graft

/** Round-6 hardening: the bucket-count sketch pre-verify filter must be
  * EXACT-admissible (never drops a pair the full verify would keep), and
  * the verify pipeline with the filter active must emit identical pairs to
  * a filter-free reference. */
class Round6Spec extends SparkSpecBase {

  private def sketch(hashes: Seq[Long]): Array[Byte] = {
    val sk = new Array[Byte](256)
    hashes.distinct.foreach { h =>
      val b = (h >>> 56).toInt
      if (sk(b) != -1) sk(b) = (sk(b) + 1).toByte
    }
    sk
  }

  test("sketch_intersect_ub upper-bounds the true intersection on random hash sets") {
    import spark.implicits._
    val rnd = new scala.util.Random(6L)
    // sets drawn from a small pool so intersections are non-trivial
    val pool = Array.fill(4000)(rnd.nextLong())
    val sets = Seq.tabulate(60) { i =>
      (i.toLong, Seq.fill(50 + rnd.nextInt(400))(pool(rnd.nextInt(pool.length))).distinct.sorted)
    }
    val df = sets.toDF("id", "hv")
      .selectExpr("id", "hv", "bucket_count_sketch(hv) as sk")
    val pairs = df.as("a").join(df.as("b"), org.apache.spark.sql.functions.expr("a.id < b.id"))
      .selectExpr("a.id as ai", "b.id as bi",
        "sketch_intersect_ub(a.sk, b.sk) as ub",
        "sorted_intersect_count(a.hv, b.hv) as inter")
      .collect()
    assert(pairs.nonEmpty)
    pairs.foreach { r =>
      val ub = r.getInt(2); val inter = r.getLong(3)
      assert(ub == -1 || ub >= inter,
        s"sketch bound $ub under true intersection $inter for pair (${r.getLong(0)}, ${r.getLong(1)})")
    }
    // and the bound must actually discriminate: for disjoint-ish random sets
    // it should often be far below min(|A|,|B|) — sanity that it's not
    // degenerate (all -1 or all min)
    assert(pairs.exists(r => r.getInt(2) >= 0))
  }

  test("sketch_intersect_ub returns -1 (no bound) only when both sides saturate a bucket") {
    // 300 hashes in one top-byte bucket saturate the byte counter at 255
    def inBucket(bucket: Int, n: Int): Seq[Long] =
      Seq.tabulate(n)(i => (bucket.toLong << 56) | i.toLong)
    val satA = sketch(inBucket(7, 300))
    val satB = sketch(inBucket(7, 280))
    val small = sketch(inBucket(7, 40) ++ inBucket(9, 10))
    val eval = (x: Array[Byte], y: Array[Byte]) =>
      graft.functions.SketchIntersectUB(
        org.apache.spark.sql.catalyst.expressions.Literal(x),
        org.apache.spark.sql.catalyst.expressions.Literal(y)).eval(null).asInstanceOf[Int]
    assert(eval(satA, satB) == -1, "both saturated in bucket 7 → bound unavailable")
    // one saturated side is still exact: min(255-capped, 50) = true min
    assert(eval(satA, small) == 40 + 0, "min(sat, unsat) stays exact")
    assert(eval(small, small) == 50)
  }

  test("decodeVideoFrames really decodes MJPEG-in-AVI frames; non-MJPEG falls back to the stub") {
    import spark.implicits._
    import graft.ops.MultimodalOps
    // 6 frames of known constant grays, sampled every 2nd → frames 0,2,4
    val lumas = Seq(30, 60, 90, 120, 150, 200)
    val mjpeg = MultimodalOps.synthMjpegAvi(48, 32, 40000L, lumas)
    // an AVI with no frames and a non-AVI payload both stub out
    val plainAvi = MultimodalOps.synthAvi(64, 48, 40000L, 10L, 1)
    val media = Seq(
      MultimodalOps.MediaRecord(1L, mjpeg, "video"),
      MultimodalOps.MediaRecord(2L, plainAvi, "video"),
      MultimodalOps.MediaRecord(3L, Array[Byte](1, 2, 3, 4), "video")).toDS()
    val out = MultimodalOps.decodeVideoFrames(spark, media, everyK = 2)
      .collect().groupBy(_.media_id)

    val real = out(1L).sortBy(_.frame_idx)
    assert(real.map(_.frame_idx).toSeq == Seq(0, 2, 4))
    assert(real.forall(f => f.real_decode && f.width == 48 && f.height == 32))
    // constant-gray JPEG round trip: mean luma within quantization error
    real.zip(Seq(30, 90, 150)).foreach { case (f, expected) =>
      assert(math.abs(f.mean_luma - expected) < 3.0,
        s"frame ${f.frame_idx}: mean_luma ${f.mean_luma} vs planted $expected")
    }
    assert(out(2L).toSeq.map(f => (f.frame_idx, f.real_decode)) == Seq((0, false)))
    assert(out(3L).toSeq.map(f => (f.frame_idx, f.real_decode)) == Seq((0, false)))
  }

  test("tile sizing is lazy: building lev/simhash dedup plans triggers zero Spark jobs") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    // materialize the input FIRST (parquet listing/schema jobs are not the
    // subject of the claim)
    val docs = graft.Tables.documents(spark, sfDir)
    docs.count()
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val lev = graft.ops.DedupOps.levenshteinPairs(docs)
      val sim = graft.ops.DedupOps.simhashPairs(docs)
      Thread.sleep(1500) // listener bus is async; drain before asserting
      assert(jobs.get() == 0,
        s"plan construction ran ${jobs.get()} eager sizing job(s) — tile sizing must be in-plan")
      // and the lazily-sized plans still produce their (oracle-pinned) outputs
      assert(lev.count() > 0 && sim.count() > 0)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("resizeImages really resamples pixels: box arithmetic, luma invariance, fallback") {
    import spark.implicits._
    import graft.ops.MultimodalOps
    val media = Seq(
      // 128x48 gray 96: shrinks to 64x24, luma exactly preserved
      MultimodalOps.MediaRecord(1L, MultimodalOps.synthPng(128, 48, 96), "image"),
      // 40x24 gray 160: inside the box — shrink-only keeps dims
      MultimodalOps.MediaRecord(2L, MultimodalOps.synthPng(40, 24, 160), "image"),
      // 48x96 portrait gray 32: shrinks to 32x64
      MultimodalOps.MediaRecord(3L, MultimodalOps.synthPng(48, 96, 32), "image"),
      // non-image payload: metadata-only fallback
      MultimodalOps.MediaRecord(4L, Array[Byte](9, 9, 9), "image")).toDS()
    val out = MultimodalOps.resizeImages(spark, media, maxDim = 64)
      .collect().map(r => r.media_id -> r).toMap
    assert((out(1L).width, out(1L).height, out(1L).real_decode) == (64, 24, true))
    assert(math.abs(out(1L).mean_luma - 96.0) < 1e-6)
    assert((out(2L).width, out(2L).height) == (40, 24) && out(2L).real_decode)
    assert(math.abs(out(2L).mean_luma - 160.0) < 1e-6)
    assert((out(3L).width, out(3L).height) == (32, 64))
    assert(math.abs(out(3L).mean_luma - 32.0) < 1e-6)
    assert(!out(4L).real_decode && out(4L).out_bytes.isEmpty)
    // the resized bytes are a real lossless raster: decode one back
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(out(1L).out_bytes))
    assert(img.getWidth == 64 && img.getHeight == 24)
    assert((img.getRGB(10, 10) & 0xff) == 96)
  }

  test("ppjoin with the sketch pre-filter matches the inverted-index exact form") {
    val docs = graft.Tables.documents(spark, sfDir)
    val exact = graft.ops.DedupOps.ngramJaccardPairs(docs, tau = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val pp = graft.ops.DedupOps.ngramJaccardPairsPrefix(docs, tau = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(pp == exact, s"ppjoin ${pp.size} pairs vs exact ${exact.size}")
    assert(exact.nonEmpty)
  }

  test("TileNearDupPairs: SIMD path == forced-scalar path exactly (incl. zero norms)") {
    import graft.functions.TileNearDupPairs
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
    assert(TileNearDupPairs.simdLanes > 0,
      "this environment must have jdk.incubator.vector so both kernel paths are exercised")
    val rnd = new scala.util.Random(66)
    val dim = 32
    def vec() = Array.fill(dim)(rnd.nextFloat() - 0.5f)
    def nrm(v: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < v.length) { s += v(i).toDouble * v(i).toDouble; i += 1 }
      math.sqrt(s)
    }
    // ids interleaved across blocks (the suffix search must split mid-block),
    // plus zero-norm rows on both sides
    def block(n: Int, idStep: Int, idOff: Int): GenericArrayData =
      new GenericArrayData((0 until n).map { i =>
        val v = if (i % 37 == 5) Array.fill(dim)(0f) else vec()
        InternalRow((i * idStep + idOff).toLong,
          new GenericArrayData(v.map(Float.box)), nrm(v))
      }.toArray[Any])
    // 200×300×32 = 1.9M > the 64k bT threshold → SIMD path engages
    val a = block(200, 3, 0)
    val b = block(300, 2, 1)
    val expr = TileNearDupPairs(null, null, 0.1)
    def pairs(r: Any): Set[(Long, Long, Double)] = {
      val arr = r.asInstanceOf[ArrayData]
      (0 until arr.numElements()).map { i =>
        val s = arr.getStruct(i, 3); (s.getLong(0), s.getLong(1), s.getDouble(2))
      }.toSet
    }
    val simd = pairs(expr.nullSafeEval(a, b))
    TileNearDupPairs.simdDisabled = true
    val scalar = try pairs(expr.nullSafeEval(a, b))
    finally TileNearDupPairs.simdDisabled = false
    assert(simd == scalar, s"SIMD ${simd.size} pairs vs scalar ${scalar.size}")
    assert(simd.nonEmpty, "tau=0.1 on random 32-dim vectors must emit some pairs")
  }

  test("mixtureSample: deterministic coin, per-source rates track target fractions") {
    val docs = graft.Tables.documents(spark, sfDir)
    val s1 = graft.ops.TextAnalysis.mixtureSample(docs)
    // deterministic: two plans, identical output
    assert(s1.collect().map(_.getLong(0)).sorted.toSeq ==
      graft.ops.TextAnalysis.mixtureSample(docs).collect().map(_.getLong(0)).sorted.toSeq)
    // every kept row individually satisfies its source's coin — recompute
    val kept = s1.collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val all = docs.select("doc_id", "source").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    all.foreach { case (id, src) =>
      val frac = ((src.drop(3).toInt % 5) + 1) / 5.0
      val u = java.lang.Long.remainderUnsigned(id * 2654435761L, 4294967296L) / 4294967296.0
      assert(kept.contains((id, src)) == (u < frac), s"doc $id src $src u=$u frac=$frac")
    }
    // fraction-5 sources (idx%5==4 → frac 1.0) are kept in full
    val full = all.filter { case (_, s) => s.drop(3).toInt % 5 == 4 }
    assert(full.nonEmpty && full.forall(kept.contains))
  }

  test("curateFull == curate over the mixture+repetition-filtered corpus, stages compose") {
    val docs = graft.Tables.documents(spark, sfDir)
    val staged = docs.filter(
      graft.ops.TextAnalysis.mixtureKeep && graft.ops.TextAnalysis.repetitionOk())
    val viaCurate = graft.ops.CurationPipeline.curate(staged)
      .collect().map(_.getLong(0)).toSet
    val full = graft.ops.CurationPipeline.curateFull(docs)
      .collect().map(_.getLong(0)).toSet
    assert(full == viaCurate && full.nonEmpty)
    // every survivor individually passes both predicate stages
    val kept = docs.filter(org.apache.spark.sql.functions.col("doc_id").isin(full.toSeq: _*))
    assert(kept.filter(!graft.ops.TextAnalysis.mixtureKeep).count() == 0)
    assert(kept.filter(!graft.ops.TextAnalysis.repetitionOk()).count() == 0)
    // NOT a subset of plain curate: survivor-set semantics mean a doc whose
    // near-dup partner was mixture-dropped legitimately survives here —
    // so assert only the stage arithmetic above, not containment.
  }

  test("repetitionScore: ratios from first principles on crafted docs") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b a b a b"),       // 6 tokens {a,b}, 5 bigrams {a b, b a} -> dup-heavy
      (2L, "u v w x y z"),       // all distinct: both ratios 0
      (3L, "solo"),              // 1 token, 0 bigrams -> guarded division
      (4L, "")                   // empty text
    ).toDF("doc_id", "text")
    val out = graft.ops.TextAnalysis.repetitionScore(docs)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getLong(1) == 6 && out(1L).getLong(2) == 2)     // tokens, distinct
    assert(out(1L).getLong(3) == 5 && out(1L).getLong(4) == 2)     // bigrams, distinct
    assert(out(1L).getDouble(5) == math.BigDecimal(1.0 - 2.0 / 6).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(out(1L).getDouble(6) == 0.6 && out(1L).getInt(7) == 1)  // 1 - 2/5, flagged
    assert(out(2L).getDouble(5) == 0.0 && out(2L).getDouble(6) == 0.0 && out(2L).getInt(7) == 0)
    // degenerate docs (no bigrams / no tokens) are NOT repetitive
    assert(out(3L).getLong(1) == 1 && out(3L).getLong(3) == 0 &&
      out(3L).getDouble(6) == 0.0 && out(3L).getInt(7) == 0)
    assert(out(4L).getLong(1) == 0 && out(4L).getDouble(5) == 0.0 && out(4L).getInt(7) == 0)
  }

  test("multi-probe LSH: probe set supersets probes=0, flips lowest-margin bits, lifts recall") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dim = 32
    val planes = graft.functions.HyperplaneLsh.genPlanes(4 * 8, dim, 42L)
    // structural: first tables ids identical; flipped ids differ by exactly
    // one bit inside the table namespace; all flips distinct
    val rnd = new scala.util.Random(3)
    val vecs = Seq.fill(50)(Array.fill(dim)(rnd.nextGaussian().toFloat)).toDF("v")
    val both = vecs.select(
      graft.functions.GraftFunctions.hyperplaneLsh(col("v"), planes, 4, 8).as("base"),
      graft.functions.GraftFunctions.hyperplaneLsh(col("v"), planes, 4, 8, 3).as("mp"))
      .collect()
    both.foreach { r =>
      val base = r.getSeq[Int](0)
      val mp = r.getSeq[Int](1)
      assert(mp.length == 4 * 4 && mp.distinct.length == mp.length)
      (0 until 4).foreach { t =>
        val group = mp.slice(t * 4, t * 4 + 4)
        assert(group.head == base(t), "first id per table must be the base bucket")
        group.tail.foreach { f =>
          assert(java.lang.Integer.bitCount(f ^ base(t)) == 1 &&
            (f >> 8) == t, "each probe flips exactly one sign bit, same table")
        }
      }
    }
    // behavioral: on a hard config (1 table is too few for this noise
    // level) multi-probe must strictly beat single-probe recall, and the
    // candidate set must superset it (flips only ADD probe buckets)
    val rows = (0 until 200).flatMap { i =>
      val base = Array.fill(dim)(rnd.nextGaussian().toFloat)
      val partner = base.map(v => v + (rnd.nextGaussian() * 0.35f).toFloat)
      Seq((i.toLong, base), (i + 1000L, partner))
    }
    val planted = rows.toDF("vec_id", "embedding")
    def hits(flips: Int): Int =
      graft.ops.SimilarityOps.annLshTopK(planted, nQueries = 200, k = 1,
          tables = 1, bits = 8, flips = flips)
        .select("q_id", "n_id").collect()
        .count(r => r.getLong(1) == r.getLong(0) + 1000L)
    val h0 = hits(0); val h3 = hits(3)
    assert(h3 > h0, s"multi-probe recall must improve: flips=0 -> $h0, flips=3 -> $h3")
    assert(h3 >= 120, s"flips=3 should recover most planted partners, got $h3/200")
  }

  test("bloom filter: distributed build has no false negatives, sane FPR, merge=OR") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val members = (0L until 5000L).map(i => s"gram-$i")
    val blob = members.toDF("g").repartition(8) // force partial-buffer merges
      .agg(graft.functions.GraftFunctions.bloomBuild(xxhash64(col("g")), 50000, 7))
      .head().getAs[Array[Byte]](0)
    // every inserted member must test positive (distributed == no losses)
    val fn = members.toDF("g")
      .filter(!graft.functions.GraftFunctions.bloomMightContain(xxhash64(col("g")), blob))
      .count()
    assert(fn == 0L, s"bloom false negatives: $fn")
    // FPR on definitely-absent keys near the 10-bits/elem design point (~1%)
    val absent = (0L until 20000L).map(i => s"absent-$i")
    val fp = absent.toDF("g")
      .filter(graft.functions.GraftFunctions.bloomMightContain(xxhash64(col("g")), blob))
      .count()
    assert(fp < 20000 * 0.03, s"bloom FPR too high: $fp/20000")
  }

  test("decontaminate_bloom emits exactly decontaminate's survivor set") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // planted contamination: every 7th corpus doc embeds a benchmark
    // passage (≥5 shared trigrams), the rest are clean
    val rnd = new scala.util.Random(11)
    def sentence(seed: Int) =
      Seq.fill(12)(s"w${seed}_${rnd.nextInt(500)}").mkString(" ")
    val benchTexts = (0 until 40).map(i => (1000L + i, sentence(i)))
    val corpusTexts = (0 until 280).map { i =>
      val base = sentence(i + 100)
      val text = if (i % 7 == 0) base + " " + benchTexts(i % 40)._2 else base
      (i.toLong, text)
    }
    val corpus = corpusTexts.toDF("doc_id", "text")
    val bench = benchTexts.toDF("doc_id", "text")
    val exact = graft.ops.CurationPipeline.decontaminate(corpus, bench)
      .collect().map(_.getLong(0)).sorted
    val bloom = graft.ops.CurationPipeline.decontaminateBloom(corpus, bench)
      .collect().map(_.getLong(0)).sorted
    assert(exact.nonEmpty && exact.length < 280,
      s"spec needs a non-trivial survivor set, got ${exact.length}/280")
    assert(bloom.sameElements(exact),
      s"bloom path diverged: ${bloom.length} vs ${exact.length} survivors")
    // and the plan must NOT contain a broadcast of the gram relation —
    // the whole point of the bloom twin (the anti-join on tiny doc_id
    // keys may still broadcast; grams must not)
    val planDf = graft.ops.CurationPipeline.decontaminateBloom(corpus, bench)
    val plan = planDf.queryExecution.executedPlan.toString
    val broadcastsGrams = plan.linesIterator
      .exists(l => l.contains("BroadcastExchange") && l.contains("gram"))
    assert(!broadcastsGrams, "gram relation must not broadcast in the bloom path")
  }
}
