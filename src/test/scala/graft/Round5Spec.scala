package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Round-5 hardening (ADVICE r4): explicit null-event_id contract in the
  * streaming secondary sort, and a path-prefix (not substring) rooted check
  * for connectedComponents' checkpoint dir. */
class Round5Spec extends SparkSpecBase {

  test("secondarySort omits null event_id from the string but counts the row (oracle contract)") {
    val schema = StructType(Seq(
      StructField("user_id", LongType, nullable = true),
      StructField("ts", TimestampType, nullable = true),
      StructField("event_id", LongType, nullable = true)))
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // the null event_id sorts FIRST within the group (nulls-first long sort),
    // so a naive "skip separator on first row" would emit ",10,11"
    val rows = Seq(
      Row(1L, ts("2024-01-01 00:00:01"), null),
      Row(1L, ts("2024-01-01 00:00:02"), 10L),
      Row(1L, ts("2024-01-01 00:00:03"), 11L),
      Row(2L, ts("2024-01-01 00:00:04"), 20L))
    val events = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
    val got = graft.ops.SortOps.secondarySort(events).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    // matches the oracle pair string_agg (skips NULLs) / count(*) (does not)
    assert(got(1L) == ("10,11", 3L), s"got ${got(1L)}")
    assert(got(2L) == ("20", 1L))
  }

  // 16-bit mono PCM WAV with every sample at a constant amplitude — its RMS
  // is exactly that amplitude, making the decoded feature value checkable
  private def wav(nFrames: Int, rateHz: Float, amplitude: Double): Array[Byte] = {
    import javax.sound.sampled._
    val s = math.round(amplitude * 32768.0).toShort
    val pcm = new Array[Byte](nFrames * 2)
    var i = 0
    while (i < nFrames) { pcm(2 * i) = (s & 0xff).toByte; pcm(2 * i + 1) = (s >> 8).toByte; i += 1 }
    val fmt = new AudioFormat(rateHz, 16, 1, true, false)
    val ais = new AudioInputStream(new java.io.ByteArrayInputStream(pcm), fmt, nFrames.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  test("decodeAudio really decodes WAV payloads; non-audio falls back to the stub") {
    import spark.implicits._
    val media = Seq(
      graft.ops.MultimodalOps.MediaRecord(1L, wav(400, 8000f, 0.5), "audio"),
      graft.ops.MultimodalOps.MediaRecord(2L, "not audio at all".getBytes("UTF-8"), "audio")).toDS()
    val got = graft.ops.MultimodalOps.decodeAudio(spark, media)
      .collect().map(d => d.media_id -> d).toMap
    val a = got(1L)
    assert(a.real_decode && a.format == "wave" && a.sample_rate == 8000.0 &&
      a.channels == 1 && a.bits == 16 && a.n_frames == 400L)
    assert(math.abs(a.duration_sec - 0.05) < 1e-9, s"400 frames @ 8 kHz, got ${a.duration_sec}")
    assert(math.abs(a.rms - 0.5) < 1e-3, s"constant-amplitude signal has RMS == amplitude, got ${a.rms}")
    assert(!got(2L).real_decode && got(2L).format == "undecoded")
  }

  test("decodeAudio refuses an oversized declared frame count at the header (bomb guard)") {
    import spark.implicits._
    val media = Seq(graft.ops.MultimodalOps.MediaRecord(1L, wav(400, 8000f, 0.5), "audio")).toDS()
    val got = graft.ops.MultimodalOps.decodeAudio(spark, media, maxDecodeFrames = 100L)
      .collect().head
    assert(!got.real_decode && got.format == "undecoded",
      "a declared frame count above the bound must degrade to the stub before sample reads")
  }

  test("decodeAudio RMS prefix bound caps the work, not the metadata") {
    import spark.implicits._
    val media = Seq(graft.ops.MultimodalOps.MediaRecord(1L, wav(4000, 16000f, 0.25), "audio")).toDS()
    val got = graft.ops.MultimodalOps.decodeAudio(spark, media, maxSampledFrames = 256L)
      .collect().head
    assert(got.real_decode && got.n_frames == 4000L, "header frame count survives the sampling cap")
    assert(math.abs(got.rms - 0.25) < 1e-3, "constant signal: prefix RMS equals full RMS")
  }

  // minimal ISO BMFF / RIFF builders — byte layouts from the public specs
  // (ISO/IEC 14496-12 §8.2.2/§8.3.2, AVI RIFF avih), so the parser is
  // checked against independently-constructed structure
  private def be32(v: Long): Array[Byte] =
    Array(((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte, ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
  private def le32(v: Long): Array[Byte] =
    Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte, ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
  private def cc(s: String): Array[Byte] = s.getBytes("US-ASCII")
  private def box(typ: String, payload: Array[Byte]*): Array[Byte] = {
    val body = payload.flatten.toArray
    be32(8L + body.length) ++ cc(typ) ++ body
  }

  private def tinyMp4(w: Int, h: Int, timescale: Long, duration: Long): Array[Byte] = {
    val mvhd = box("mvhd", Array.fill[Byte](4)(0), // version 0 + flags
      be32(0), be32(0), be32(timescale), be32(duration), // ctime mtime scale dur
      Array.fill[Byte](80)(0)) // rate/volume/reserved/matrix/predefined/next_track
    def tkhd(tw: Int, th: Int) = box("tkhd", Array.fill[Byte](4)(0),
      be32(0), be32(0), be32(1), be32(0), be32(duration), // ctime mtime id rsvd dur
      Array.fill[Byte](8)(0), Array.fill[Byte](8)(0), // reserved + layer/group/vol/rsvd
      Array.fill[Byte](36)(0), // matrix
      be32(tw.toLong << 16), be32(th.toLong << 16)) // 16.16 fixed
    // track 1 is SOUND (zero dimensions), track 2 visual — the parser must
    // take the first track with nonzero dimensions, not just the first track
    box("ftyp", cc("isom"), be32(512), cc("isom"), cc("iso2")) ++
      box("moov", mvhd, box("trak", tkhd(0, 0)), box("trak", tkhd(w, h))) ++
      box("mdat", Array.fill[Byte](16)(0x5a))
  }

  private def tinyAvi(w: Int, h: Int, usPerFrame: Long, frames: Long, streams: Int): Array[Byte] = {
    val avih = cc("avih") ++ le32(56) ++ (le32(usPerFrame) ++ le32(0) ++ le32(0) ++ le32(0) ++
      le32(frames) ++ le32(0) ++ le32(streams) ++ le32(0) ++ le32(w) ++ le32(h) ++
      Array.fill[Byte](16)(0))
    val hdrl = cc("LIST") ++ le32(4L + avih.length) ++ cc("hdrl") ++ avih
    val movi = cc("LIST") ++ le32(4) ++ cc("movi")
    val body = cc("AVI ") ++ hdrl ++ movi
    cc("RIFF") ++ le32(body.length.toLong) ++ body
  }

  test("parseVideoMeta reads MP4 box structure and AVI headers for real; junk falls back") {
    import spark.implicits._
    val media = Seq(
      graft.ops.MultimodalOps.MediaRecord(1L, tinyMp4(640, 360, 1000, 2500), "video"),
      graft.ops.MultimodalOps.MediaRecord(2L, tinyAvi(320, 240, 40000, 250, 2), "video"),
      graft.ops.MultimodalOps.MediaRecord(3L, "definitely not a video".getBytes("UTF-8"), "video")).toDS()
    val got = graft.ops.MultimodalOps.parseVideoMeta(spark, media)
      .collect().map(v => v.media_id -> v).toMap
    val mp4 = got(1L)
    assert(mp4.real_parse && mp4.container == "mp4", mp4.toString)
    assert(mp4.width == 640 && mp4.height == 360, s"visual track dims, got ${mp4.width}x${mp4.height}")
    assert(math.abs(mp4.duration_sec - 2.5) < 1e-9, s"2500/1000 ticks, got ${mp4.duration_sec}")
    assert(mp4.n_tracks == 2)
    val avi = got(2L)
    assert(avi.real_parse && avi.container == "avi" && avi.width == 320 && avi.height == 240)
    assert(math.abs(avi.duration_sec - 10.0) < 1e-9, s"250 frames @ 25 fps, got ${avi.duration_sec}")
    assert(avi.n_tracks == 2)
    assert(!got(3L).real_parse && got(3L).container == "unparsed")
  }

  test("parseMp4 is total on truncated/malformed boxes (no throw, no false positive)") {
    import graft.ops.MultimodalOps.{parseMp4, parseAvi}
    val good = tinyMp4(64, 48, 600, 600)
    for (cut <- Seq(3, 9, 17, good.length / 2)) {
      val t = java.util.Arrays.copyOf(good, cut)
      val r = parseMp4(1L, t) // must not throw; partial metadata is fine
      assert(r.forall(_.container == "mp4"))
    }
    // a box declaring a size beyond the payload must stop the walk cleanly:
    // nothing is reachable past the lie, so no metadata survives → None
    val lying = good.clone()
    System.arraycopy(be32(Int.MaxValue.toLong), 0, lying, 0, 4)
    assert(parseMp4(1L, lying).isEmpty)
    assert(parseAvi(1L, "RIFF".getBytes("US-ASCII")).isEmpty)
  }

  test("both sessionize forms merge an EXACT-gap event (end-inclusive boundary)") {
    // caught at sf1: one exact-1800s gap in the base events (replicated 10x)
    // split under the native op's >= oracle but merged by session_window.
    // Contract pinned here: gap == gapSec merges, gap > gapSec splits —
    // for BOTH the lag-based and the native form.
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, timestamp_seconds}
    val events = Seq(
      (1L, 0L, "a"), (1L, 1800L, "b"),   // exact gap: one session
      (2L, 0L, "c"), (2L, 1801L, "d"),   // just over: two sessions
      (3L, 0L, "e"), (3L, 1799L, "f"))   // under: one session
      .toDF("user_id", "sec", "event_id")
      .withColumn("ts", timestamp_seconds(col("sec"))).drop("sec")
    def counts(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.groupBy("user_id").count().as[(Long, Long)].collect().toMap
    val lag = counts(graft.ops.AggOps.sessionize(events))
    val native = counts(graft.ops.AggOps.sessionizeNative(events))
    assert(lag == Map(1L -> 1L, 2L -> 2L, 3L -> 1L), s"lag form: $lag")
    assert(native == Map(1L -> 1L, 2L -> 2L, 3L -> 1L), s"native form: $native")
  }

  test("ANN dump-path (bucket relations -> topK) equals the direct path for IVF and LSH") {
    // Verify recomputes ann_ivf/lsh_topk FROM the materialized bucket/probe
    // relations so the oracle can check candidates+scores+ranks over the
    // identical parquet; this pins the two paths to the same output.
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet

    val (ib, ip) = graft.ops.SimilarityOps.ivfBucketRelations(emb)
    assert(rows(graft.ops.SimilarityOps.topKFromBucketDumps(emb, ib, ip, k = 5)) ==
      rows(graft.ops.SimilarityOps.ivfTopK(emb)), "IVF dump path diverged")

    val (lb, lp) = graft.ops.SimilarityOps.lshBucketRelations(emb)
    assert(rows(graft.ops.SimilarityOps.topKFromBucketDumps(emb, lb, lp, k = 5)) ==
      rows(graft.ops.SimilarityOps.annLshTopK(emb)), "LSH dump path diverged")
  }

  test("rolling window hashes stay in lockstep with rolling_min_hash (min == fingerprint)") {
    import org.apache.spark.unsafe.types.UTF8String
    import graft.functions.RollingMinHash
    val texts = Seq("", "a", "short", "x" * 15, "y" * 16,
      "the quick brown fox jumps over the lazy dog", "æøå unicode ß text π", "z" * 500)
    for (t <- texts; k <- Seq(1, 4, 16)) {
      val u = UTF8String.fromString(t)
      val all = RollingMinHash.computeAll(u, k).toLongArray()
      assert(all.min == RollingMinHash.compute(u, k), s"k=$k text='${t.take(20)}'")
      val expected = math.max(1, u.getBytes.length - k + 1)
      assert(all.length == expected, s"window count k=$k: ${all.length} != $expected")
    }
  }

  test("tiled levenshteinPairs with sub-split blocks (nsub > 1) matches the builtin formulation") {
    // 1100 docs all sharing the first token and length bucket → maxBlock
    // 1100 → nsub 3: pairs must meet across sub-block tiles exactly once
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, levenshtein, substring}
    val docs = (0L until 1100L).map { i =>
      (i, s"alpha item ${i % 37} ${"pad" * (i % 3).toInt} tail")
    }.toDF("doc_id", "text")
    val p = docs.select(col("doc_id"), substring(col("text"), 1, 48).as("pfx"))
    val expected = p.as("a").join(p.as("b"), col("a.doc_id") < col("b.doc_id"))
      .withColumn("dist", levenshtein(col("a.pfx"), col("b.pfx"), 12).cast("long"))
      .filter(col("dist") >= 0)
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"), col("dist"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val got = graft.ops.DedupOps.levenshteinPairs(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == expected,
      s"tiled: ${got.size} pairs, builtin: ${expected.size}; diff ${(got diff expected).take(3)} / ${(expected diff got).take(3)}")
  }

  test("TileHammingPairs == brute-force xor/popcount on random fingerprint blocks") {
    import graft.functions.TileHammingPairs
    import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
    val rnd = new scala.util.Random(7)
    // clustered longs so some pairs actually land within the radius
    def blk(n: Int) = Array.fill(n)(rnd.nextLong() & 0xff00ff00ff00ff0L | (rnd.nextInt(4).toLong))
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, IntegerType, LongType}
    for (trial <- 1 to 5) {
      val a = blk(40 + trial); val b = blk(35)
      // band 0 of 1: the first-band skip is vacuous — plain kernel parity
      val expr = TileHammingPairs(
        Literal(new GenericArrayData(a), ArrayType(LongType)),
        Literal(new GenericArrayData(b), ArrayType(LongType)),
        Literal(0, IntegerType), 6, 1)
      val got = expr.eval(null).asInstanceOf[ArrayData]
      val gotSet = (0 until got.numElements()).map { i =>
        val r = got.getStruct(i, 3); (r.getLong(0), r.getLong(1), r.getInt(2))
      }.toSet
      val expected = (for {
        x <- a; y <- b; if x < y
        h = java.lang.Long.bitCount(x ^ y); if h <= 6
      } yield (x, y, h)).toSet
      assert(gotSet == expected, s"trial $trial: ${gotSet.size} vs ${expected.size}")
    }
  }

  test("TileNearDupPairs == cosine_sim row form on random float blocks (round/threshold parity)") {
    import graft.functions.{CosineSimilarity, TileNearDupPairs}
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    val rnd = new scala.util.Random(11)
    def vec(dim: Int) = Array.fill(dim)(rnd.nextFloat() - 0.2f)
    def nrm(v: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < v.length) { s += v(i).toDouble * v(i).toDouble; i += 1 }
      math.sqrt(s)
    }
    def block(ids: Seq[Long], vs: Seq[Array[Float]]): GenericArrayData =
      new GenericArrayData(ids.zip(vs).map { case (id, v) =>
        InternalRow(id, new GenericArrayData(v.map(Float.box)), nrm(v))
      }.toArray[Any])
    val dim = 16
    val (aIds, aVs) = ((0L until 25L), Seq.fill(25)(vec(dim)))
    val (bIds, bVs) = ((10L until 40L), Seq.fill(30)(vec(dim)))
    val tau = 0.4
    val got = TileNearDupPairs(null, null, tau)
      .nullSafeEval(block(aIds, aVs), block(bIds, bVs)).asInstanceOf[ArrayData]
    val gotSet = (0 until got.numElements()).map { i =>
      val r = got.getStruct(i, 3); (r.getLong(0), r.getLong(1), r.getDouble(2))
    }.toSet
    // row-form reference: cosine_sim literal eval + Spark round() semantics
    def rowCos(a: Array[Float], b: Array[Float]): Double = {
      val raw = CosineSimilarity(
        Literal.create(a.toSeq, ArrayType(FloatType)),
        Literal.create(b.toSeq, ArrayType(FloatType))).eval().asInstanceOf[Double]
      java.math.BigDecimal.valueOf(raw).setScale(5, java.math.RoundingMode.HALF_UP).doubleValue()
    }
    val expected = (for {
      (ia, va) <- aIds.zip(aVs); (ib, vb) <- bIds.zip(bVs)
      if ia < ib
      c = rowCos(va, vb); if c >= tau
    } yield (ia, ib, c)).toSet
    assert(gotSet == expected, s"${gotSet.size} vs ${expected.size}; " +
      s"missing ${(expected -- gotSet).take(3)}; extra ${(gotSet -- expected).take(3)}")
  }

  test("checkpoint rooted check is a path prefix, not a substring") {
    import graft.ops.DedupOps.isCheckpointRootedAt
    assert(isCheckpointRootedAt("/tmp/a", "/tmp/a"))
    assert(isCheckpointRootedAt("/tmp/a/3f9c-uuid", "/tmp/a"))
    assert(isCheckpointRootedAt("file:/tmp/a/3f9c-uuid", "/tmp/a"), "scheme-qualified child")
    assert(!isCheckpointRootedAt("/tmp/ab/3f9c-uuid", "/tmp/a"),
      "/tmp/ab is a substring match but NOT rooted at /tmp/a")
    assert(!isCheckpointRootedAt("/tmp/a", "/tmp/a/deeper"))
    assert(isCheckpointRootedAt("/tmp/a/", "/tmp/a"), "trailing slash normalizes away")
  }
}
