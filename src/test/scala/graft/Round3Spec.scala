package graft

import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.BoundedLevenshtein
import graft.ops.{DedupOps, SortOps, TextOps}
import graft.sources.IO

import scala.util.Random

/** Round-3 fixes: Myers bit-parallel levenshtein, streaming secondary sort,
  * length-bucketed edit-distance blocking, checkpoint parameterization, and
  * the round-2 ADVICE hardening items. */
class Round3Spec extends SparkSpecBase {

  // ---- BoundedLevenshtein: exact parity with the builtin kernel ----

  private def builtinLev(a: String, b: String, k: Int): Int =
    UTF8String.fromString(a).levenshteinDistance(UTF8String.fromString(b), k)

  private def myersLev(a: String, b: String, k: Int): Int =
    BoundedLevenshtein.distance(UTF8String.fromString(a), UTF8String.fromString(b), k)

  test("bounded_levenshtein == builtin on random ASCII strings and planted edits") {
    val rnd = new Random(42)
    val alphabet = "abcdefg xyz"
    def randStr(n: Int) = (0 until n).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
    for (_ <- 1 to 2000) {
      val a = randStr(rnd.nextInt(64))
      // half the cases: b = a with a few random edits (distances near 0..k);
      // half: independent string (distances near len)
      val b = if (rnd.nextBoolean()) {
        var s = a.toCharArray.toBuffer
        for (_ <- 0 until rnd.nextInt(8)) {
          val op = rnd.nextInt(3)
          if (s.isEmpty || op == 0) s.insert(rnd.nextInt(s.length + 1), alphabet(rnd.nextInt(alphabet.length)))
          else if (op == 1) s.remove(rnd.nextInt(s.length))
          else s(rnd.nextInt(s.length)) = alphabet(rnd.nextInt(alphabet.length))
        }
        s.mkString
      } else randStr(rnd.nextInt(64))
      val k = rnd.nextInt(15)
      assert(myersLev(a, b, k) == builtinLev(a, b, k), s"a='$a' b='$b' k=$k")
    }
  }

  test("bounded_levenshtein edge cases: empty, equal, threshold 0, just-over") {
    assert(myersLev("", "", 0) == 0)
    assert(myersLev("", "abc", 2) == -1)
    assert(myersLev("", "abc", 3) == 3)
    assert(myersLev("same", "same", 0) == 0)
    assert(myersLev("same", "samf", 0) == -1)
    assert(myersLev("kitten", "sitting", 3) == 3)
    assert(myersLev("kitten", "sitting", 2) == -1)
  }

  test("bounded_levenshtein falls back identically on non-ASCII and >64-char inputs") {
    val cases = Seq(
      ("héllo wörld", "hallo world", 5),
      ("日本語テキスト", "日本語のテキスト", 3),
      ("a" * 80 + "xyz", "a" * 80 + "abc", 4),
      ("a" * 100, "a" * 90, 5))
    for ((a, b, k) <- cases)
      assert(myersLev(a, b, k) == builtinLev(a, b, k), s"a='$a' b='$b' k=$k")
  }

  test("bounded_levenshtein via SQL matches builtin levenshtein on documents") {
    Tables.documents(spark, sfDir).select(substring(col("text"), 1, 48).as("pfx"))
      .createOrReplaceTempView("r3_pfx")
    val bad = spark.sql(
      """SELECT a.pfx, b.pfx FROM r3_pfx a JOIN r3_pfx b
         ON bounded_levenshtein(a.pfx, b.pfx, 12) != levenshtein(a.pfx, b.pfx, 12)""")
    assert(bad.isEmpty, "native kernel must agree with builtin on every pair")
  }

  // ---- levenshteinPairs: bucketed blocking is output-identical ----

  test("levenshteinPairs == unbucketed builtin formulation (equivalence)") {
    val docs = Tables.documents(spark, sfDir)
    val p = docs.select(col("doc_id"),
      substring(col("text"), 1, 48).as("pfx"),
      element_at(TextOps.tokens(col("text")), 1).as("tok"))
    val reference = p.as("a").join(p.as("b"),
        col("a.tok") === col("b.tok") && col("a.doc_id") < col("b.doc_id"))
      .withColumn("dist", levenshtein(col("a.pfx"), col("b.pfx"), 12).cast("long"))
      .filter(col("dist") >= 0 && col("dist") <= 12)
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"), col("dist"))
    val got = DedupOps.levenshteinPairs(docs)
    assert(got.exceptAll(reference).isEmpty && reference.exceptAll(got).isEmpty,
      "length-bucketed + bit-parallel form must emit exactly the contract pairs")
  }

  test("levenshteinPairs length bucket actually prunes variable-length keys") {
    import spark.implicits._
    // short vs long first-line keys sharing the first token: only the
    // within-bucket near pair may surface
    val docs = Seq(
      (1L, "alpha bb"),
      (2L, "alpha bc"),
      (3L, "alpha " + ("z" * 40)))
      .toDF("doc_id", "text")
    val got = DedupOps.levenshteinPairs(docs, maxDist = 2, prefixLen = 48)
    assert(got.collect().map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
  }

  // ---- streaming secondary sort ----

  test("secondary_sort matches the collect_list formulation and never plans one") {
    val events = Tables.events(spark, sfDir)
    val reference = events.groupBy(col("user_id"))
      .agg(array_join(
        transform(
          sort_array(collect_list(struct(col("ts"), col("event_id")))),
          x => x.getField("event_id").cast("string")),
        ",").as("ordered_events"),
        count(lit(1)).as("n_events"))
    val got = SortOps.secondarySort(events)
    assert(got.exceptAll(reference).isEmpty && reference.exceptAll(got).isEmpty)
    got.collect() // finalize the (adaptive) plan before asserting its shape
    val plan = got.queryExecution.executedPlan.toString
    assert(!plan.contains("ObjectHashAggregate") && !plan.contains("collect_list"),
      s"secondary sort must stream groups, not buffer arrays:\n$plan")
  }

  // ---- connectedComponents reliable checkpointing ----

  test("connectedComponents with a reliable checkpoint dir converges and writes it") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_cc_ckpt").toString
    // connectedComponents only sets the session-global checkpoint dir when
    // none is configured (Round4: non-clobbering) — clear it so the request
    // is honored regardless of suite order
    spark.sparkContext.setCheckpointDir(null)
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a_id", "b_id")
    val got = DedupOps.connectedComponents(pairs, checkpointDir = Some(tmp))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
    val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(tmp))
      .filter(p => java.nio.file.Files.isRegularFile(p)).count()
    assert(wrote > 0, "reliable checkpoint must materialize files under the dir")
  }

  // ---- ADVICE hardening ----

  test("upsertByRewrite refuses outPath == basePath (self-overwrite data loss)") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_upsert_guard").toString
    val base = s"$tmp/base"
    Seq((1L, "a")).toDF("k", "v").write.parquet(base)
    val updates = Seq((1L, "b")).toDF("k", "v")
    val ex = intercept[IllegalArgumentException] {
      IO.upsertByRewrite(spark, base, updates, "k", base)
    }
    assert(ex.getMessage.contains("staging"))
    // base is intact
    assert(spark.read.parquet(base).count() == 1)
  }

  // ---- q2: single fact scan ----

  test("q2_min_cost_supplier aggregates lineitem exactly once (no CTE double-scan)") {
    val plan = SparkEntry.queries("q2_min_cost_supplier")(spark, sfDir)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val factScans = "lineitem\\.parquet".r.findAllIn(plan).length
    assert(factScans == 1, s"q2 must scan the fact once, found $factScans:\n$plan")
    assert(plan.contains("Window"), "q2 min-per-part must be the window form")
  }

  // ---- spacesaving_topk as a query: exact at capacity >= vocabulary ----

  test("spaceSavingTopWords == exact GROUP BY ranking at capacity >= |vocab|") {
    val docs = Tables.documents(spark, sfDir)
    val exact = graft.ops.TextOps.wordCount(docs)
      .orderBy(col("n").desc, col("word")).limit(64)
    val got = graft.ops.TextOps.spaceSavingTopWords(docs)
    assert(got.exceptAll(exact).isEmpty && exact.exceptAll(got).isEmpty)
  }

  // ---- real image decode through the Dataset path ----

  test("decodeImages really decodes PNG and JPEG payloads; non-images fall back") {
    import spark.implicits._
    import java.awt.image.BufferedImage
    def imageBytes(w: Int, h: Int, rgb: Int, fmt: String): Array[Byte] = {
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgb)
      val bos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, fmt, bos), s"JDK must encode $fmt")
      bos.toByteArray
    }
    val media = Seq(
      graft.ops.MultimodalOps.MediaRecord(1L, imageBytes(7, 5, 0xff0000, "png"), "image"),
      graft.ops.MultimodalOps.MediaRecord(2L, imageBytes(3, 9, 0xffffff, "jpg"), "image"),
      graft.ops.MultimodalOps.MediaRecord(3L, "not an image at all".getBytes("UTF-8"), "audio"))
      .toDS()
    val got = graft.ops.MultimodalOps.decodeImages(spark, media)
      .collect().map(d => d.media_id -> d).toMap
    val png = got(1L)
    assert(png.real_decode && png.format == "png" && png.width == 7 && png.height == 5)
    assert(math.abs(png.mean_luma - 0.299 * 255) < 1.0, s"red png luma: ${png.mean_luma}")
    val jpg = got(2L)
    assert(jpg.real_decode && jpg.format.startsWith("jp") && jpg.width == 3 && jpg.height == 9)
    assert(jpg.mean_luma > 250, s"white jpeg luma: ${jpg.mean_luma}")
    val fallback = got(3L)
    assert(!fallback.real_decode && fallback.format == "undecoded" &&
      fallback.byte_len == "not an image at all".getBytes("UTF-8").length)
  }

  test("combineRead sizes correctly for a dataset under a dot-directory ancestor") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_combine_dot").toString
    val ds = s"$tmp/.cache/dataset" // ancestor dot-dir must NOT hide the data
    (1 to 2000).toDF("x").repartition(20).write.parquet(ds)
    val combined = IO.combineRead(spark, ds,
      targetPartitionBytes = 8 * 1024, openCostInBytes = 4 * 1024)
    assert(combined.count() == 2000)
    assert(combined.rdd.getNumPartitions > 1,
      "hidden-file filter must not zero out the size estimate for dot-dir ancestors")
  }
}
