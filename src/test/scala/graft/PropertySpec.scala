package graft

import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.functions._
import graft.ops.{DedupOps, TextOps}

/** Property-style checks of the native expressions against reference
  * implementations — pure expression eval (no Spark jobs), hundreds of
  * seeded-random cases per property (deterministic across runs). */
class PropertySpec extends SparkSpecBase {

  private val rnd = new scala.util.Random(20260812L)

  private def longArray(xs: Seq[Long]): Literal =
    Literal.create(new GenericArrayData(xs.toArray), ArrayType(LongType))
  private def strArray(xs: Seq[String]): Literal =
    Literal.create(new GenericArrayData(xs.map(UTF8String.fromString).toArray),
      ArrayType(StringType))
  private def floatArray(xs: Seq[Float]): Literal =
    Literal.create(new GenericArrayData(xs.toArray), ArrayType(FloatType))

  test("SortedIntersectCount == Set.intersect over 500 random sorted arrays") {
    for (_ <- 1 to 500) {
      val a = Seq.fill(rnd.nextInt(40))(rnd.nextInt(200).toLong).distinct.sorted
      val b = Seq.fill(rnd.nextInt(40))(rnd.nextInt(200).toLong).distinct.sorted
      val got = SortedIntersectCount(longArray(a), longArray(b)).eval(null)
      assert(got == a.toSet.intersect(b.toSet).size.toLong, s"a=$a b=$b")
    }
  }

  test("ShingleArray == sliding(n).distinct over 500 random token lists") {
    val vocab = Vector("a", "bb", "ccc", "dd", "e", "fff")
    for (_ <- 1 to 500) {
      val toks = Seq.fill(rnd.nextInt(12))(vocab(rnd.nextInt(vocab.size)))
      val n = 1 + rnd.nextInt(4)
      val got = ShingleArray(strArray(toks), n).eval(null).asInstanceOf[ArrayData]
      val expect =
        if (toks.length < n) Seq.empty[String]
        else toks.sliding(n).map(_.mkString(" ")).toSeq.distinct
      val gotSeq = (0 until got.numElements()).map(got.getUTF8String(_).toString)
      assert(gotSeq == expect, s"toks=$toks n=$n")
    }
  }

  test("MinHashSignature: signature of a union is the lane-wise min") {
    for (_ <- 1 to 200) {
      val a = Seq.fill(1 + rnd.nextInt(30))(rnd.nextLong().abs % 2147483647L)
      val b = Seq.fill(1 + rnd.nextInt(30))(rnd.nextLong().abs % 2147483647L)
      def sig(xs: Seq[Long]): Seq[Long] = {
        val r = MinHashSignature(longArray(xs), 16).eval(null).asInstanceOf[ArrayData]
        (0 until r.numElements()).map(r.getLong)
      }
      val sa = sig(a); val sb = sig(b); val su = sig(a ++ b)
      // the property LSH banding and Jaccard estimation both rest on
      assert(su == sa.zip(sb).map { case (x, y) => math.min(x, y) })
    }
  }

  /** Random text over a small vocabulary (so n-grams repeat) with ASCII,
    * multibyte and non-separator words, every separator of Java's `\s`
    * class in runs, leading/trailing runs, and — when `invalid` — bytes
    * that are not valid UTF-8 (lone continuation/lead bytes, an encoded
    * surrogate, an overlong NUL, a code point past U+10FFFF). */
  private def randomText(invalid: Boolean): Array[Byte] = {
    val words = Vector("a", "bb", "ccc", "é", "日本", "😀x", "nb\u00a0sp", "u\u001fs")
      .map(_.getBytes("UTF-8"))
    val bad = Vector(Array(0xff), Array(0xc3), Array(0x80), Array(0xed, 0xa0, 0x80),
      Array(0xc0, 0x80), Array(0xf4, 0x90, 0x80, 0x80)).map(_.map(_.toByte))
    val seps = Vector(" ", "\t", "\n", "\u000b", "\f", "\r", "  ", " \t\r\n")
    def sep = seps(rnd.nextInt(seps.size)).getBytes("UTF-8")
    val out = new java.io.ByteArrayOutputStream()
    if (rnd.nextBoolean()) out.write(sep)
    for (i <- 0 until rnd.nextInt(14)) {
      if (i > 0) out.write(sep)
      out.write(words(rnd.nextInt(words.size)))
      if (invalid && rnd.nextInt(4) == 0) out.write(bad(rnd.nextInt(bad.size)))
    }
    if (rnd.nextBoolean()) out.write(sep)
    out.toByteArray
  }

  test("shingle_hashes == array_sort(transform(shingles(tokens(text), n), xxhash64)) " +
    "on generated text: every \\s separator, short, multibyte and invalid UTF-8") {
    import org.apache.spark.sql.functions._
    val texts = Seq.tabulate(600)(i => randomText(invalid = i % 3 == 0))
    val s = spark
    import s.implicits._
    val df = texts.zipWithIndex.map { case (b, i) => (i, b) }.toDF("i", "b")
      .withColumn("text", col("b").cast("string"))
    for (n <- 1 to 4) {
      val rows = df.select(col("i"),
        GraftFunctions.shingleHashes(col("text"), n).as("got"),
        array_sort(transform(DedupOps.shinglesFromTokens(TextOps.tokens(col("text")), n),
          x => xxhash64(x))).as("want")).collect()
      assert(rows.length == texts.length)
      rows.foreach { r =>
        assert(r.getSeq[Long](1) == r.getSeq[Long](2),
          s"n=$n text bytes=${texts(r.getInt(0)).map(b => f"$b%02x").mkString(" ")}")
      }
    }
  }

  test("shingle_hashes: equal hashes of different n-grams are all kept " +
    "(collision branch, injected hashes)") {
    for (_ <- 1 to 300) {
      val bytes = randomText(invalid = false)
      val n = 1 + rnd.nextInt(3)
      val grams = new ShingleHashes.Grams(bytes, n)
      val toks = new String(bytes, "UTF-8").split("\\s+").filter(_.nonEmpty).toSeq
      val strs = if (toks.length < n) Seq.empty[String] else toks.sliding(n).map(_.mkString(" ")).toSeq
      assert(grams.count == strs.length)
      // a 1-bit hash makes most distinct n-grams collide
      val inject = strs.map(g => (g.hashCode & 1).toLong)
      val got = ShingleHashes.distinctSorted(grams, inject.toArray).toSeq
      val want = strs.zip(inject).distinct.map(_._2).sorted
      assert(got == want, s"n=$n grams=$strs")
    }
  }

  test("MinHashSignature (scalar and SIMD) == the % kernel lane for lane, " +
    "negative and out-of-range input hashes included") {
    val P = MinHashSignature.P
    val edges = Seq(Long.MinValue, Long.MaxValue, -1L, 0L, P - 1, P, P + 1, -P, -P - 1)
    def reference(hs: Seq[Long], numPerms: Int): Seq[Long] = {
      val (as, bs) = MinHashSignature.coeffs(numPerms)
      val xs = hs.map(h => ((h % P) + P) % P)
      (0 until numPerms).map(p =>
        xs.map(x => (x * as(p) + bs(p)) % P).foldLeft(Long.MaxValue)(math.min))
    }
    def sig(hs: Seq[Long], numPerms: Int): Seq[Long] = {
      val r = MinHashSignature(longArray(hs), numPerms).eval(null).asInstanceOf[ArrayData]
      (0 until r.numElements()).map(r.getLong)
    }
    for (_ <- 1 to 200) {
      val hs = Seq.fill(rnd.nextInt(40))(rnd.nextLong()) ++
        Seq.fill(rnd.nextInt(3))(edges(rnd.nextInt(edges.size)))
      val numPerms = Seq(1, 13, 16, 128)(rnd.nextInt(4))
      val want = reference(hs, numPerms)
      try {
        MinHashSignature.simdDisabled = true
        assert(sig(hs, numPerms) == want, s"scalar hs=$hs")
      } finally MinHashSignature.simdDisabled = false
      assert(sig(hs, numPerms) == want,
        s"lanes=${MinHashSignature.simdLanes} hs=$hs")
    }
  }

  test("SimHash64 is permutation-invariant") {
    for (_ <- 1 to 200) {
      val toks = Seq.fill(1 + rnd.nextInt(20))(rnd.alphanumeric.take(1 + rnd.nextInt(8)).mkString)
      val a = SimHash64(strArray(toks)).eval(null)
      val b = SimHash64(strArray(rnd.shuffle(toks))).eval(null)
      assert(a == b)
    }
  }

  test("CosineSimilarity: symmetric, bounded, exact on known cases") {
    for (_ <- 1 to 200) {
      val a = Seq.fill(8)(rnd.nextFloat() * 200f - 100f)
      val b = Seq.fill(8)(rnd.nextFloat() * 200f - 100f)
      val ab = CosineSimilarity(floatArray(a), floatArray(b)).eval(null).asInstanceOf[Double]
      val ba = CosineSimilarity(floatArray(b), floatArray(a)).eval(null).asInstanceOf[Double]
      assert(ab == ba && ab >= -1.0000001 && ab <= 1.0000001)
      val aa = CosineSimilarity(floatArray(a), floatArray(a)).eval(null).asInstanceOf[Double]
      assert(math.abs(aa - 1.0) < 1e-9)
    }
  }

  test("RollingMinHash: contained k-window implies candidate minimum is shared") {
    // identical strings hash identically; appending text can only lower the min
    for (_ <- 1 to 200) {
      val s = rnd.alphanumeric.take(20 + rnd.nextInt(40)).mkString
      val k = 4 + rnd.nextInt(8)
      def rmh(x: String): Long =
        RollingMinHash(Literal.create(UTF8String.fromString(x), StringType), k)
          .eval(null).asInstanceOf[Long]
      assert(rmh(s) == rmh(s))
      // extending a string adds windows but keeps every window of s,
      // so the minimum can only stay or drop
      val extended = s + rnd.alphanumeric.take(10).mkString
      assert(rmh(extended) <= rmh(s))
    }
  }
}
