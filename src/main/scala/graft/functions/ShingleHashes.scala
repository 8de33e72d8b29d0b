package graft.functions

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: the sorted xxhash64 values (seed 42) of a
  * text's distinct space-joined word n-grams — exactly what
  * array_sort(transform(shingles(tokens(text), n), xxhash64)) returns, in
  * one pass over the text's UTF-8 bytes.
  *
  * The composed form builds a UTF8String per token and per shingle, calls
  * the interpreted transform lambda per shingle and sorts through
  * array_sort's interpreted comparator; together they were most of the
  * near-dup family's executor CPU. Here tokens are byte ranges, each
  * n-gram is copied into one reused buffer and hashed with Spark's own
  * XXH64, and the hashes sort as a primitive long[].
  *
  * Output identity with the composed form, case by case:
  *  - tokens are the maximal runs of bytes outside Java's `\s` class
  *    (space, \t, \n, \u000B, \f, \r — all ASCII, so never inside a
  *    multibyte sequence), which is what split(text, '\s+') minus its
  *    empty strings keeps;
  *  - split decodes the text to a java String and re-encodes each piece,
  *    so text that is not valid UTF-8 is hashed from the bytes of that
  *    round trip, not from its own;
  *  - a repeated hash is dropped only when its n-gram bytes are equal too,
  *    so two distinct shingles whose 64-bit hashes collide keep both
  *    entries, as array_sort over the distinct shingles does.
  */
case class ShingleHashes(child: Expression, n: Int)
    extends UnaryExpression with ExpectsInputTypes {

  require(n >= 1)
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_hashes"

  override def nullSafeEval(v: Any): Any =
    ShingleHashes.compute(v.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, text =>
      s"${ev.value} = graft.functions.ShingleHashes$$.MODULE$$.compute($text, $n);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ShingleHashes {
  /** Spark's xxhash64 seed: the hashes equal SQL xxhash64(shingle). */
  val Seed = 42L

  def compute(text: UTF8String, n: Int): ArrayData = {
    val grams = new Grams(utf8Bytes(text), n)
    val hs = new Array[Long](grams.count)
    var g = 0
    while (g < grams.count) { hs(g) = grams.hash(g); g += 1 }
    UnsafeArrayData.fromPrimitiveArray(distinctSorted(grams, hs))
  }

  /** The bytes split(text, '\s+') tokenizes: the text's own when it is
    * valid UTF-8, else those of its String round trip. */
  private def utf8Bytes(text: UTF8String): Array[Byte] =
    if (text.isValid) text.getBytes else text.toString.getBytes(UTF_8)

  private def isSpace(b: Byte): Boolean = b == ' ' || (b >= 9 && b <= 13)

  /** The word n-grams of one text: token i is bytes [starts(i), ends(i)),
    * n-gram g is tokens g until g + n. */
  private[graft] final class Grams(bytes: Array[Byte], n: Int) {
    private var starts = new Array[Int](16)
    private var ends = new Array[Int](16)
    private var tokens = 0
    locally {
      var i = 0
      while (i < bytes.length) {
        while (i < bytes.length && isSpace(bytes(i))) i += 1
        if (i < bytes.length) {
          if (tokens == starts.length) {
            starts = java.util.Arrays.copyOf(starts, tokens * 2)
            ends = java.util.Arrays.copyOf(ends, tokens * 2)
          }
          starts(tokens) = i
          while (i < bytes.length && !isSpace(bytes(i))) i += 1
          ends(tokens) = i
          tokens += 1
        }
      }
    }

    val count: Int = math.max(tokens - n + 1, 0)

    // a space-joined n-gram is never longer than the text it came from
    private val buf = new Array[Byte](bytes.length)

    /** xxhash64 of n-gram g, space-joined. */
    def hash(g: Int): Long = {
      var len = 0
      var k = g
      while (k < g + n) {
        if (k > g) { buf(len) = ' '; len += 1 }
        val tl = ends(k) - starts(k)
        System.arraycopy(bytes, starts(k), buf, len, tl)
        len += tl
        k += 1
      }
      XXH64.hashUnsafeBytes(buf, Platform.BYTE_ARRAY_OFFSET, len, Seed)
    }

    /** Whether n-grams a and b are the same words. */
    def same(a: Int, b: Int): Boolean = {
      var k = 0
      while (k < n && java.util.Arrays.equals(
          bytes, starts(a + k), ends(a + k), bytes, starts(b + k), ends(b + k))) k += 1
      k == n
    }
  }

  /** The sorted hashes of the distinct n-grams: hs(g) is n-gram g's hash,
    * and a repeat of a hash is dropped only when its n-gram is `same` as
    * the one kept. */
  private[graft] def distinctSorted(grams: Grams, hs: Array[Long]): Array[Long] = {
    val m = grams.count
    if (m == 0) return hs
    // open addressing over n-gram ids (id + 1; 0 = empty), ≥ 2m slots
    val mask = (Integer.highestOneBit(2 * m - 1) << 1) - 1
    val slots = new Array[Int](mask + 1)
    val out = new Array[Long](m)
    var kept = 0
    var g = 0
    while (g < m) {
      val h = hs(g)
      var p = h.toInt & mask
      var dup = false
      while (!dup && slots(p) != 0) {
        val o = slots(p) - 1
        if (hs(o) == h && grams.same(o, g)) dup = true
        else p = (p + 1) & mask
      }
      if (!dup) { slots(p) = g + 1; out(kept) = h; kept += 1 }
      g += 1
    }
    java.util.Arrays.sort(out, 0, kept)
    if (kept == m) out else java.util.Arrays.copyOf(out, kept)
  }
}
