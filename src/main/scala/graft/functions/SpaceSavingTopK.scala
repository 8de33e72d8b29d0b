package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Mutable Space-Saving buffer: counts map + a TreeSet ordered by
  * (count, item) so eviction of the minimum is O(log capacity) instead of an
  * O(capacity) scan per unseen item (quadratic-ish on adversarial streams of
  * mostly-unseen items).
  *
  * `err` is the buffer's over-estimation bound: 0 while nothing has ever
  * been evicted (the buffer is EXACT — counts are true frequencies), and
  * otherwise an upper bound on how much any absent item's true count can be.
  * It is what makes partial buffers MERGEABLE without losing the
  * "any item with true frequency > N/capacity is present" guarantee
  * (Agarwal et al. 2012, "Mergeable Summaries"). */
final class SpaceSavingBuffer {
  /** One owned entry per tracked item; the SAME object lives in the hash
    * map and the TreeSet, so increments re-link it (remove → bump → add)
    * with zero allocation or byte copying on the hot path. */
  final class Entry(val key: UTF8String, var cnt: Long)
  private val entries = mutable.HashMap.empty[UTF8String, Entry]
  private val byCount = mutable.TreeSet.empty[Entry](new Ordering[Entry] {
    def compare(a: Entry, b: Entry): Int = {
      val c = java.lang.Long.compare(a.cnt, b.cnt)
      if (c != 0) c else a.key.compareTo(b.key)
    }
  })
  var err: Long = 0L

  def size: Int = entries.size
  def contains(item: UTF8String): Boolean = entries.contains(item)
  def iterator: Iterator[(UTF8String, Long)] = entries.iterator.map { case (k, e) => (k, e.cnt) }
  def keysSnapshot: Array[UTF8String] = entries.keysIterator.toArray

  /** Immutable view for tests/diagnostics (allocates — not for hot paths). */
  def counts: Map[UTF8String, Long] = entries.view.mapValues(_.cnt).toMap

  /** Stored keys must OWN their bytes: `item` may point into a reused row
    * buffer, and a stored reference whose bytes later mutate corrupts both
    * structures (removals miss, stale entries accumulate, eviction picks
    * the wrong key). NOTE `UTF8String.clone()` is NOT enough — for a string
    * that exactly wraps its backing array, `getBytes` (and therefore clone)
    * returns the SAME array, still aliased to the caller's buffer. */
  private def deepCopy(s: UTF8String): UTF8String = {
    val b = s.getBytes
    UTF8String.fromBytes(java.util.Arrays.copyOf(b, b.length))
  }

  /** Add `by` to item's count (inserting an owned copy at `base + by` if
    * absent). Increments copy nothing: the entry is unlinked from the
    * TreeSet, bumped, and re-linked. */
  def add(item: UTF8String, by: Long, base: Long = 0L): Unit =
    entries.get(item) match {
      case Some(e) =>
        byCount.remove(e)
        e.cnt += by
        byCount.add(e)
      case None =>
        val k = deepCopy(item)
        val e = new Entry(k, base + by)
        entries.update(k, e)
        byCount.add(e)
    }

  def removeMin(): (Long, UTF8String) = {
    val e = byCount.head
    byCount.remove(e)
    entries.remove(e.key)
    (e.cnt, e.key)
  }

  /** Drop entries beyond `capacity`, keeping the largest counts
    * ((count desc, item asc) order). Evicted counts raise `err`. */
  def truncate(capacity: Int): Unit =
    while (entries.size > capacity) {
      val (c, _) = removeMin()
      if (c > err) err = c
    }
}

/** Custom TypedImperativeAggregate: Space-Saving heavy hitters
  * (Metwally, Agrawal, El Abbadi 2005, "Efficient Computation of Frequent
  * and Top-k Elements in Data Streams").
  *
  * Tracks at most `capacity` counters per partial buffer: a seen item
  * increments its counter; an unseen item evicts the minimum counter and
  * inherits its count as over-estimation error. Partials merge with the
  * mergeable-summaries correction: an item absent from one side gets that
  * side's error bound added (its true count there can be up to that bound),
  * then the union re-truncates to `capacity`. Guarantees (including across
  * merges): any item with true frequency > N/capacity is present, counts
  * over-estimate by at most the buffer's error bound. When capacity ≥
  * distinct items nothing is ever evicted, every error bound stays 0, and
  * the sketch is EXACT.
  *
  * The 100 TB story: top-k words over a corpus without the full
  * (word → count) shuffle — each task ships `capacity` counters, the
  * reduce side merges tiny maps. Output: array<struct<item,count>> sorted
  * by (count desc, item). */
case class SpaceSavingTopK(
    child: Expression,
    capacity: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[SpaceSavingBuffer] with ExpectsInputTypes {

  require(capacity >= 1)
  override def inputTypes = Seq(StringType)
  override def children: Seq[Expression] = child :: Nil
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("item", StringType), StructField("count", LongType))),
    containsNull = false)
  override def prettyName: String = "spacesaving_topk"

  override def createAggregationBuffer(): SpaceSavingBuffer = new SpaceSavingBuffer

  override def update(buf: SpaceSavingBuffer, input: InternalRow): SpaceSavingBuffer = {
    val v = child.eval(input)
    if (v != null) {
      val item = v.asInstanceOf[UTF8String]
      if (buf.contains(item) || buf.size < capacity) buf.add(item, 1L)
      else {
        val (minCnt, _) = buf.removeMin()
        if (minCnt > buf.err) buf.err = minCnt
        buf.add(item, 1L, base = minCnt)
      }
    }
    buf
  }

  override def merge(buf: SpaceSavingBuffer, other: SpaceSavingBuffer): SpaceSavingBuffer = {
    // Items in both: counts sum. Items only in one side: the other side's
    // true count for them is ≤ its err, so add that bound to keep counts
    // over-estimates (the mergeable-summaries correction). err = 0 on a
    // never-evicted side keeps exact inputs exact.
    val otherItems = other.iterator.toSeq // snapshot: buf mutation is independent
    otherItems.foreach { case (item, cnt) =>
      if (buf.contains(item)) buf.add(item, cnt)
      else buf.add(item, cnt + buf.err)
    }
    if (other.err > 0) buf.keysSnapshot.foreach { item =>
      if (!other.contains(item)) buf.add(item, other.err)
    }
    buf.err += other.err
    buf.truncate(capacity)
    buf
  }

  override def eval(buf: SpaceSavingBuffer): Any = {
    val sorted = buf.iterator.toSeq.sortBy { case (item, cnt) => (-cnt, item.toString) }
    new GenericArrayData(sorted.map { case (item, cnt) =>
      InternalRow(item, cnt)
    }.toArray[Any])
  }

  override def serialize(buf: SpaceSavingBuffer): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeLong(buf.err)
    out.writeInt(buf.size)
    buf.iterator.foreach { case (item, cnt) =>
      val b = item.getBytes
      out.writeInt(b.length); out.write(b); out.writeLong(cnt)
    }
    out.flush(); bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): SpaceSavingBuffer = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val m = new SpaceSavingBuffer
    m.err = in.readLong()
    val n = in.readInt()
    var i = 0
    while (i < n) {
      val len = in.readInt(); val b = new Array[Byte](len); in.readFully(b)
      m.add(UTF8String.fromBytes(b), in.readLong())
      i += 1
    }
    m
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): SpaceSavingTopK =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): SpaceSavingTopK =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
}
