package graft.sketch

import java.nio.ByteBuffer

import scala.collection.mutable

/**
 * Space-Saving "stream summary" (Metwally et al.), the reference's second
 * top-K structure (`execution/streamsummary/StreamSummaryAggregation.scala:37-131`
 * wraps stream-lib's StreamSummary; this is an independent implementation of
 * the published algorithm).
 *
 * Maintains at most `capacity` counters. A hit increments; a miss evicts the
 * minimum counter m and inserts the new key with `count = m + inc`,
 * `error = m`. Guarantees: `trueCount ≤ count ≤ trueCount + error`; exact
 * when distinct keys ≤ capacity (error 0 throughout).
 *
 * Eviction uses the paper's count-bucket structure (count → keys at that
 * count, buckets ordered by count, keys within a bucket ordered by the
 * deterministic key order): finding and removing the minimum is
 * O(log capacity), not an O(capacity) scan per miss — the throughput cliff
 * the reference avoids via stream-lib's linked buckets. Eviction ties are
 * broken by key order, so the structure is deterministic for a given input
 * order regardless of hash-map iteration.
 */
final class StreamSummary(val capacity: Int) extends Serializable {
  // key -> (count, error)
  val counters: mutable.HashMap[Any, (Long, Long)] = mutable.HashMap.empty

  // count-bucket index; rebuilt lazily after Java deserialization
  @transient private var buckets: java.util.TreeMap[Long, mutable.TreeSet[Any]] = _

  private def idx: java.util.TreeMap[Long, mutable.TreeSet[Any]] = {
    if (buckets == null) {
      buckets = new java.util.TreeMap[Long, mutable.TreeSet[Any]]()
      counters.foreach { case (k, (c, _)) => indexAdd(c, k) }
    }
    buckets
  }

  private def indexAdd(c: Long, k: Any): Unit = {
    var s = idx.get(c)
    if (s == null) {
      s = mutable.TreeSet.empty[Any](Ordering.by(keySortable))
      idx.put(c, s)
    }
    s.add(k)
  }

  private def indexRemove(c: Long, k: Any): Unit = {
    val s = idx.get(c)
    if (s != null) {
      s.remove(k)
      if (s.isEmpty) idx.remove(c)
    }
  }

  private[sketch] def put(k: Any, c: Long, e: Long): Unit = {
    counters.get(k) match {
      case Some((oc, _)) => indexRemove(oc, k)
      case None =>
    }
    counters.update(k, (c, e))
    indexAdd(c, k)
  }

  private def removeKey(k: Any, c: Long): Unit = {
    counters.remove(k)
    indexRemove(c, k)
  }

  def add(key: Any, inc: Long = 1L): Unit = {
    counters.get(key) match {
      case Some((c, e)) => put(key, c + inc, e)
      case None if counters.size < capacity => put(key, inc, 0L)
      case None =>
        val minC = idx.firstKey
        val minKey = idx.firstEntry.getValue.head
        removeKey(minKey, minC)
        put(key, minC + inc, minC)
    }
  }

  private def minCount: Long =
    if (counters.size < capacity) 0L else idx.firstKey

  /**
   * Standard parallel merge (Agarwal et al., "Mergeable Summaries"-style):
   * a key absent on one side may have been counted up to that side's minimum
   * — add the minimum to both count and error; then keep the `capacity`
   * largest counters. Exact when neither side ever evicted.
   */
  def merge(o: StreamSummary): StreamSummary = {
    val m1 = minCount
    val m2 = o.minCount
    // a full side must leave a full result, or a key absent from both
    // would read 0: a full smaller side (item fold) caps the capacity
    val small = if (o.capacity < capacity) o else this
    val out = new StreamSummary(
      if (small.counters.size >= small.capacity) small.capacity else capacity)
    (counters.keySet ++ o.counters.keySet).foreach { k =>
      val (c1, e1) = counters.getOrElse(k, (m1, m1))
      val (c2, e2) = o.counters.getOrElse(k, (m2, m2))
      out.put(k, c1 + c2, e1 + e2)
    }
    if (out.counters.size > out.capacity) {
      val drop = out.counters.toSeq
        .sortBy { case (k, (c, _)) => (-c, keySortable(k)) }
        .drop(out.capacity)
      drop.foreach { case (k, (c, _)) => out.removeKey(k, c) }
    }
    out
  }

  /** Top-k by estimated count, ties broken by key ascending (deterministic,
   * oracle-comparable). */
  def topK(k: Int): Seq[(Any, Long, Long)] =
    counters.toSeq.map { case (key, (c, e)) => (key, c, e) }
      .sortBy { case (key, c, _) => (-c, keySortable(key)) }
      .take(k)

  /** (count, error); an untracked key may have been evicted at up to the
   * minimum m (0 while not full), so it answers (m, m), as in [[merge]]. */
  def estimateCount(key: Any): (Long, Long) =
    counters.getOrElse(key, (minCount, minCount))

  def serialized: Array[Byte] = {
    val entries = counters.toSeq
    val keyBytes = entries.map { case (k, _) => StreamSummary.keyToBytes(k) }
    val size = 8 + keyBytes.map(_.length + 4 + 16).sum
    val bb = ByteBuffer.allocate(size)
    bb.putInt(capacity); bb.putInt(entries.size)
    entries.zip(keyBytes).foreach { case ((_, (c, e)), kb) =>
      bb.putInt(kb.length); bb.put(kb)
      bb.putLong(c); bb.putLong(e)
    }
    java.util.Arrays.copyOf(bb.array(), bb.position())
  }
}

object StreamSummary {
  private[sketch] def keyToBytes(k: Any): Array[Byte] = k match {
    case s: String =>
      val b = s.getBytes("UTF-8")
      val out = new Array[Byte](b.length + 1)
      out(0) = 0
      System.arraycopy(b, 0, out, 1, b.length)
      out
    case l: Long =>
      val bb = ByteBuffer.allocate(9); bb.put(1.toByte); bb.putLong(l); bb.array()
    case i: Int =>
      val bb = ByteBuffer.allocate(9); bb.put(1.toByte); bb.putLong(i.toLong); bb.array()
    case o => keyToBytes(o.toString)
  }

  private[sketch] def keyFromBytes(b: Array[Byte]): Any =
    if (b(0) == 0.toByte) new String(b, 1, b.length - 1, "UTF-8")
    else ByteBuffer.wrap(b, 1, 8).getLong

  def deserialize(bytes: Array[Byte]): StreamSummary = {
    val bb = ByteBuffer.wrap(bytes)
    val cap = bb.getInt; val n = bb.getInt
    val s = new StreamSummary(cap)
    var i = 0
    while (i < n) {
      val len = bb.getInt
      val kb = new Array[Byte](len); bb.get(kb)
      val c = bb.getLong; val e = bb.getLong
      s.put(StreamSummary.keyFromBytes(kb), c, e)
      i += 1
    }
    s
  }
}
