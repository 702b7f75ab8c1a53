package graft.sketch

import scala.collection.mutable

/** A sketch of either family, per time interval. */
object IntervalSketch {
  /** Tagged byte form (0 = CMS, 1 = StreamSummary) — the wire format of
   * [[org.apache.spark.sql.graft.SketchAggregate]] buffers and the unit the
   * Kryo serializers delegate to. */
  def toBytes(s: IntervalSketch): Array[Byte] = s match {
    case CmsInterval(c) =>
      val b = c.serialized
      val out = new Array[Byte](b.length + 1); out(0) = 0
      System.arraycopy(b, 0, out, 1, b.length); out
    case SummaryInterval(ss) =>
      val b = ss.serialized
      val out = new Array[Byte](b.length + 1); out(0) = 1
      System.arraycopy(b, 0, out, 1, b.length); out
  }

  def fromBytes(bytes: Array[Byte]): IntervalSketch = {
    val body = java.util.Arrays.copyOfRange(bytes, 1, bytes.length)
    if (bytes(0) == 0.toByte) CmsInterval(TopKCms.deserialize(body))
    else SummaryInterval(StreamSummary.deserialize(body))
  }
}

sealed trait IntervalSketch extends Serializable {
  def mergeWith(o: IntervalSketch): IntervalSketch
  def topK(n: Int): Seq[(Any, Long, Long)]
  def estimate(key: Any): (Long, Long, Long) // (lower, estimate, upper)
  /** Actual driver-held counters/cells (for the TopK driver-memory guard). */
  def entryCount: Long
  /** Item-aggregation fold: halve the memory footprint at reduced
   * precision (Hokusai's ĉ). */
  def compressed: IntervalSketch
  /** Whether a further [[compressed]] step is possible/worthwhile. */
  def compressible(minWidth: Int): Boolean
}

final case class CmsInterval(s: TopKCms) extends IntervalSketch {
  def mergeWith(o: IntervalSketch): IntervalSketch =
    CmsInterval(s.merge(o.asInstanceOf[CmsInterval].s))
  def topK(n: Int): Seq[(Any, Long, Long)] = s.topK(n)
  def estimate(key: Any): (Long, Long, Long) = {
    val a = s.estimate(key); (a.lowerBound, a.estimate, a.max)
  }
  def compressed: IntervalSketch = CmsInterval(s.compressed)
  def compressible(minWidth: Int): Boolean =
    s.cms.width % 2 == 0 && s.cms.width / 2 >= minWidth
  def entryCount: Long = s.cms.depth.toLong * s.cms.width + s.candidates.size
}

final case class SummaryInterval(s: StreamSummary) extends IntervalSketch {
  def mergeWith(o: IntervalSketch): IntervalSketch =
    SummaryInterval(s.merge(o.asInstanceOf[SummaryInterval].s))
  def topK(n: Int): Seq[(Any, Long, Long)] =
    s.topK(n).map { case (k, c, e) => (k, c, c - e) } // lower bound = c − e
  def estimate(key: Any): (Long, Long, Long) = {
    val (c, e) = s.estimateCount(key); (c - e, c, c)
  }
  /** Space-Saving has no width to fold; halve the capacity keeping the
   * largest counters — retained keys keep valid bounds, tail keys are
   * forgotten (acceptable for aged intervals; the ĉ fold proper is a CMS
   * concept). */
  def compressed: IntervalSketch = {
    val half = new StreamSummary(math.max(1, s.capacity / 2))
    // StreamSummary.topK yields (key, count, ERROR) — carry the error
    // through unchanged so trueCount ∈ [count − error, count] still holds
    s.topK(math.max(1, s.capacity / 2)).foreach { case (k, c, e) =>
      half.put(k, c, e)
    }
    SummaryInterval(half)
  }
  def compressible(minWidth: Int): Boolean = s.capacity / 2 >= minWidth
  def entryCount: Long = s.counters.size.toLong
}

/**
 * Hokusai-style time-bucketed retention (reference `execution/Hokusai.scala`).
 * Two aging policies from the paper:
 *
 *  - **Time aggregation** (default — reference `TimeAggregation:394`): the
 *    most recent `maxInterval` intervals are kept at full resolution; older
 *    intervals are folded into dyadic (power-of-two-sized) coarse buckets,
 *    so memory stays O(maxInterval + log T) while old ranges remain
 *    queryable at reduced TIME resolution.
 *  - **Item aggregation** (`itemAggregation = true` — reference
 *    `ItemAggregation:317`, `TimeAndItemAggregation:436`): every interval
 *    is kept individually, but a sketch of age `a` has had its width halved
 *    `floor(log2 a)` times (the paper's shrinking-width ĉ, down to
 *    `minWidth`) — memory per interval decays geometrically with age while
 *    queries keep full per-interval TIME granularity at reduced precision.
 *    ε doubles per fold; the CMS overestimate-only guarantee survives every
 *    fold, and the widened bounds are reported automatically because
 *    `Approximate` slack is computed from the folded width.
 *  - **Time AND item aggregation** (`timeAndItem = true` — reference
 *    `TimeAndItemAggregation:436`, the paper's combined structure): every
 *    interval is kept with item-mode shrinking widths, AND a full-width
 *    dyadic history is maintained over aged intervals (each interval's
 *    full-width content snapshots into the dyadic carry at its first fold;
 *    later data for that interval merges into both). Range queries then
 *    answer dyadic-aligned spans from the accurate full-width blocks and
 *    only the ragged edges from compressed intervals, and point estimates
 *    on compressed intervals can be REFINED with the paper's n̂ estimator
 *    ([[refinedEstimate]] — reference `Hokusai.scala:638-692`
 *    `calcNCarat`): distribute the covering block's accurate count over
 *    member intervals proportionally to their (noisy) compressed cells,
 *    row by row, taking the min. CMS family only.
 */
final class TimeBucketedSketch(
    val maxInterval: Int,
    val mk: () => IntervalSketch,
    val itemAggregation: Boolean = false,
    val minWidth: Int = 64,
    val timeAndItem: Boolean = false) extends Serializable {

  // full-resolution recent intervals
  val intervals: mutable.SortedMap[Long, IntervalSketch] = mutable.SortedMap.empty
  // dyadic history: (startInterval, length) -> merged sketch (time mode)
  val history: mutable.SortedMap[(Long, Long), IntervalSketch] = mutable.SortedMap.empty
  // item mode: folds applied per interval
  private val folds: mutable.Map[Long, Int] = mutable.Map.empty

  /** Actual counters/cells currently held across every retained bucket. */
  def entryCount: Long =
    intervals.valuesIterator.map(_.entryCount).sum +
      history.valuesIterator.map(_.entryCount).sum

  /** Remove a full-resolution interval bucket (spill path). Clears the
   * interval's fold count too: a late-arriving re-materialized bucket at
   * the same interval starts full-width and must not skip its expected
   * compression steps because of a stale entry. */
  def removeInterval(iv: Long): Option[IntervalSketch] = {
    val removed = intervals.remove(iv)
    if (removed.isDefined) folds.remove(iv)
    removed
  }

  /** Remove a dyadic history block (spill path). */
  def removeHistory(span: (Long, Long)): Option[IntervalSketch] =
    history.remove(span)

  def addTo(interval: Long, sketch: IntervalSketch): Unit = {
    // combined mode: an interval past its snapshot point also feeds its
    // covering full-width history block, so block ⊇ interval data holds
    // for refinement and whole-block range answers (the fresh batch is
    // full width, matching the block — no fold on this path). With no
    // covering block resident (the covering block is parked mid-spill),
    // the data carries into a NEW len-1 block instead — "data entering a
    // folded interval always lands in some block" is the invariant whole-
    // block answers rely on; a later restore absorbs the overlap.
    if (timeAndItem && folds.getOrElse(interval, 0) > 0) {
      coveringBlock(interval) match {
        case Some((span, blk)) => history.update(span, blk.mergeWith(sketch))
        case None => carryIntoHistory((interval, 1L),
          IntervalSketch.fromBytes(IntervalSketch.toBytes(sketch)))
      }
    }
    intervals.get(interval) match {
      // mergeWith aligns widths, so fresh full-width data folds into an
      // already-compressed aged interval correctly
      case Some(existing) => intervals.update(interval, existing.mergeWith(sketch))
      case None => intervals.update(interval, sketch)
    }
    compact()
  }

  /** Resident dyadic block whose span contains `iv`, if any. Blocks are
   * disjoint (the carry merges, never overlaps), so at most one matches. */
  private def coveringBlock(iv: Long): Option[((Long, Long), IntervalSketch)] =
    history.find { case ((hs, hl), _) => hs <= iv && iv < hs + hl }

  /** Member intervals (resident) of a history block span. */
  private def blockMembers(hs: Long, hl: Long): Seq[Long] =
    intervals.range(hs, hs + hl).keys.toSeq

  private def compact(): Unit =
    if (itemAggregation || timeAndItem) compactItems() else compactTime()

  private def compactItems(): Unit = {
    if (intervals.isEmpty) return
    val newest = intervals.lastKey
    val updates = intervals.toSeq.flatMap { case (iv, sk) =>
      val age = newest - iv
      if (age < 2) None
      else {
        val target = 63 - java.lang.Long.numberOfLeadingZeros(age) // floor log2
        var cur = folds.getOrElse(iv, 0)
        var s = sk
        var changed = false
        if (timeAndItem && cur == 0 && target > 0 && s.compressible(minWidth)) {
          // combined mode: capture the interval's full-width content into
          // the dyadic history BEFORE the first lossy fold (deep copy via
          // the wire form — the carry mutates its receiver). A block
          // already covering iv (this is a RE-materialized member, e.g.
          // after a failed-spill restore) absorbs the copy instead of a
          // new carry — overlapping blocks would break the whole-block /
          // member-represented selection rule (a len-1 block inside a
          // bigger one steals the interval from the bigger block's
          // member representation and drops its mass on ragged windows)
          val copy = IntervalSketch.fromBytes(IntervalSketch.toBytes(s))
          coveringBlock(iv) match {
            case Some((span, blk)) => history.update(span, blk.mergeWith(copy))
            case None => carryIntoHistory((iv, 1L), copy)
          }
        }
        while (cur < target && s.compressible(minWidth)) {
          s = s.compressed; cur += 1; changed = true
        }
        if (changed) Some((iv, s, cur)) else None
      }
    }
    updates.foreach { case (iv, s, cur) =>
      intervals.update(iv, s)
      folds.update(iv, cur)
    }
  }

  /** Dyadic carry: merge equal-length ADJACENT history blocks until no
   * further merge applies, then store. Shared by time-mode eviction and
   * the combined mode's pre-fold snapshots.
   *
   * The final store MERGES with any existing same-span block instead of
   * overwriting it: late-arriving data re-materializes an already-evicted
   * interval, and when that bucket is evicted in turn the carry lands on
   * the span the original eviction already occupies — a plain update
   * silently dropped the original block's counts (found by
   * [[SketchFuzzSpec]]; monotone-append tests never hit it). */
  private def carryIntoHistory(span: (Long, Long), sk: IntervalSketch): Unit = {
    var entry: ((Long, Long), IntervalSketch) = (span, sk)
    var done = false
    while (!done) {
      val ((start, len), s) = entry
      history.find { case ((hs, hl), _) => hl == len && hs + hl == start } match {
        case Some(((hs, hl), hsk)) =>
          history.remove((hs, hl))
          entry = ((hs, len * 2), hsk.mergeWith(s))
        case None => done = true
      }
    }
    history.get(entry._1) match {
      case Some(existing) =>
        history.update(entry._1, existing.mergeWith(entry._2))
      case None => history.update(entry._1, entry._2)
    }
  }

  private def compactTime(): Unit = {
    while (intervals.size > maxInterval) {
      val (oldest, sk) = intervals.head
      intervals.remove(oldest)
      carryIntoHistory((oldest, 1L), sk)
    }
  }

  /** Sketches overlapping [startInterval, endInterval] (inclusive). Coarse
   * history blocks are included when they overlap the range — the Hokusai
   * resolution trade-off for old data.
   *
   * Combined mode picks each span's MOST ACCURATE single representation
   * (reference `Hokusai.scala:476-525` `queryBetweenIntervals`): a block
   * fully inside the range answers for its whole span at full width (its
   * member intervals are skipped — block ⊇ members would double-count); a
   * block only partially overlapping is represented by its member
   * intervals inside the range (compressed, but correctly clipped). A
   * partially-overlapping block with NO resident members (failed-spill
   * restore corner) falls back to coarse whole-block inclusion — over-
   * covering, never undercounting. */
  def range(startInterval: Long, endInterval: Long): Seq[IntervalSketch] = {
    val until = if (endInterval == Long.MaxValue) endInterval else endInterval + 1
    if (!timeAndItem) {
      val recent = intervals.range(startInterval, until).values.toSeq
      val old = history.collect {
        case ((hs, hl), s) if hs <= endInterval && (hs + hl - 1) >= startInterval => s
      }.toSeq
      recent ++ old
    } else {
      val sel = selectBuckets(startInterval, endInterval)
      sel.whole.map(_._2) ++ sel.orphanPartials.map(_._2) ++
        sel.uncovered.map(_._2)
    }
  }

  /** Combined-mode bucket selection for [start, end] — the ONE definition
   * both [[range]] and [[refinedEstimate]] answer from, so the merged and
   * refined paths can never diverge on which buckets represent a span:
   * whole blocks answer their span (members skipped), partially-
   * overlapping blocks are represented by their member intervals clipped
   * to the range, and a partial block with NO resident members
   * (failed-spill-restore corner) is included coarsely — over-covering,
   * never undercounting. */
  private final case class BucketSelection(
      whole: Seq[((Long, Long), IntervalSketch)],
      orphanPartials: Seq[((Long, Long), IntervalSketch)],
      uncovered: Seq[(Long, IntervalSketch)])

  private def selectBuckets(startInterval: Long, endInterval: Long): BucketSelection = {
    val until = if (endInterval == Long.MaxValue) endInterval else endInterval + 1
    val (whole, partial) = history.toSeq
      .filter { case ((hs, hl), _) => hs <= endInterval && hs + hl - 1 >= startInterval }
      .partition { case ((hs, hl), _) => hs >= startInterval && hs + hl - 1 <= endInterval }
    val coveredByWhole = whole.map(_._1)
    val orphanPartials = partial.collect {
      case (span @ (hs, hl), s) if blockMembers(hs, hl).isEmpty => (span, s)
    }
    val ivs = intervals.range(startInterval, until).toSeq.filter { case (iv, _) =>
      !coveredByWhole.exists { case (hs, hl) => hs <= iv && iv < hs + hl }
    }
    BucketSelection(whole, orphanPartials, ivs)
  }

  /** Fold count applied to an interval so far (0 = still full width). */
  private[graft] def foldOf(iv: Long): Int = folds.getOrElse(iv, 0)

  /** Reinstate a history block removed for a spill that then failed.
   * Any block that formed meanwhile and overlaps the restored span (a
   * re-materialized member snapshotted while this block was parked — its
   * data is DISJOINT from the parked block's) is absorbed into one block
   * over the union span: overlapping resident blocks would break the
   * whole-block / member-represented selection rule. Union spans may be
   * non-dyadic — the selection logic never assumes dyadic lengths. */
  private[graft] def restoreHistoryBlock(span: (Long, Long), s: IntervalSketch): Unit = {
    var start = span._1
    var len = span._2
    var sk = s
    var done = false
    while (!done) {
      history.find { case ((hs, hl), _) =>
        hs <= start + len - 1 && hs + hl - 1 >= start
      } match {
        case Some(((hs, hl), ex)) =>
          history.remove((hs, hl))
          sk = sk.mergeWith(ex)
          val ns = math.min(start, hs)
          val ne = math.max(start + len, hs + hl)
          start = ns; len = ne - ns
        case None => done = true
      }
    }
    history.update((start, len), sk)
  }

  /** Reinstate an interval removed for a spill that then failed, merging
   * into any bucket a concurrent append re-materialized meanwhile. The
   * stored fold count becomes the max of the two — mergeWith aligned the
   * widths to the narrower side, and under-reporting the fold would make
   * compactItems skip expected compression steps. */
  private[graft] def restoreInterval(iv: Long, s: IntervalSketch, fold: Int): Unit = {
    intervals.get(iv) match {
      case Some(existing) =>
        val exFold = folds.getOrElse(iv, 0)
        // a bucket re-materialized while parked (fold was cleared) never
        // fed any history block — the addTo hook requires fold > 0 — and
        // restoring fold > 0 below would suppress its first-fold snapshot
        // forever, so feed it to the covering block NOW while still full
        // width. An exFold > 0 bucket already snapshotted; merging again
        // would double-count.
        if (timeAndItem && fold > 0 && exFold == 0) {
          val copy = IntervalSketch.fromBytes(IntervalSketch.toBytes(existing))
          coveringBlock(iv) match {
            case Some((span, blk)) => history.update(span, blk.mergeWith(copy))
            case None => carryIntoHistory((iv, 1L), copy)
          }
        }
        intervals.update(iv, existing.mergeWith(s))
        folds.update(iv, math.max(fold, exFold))
      case None =>
        intervals.update(iv, s)
        if (fold > 0) folds.update(iv, fold)
    }
  }

  /** Merged sketches over the range. Always folds into a FRESH sketch —
   * `mergeWith` mutates its receiver, and the single-element case of a
   * plain reduce would hand the caller the stored bucket itself, which a
   * subsequent merge (e.g. with spilled buckets) would then corrupt. */
  def mergedRange(startInterval: Long, endInterval: Long): Option[IntervalSketch] = {
    val rs = range(startInterval, endInterval)
    if (rs.isEmpty) None else Some(rs.foldLeft(mk())(_.mergeWith(_)))
  }

  /** Actual [min, max] interval span (inclusive) of the buckets overlapping
   * [startInterval, endInterval] — coarse history blocks contribute their
   * full extent (the Hokusai resolution trade-off for old data). In
   * combined mode the span is computed from [[selectBuckets]] — the same
   * selection the answers come from — so a partially-overlapping block
   * that is REPRESENTED by its member intervals clipped to the range
   * contributes only those members, not its full extent; claiming the
   * full extent would report coverage for data the clipped answer
   * deliberately excludes. Whole blocks and orphan partials (answered
   * coarsely, over-covering) still contribute their full extent. */
  def coveredRange(startInterval: Long, endInterval: Long): Option[(Long, Long)] = {
    val spans: Seq[(Long, Long)] = if (timeAndItem) {
      val sel = selectBuckets(startInterval, endInterval)
      sel.whole.map { case ((hs, hl), _) => (hs, hs + hl - 1) } ++
        sel.orphanPartials.map { case ((hs, hl), _) => (hs, hs + hl - 1) } ++
        sel.uncovered.map { case (iv, _) => (iv, iv) }
    } else {
      val until = if (endInterval == Long.MaxValue) endInterval else endInterval + 1
      intervals.range(startInterval, until).keys.toSeq.map(iv => (iv, iv)) ++
        history.keys.toSeq
          .filter { case (hs, hl) => hs <= endInterval && hs + hl - 1 >= startInterval }
          .map { case (hs, hl) => (hs, hs + hl - 1) }
    }
    if (spans.isEmpty) None
    else Some((spans.map(_._1).min, spans.map(_._2).max))
  }

  /** Point estimate of `key` over [startInterval, endInterval] using the
   * combined structure's n̂ refinement (reference `Hokusai.scala:638-692`
   * `calcNCarat`; the paper's Algorithm 3). Whole-block spans answer from
   * the full-width block; each ragged-edge compressed interval's noisy
   * estimate ñ is kept when it stands clear of the CMS noise floor
   * (ñ = 0 or ñ > ⌈ε·N⌉) and otherwise refined to
   * n̂ = min over rows of  m_B[cell] · A_t[cell] / Σ_{s∈B} A_s[cell]
   * — the block's accurate mass distributed over members in proportion to
   * their compressed cells — clamped to ñ (the row-min overestimate bound
   * true ≤ ñ survives, so `upper` stays ñ). Returns (lower, est, upper)
   * summed over the covered span; None when nothing overlaps or the
   * family is not CMS. Combined mode only. */
  def refinedEstimate(startInterval: Long, endInterval: Long, key: Any,
      maxCellReads: Long = Long.MaxValue): Option[(Long, Long, Long)] =
    refinedEstimates(startInterval, endInterval, Seq(key), maxCellReads)
      .flatMap(_.headOption.flatten)

  /** [[refinedEstimate]] for MANY keys against ONE bucket selection and
   * ONE span-memoized interval→block partition — the per-candidate cost
   * of a refined top-k listing is then the n̂ math alone, not a repeated
   * linear `history` scan per interval per key. `maxCellReads` is the
   * caller's work budget (the listing runs under the TopK state lock):
   * the cost estimate uses each bucket's ACTUAL depth, and an over-budget
   * call returns None WITHOUT computing — the caller answers from the
   * always-correct merged path instead. Returns one Option per key, in
   * input order. */
  def refinedEstimates(startInterval: Long, endInterval: Long, keys: Seq[Any],
      maxCellReads: Long = Long.MaxValue): Option[Seq[Option[(Long, Long, Long)]]] = {
    require(timeAndItem, "refinedEstimate requires timeAndItem mode")
    val sel = selectBuckets(startInterval, endInterval)
    def cmsOf(s: IntervalSketch): Option[TopKCms] = s match {
      case CmsInterval(c) => Some(c)
      case _ => None
    }
    // span-memoized covering info, built ONCE per call (not per interval,
    // not per key): span → (block sketch, resident member sketches)
    val spanCache =
      mutable.Map.empty[(Long, Long), (Option[TopKCms], Seq[TopKCms])]
    def spanInfo(span: (Long, Long)): (Option[TopKCms], Seq[TopKCms]) =
      spanCache.getOrElseUpdate(span, {
        (history.get(span).flatMap(cmsOf),
          blockMembers(span._1, span._2)
            .flatMap(m => intervals.get(m)).flatMap(cmsOf(_)))
      })
    val blockSpanOf: Map[Long, Option[(Long, Long)]] =
      sel.uncovered.iterator.map { case (iv, _) =>
        iv -> coveringBlock(iv).map(_._1)
      }.toMap
    var costPerKey = 0L
    sel.uncovered.foreach { case (iv, s) =>
      if (folds.getOrElse(iv, 0) > 0) {
        val d = cmsOf(s).map(_.cms.depth).getOrElse(8).toLong
        val m = blockSpanOf(iv).map(sp => spanInfo(sp)._2.size).getOrElse(0).toLong
        costPerKey += d * (m + 2L)
      } else costPerKey += 2L
    }
    costPerKey += (sel.whole.size + sel.orphanPartials.size) * 8L
    if (keys.nonEmpty && costPerKey > maxCellReads / keys.size) return None
    Some(keys.map { key =>
      var lower = 0L; var est = 0L; var upper = 0L; var any = false
      def addTriple(t: (Long, Long, Long)): Unit = {
        lower += t._1; est += t._2; upper += t._3; any = true
      }
      sel.whole.foreach { case (_, s) => addTriple(s.estimate(key)) }
      sel.orphanPartials.foreach { case (_, s) => addTriple(s.estimate(key)) }
      sel.uncovered.foreach { case (iv, s) =>
        val refined = if (folds.getOrElse(iv, 0) == 0) None else for {
          at <- cmsOf(s)
          span <- blockSpanOf(iv)
          blk <- spanInfo(span)._1
        } yield {
          val nTilda = at.cms.estimateCount(key)
          val slack = math.ceil(at.cms.eps * at.cms.total).toLong
          if (nTilda == 0L || nTilda > slack) s.estimate(key)
          else {
            val members = spanInfo(span)._2
            var res = Long.MaxValue
            var row = 0
            val depth = at.cms.depth
            while (row < depth && res > 0L) {
              var denom = 0L
              members.foreach(m => denom += m.cms.cell(row, key))
              if (denom == 0L) res = 0L
              else {
                // double ratio: the operands are cell counts whose exact
                // product can overflow Long at large totals
                val v = (blk.cms.cell(row, key) *
                  (at.cms.cell(row, key).toDouble / denom)).toLong
                if (v < res) res = v
              }
              row += 1
            }
            val nHat = math.min(if (res == Long.MaxValue) 0L else res, nTilda)
            (math.max(0L, nHat - slack), nHat, nTilda)
          }
        }
        addTriple(refined.getOrElse(s.estimate(key)))
      }
      if (any) Some((lower, est, upper)) else None
    })
  }

  /** Replace this sketch's entire bucket state from a snapshot (the
   * re-attach path of a persisted TopK table). Config fields are taken
   * from this instance; the snapshot's buckets overwrite in place. */
  def restoreFrom(bytes: Array[Byte]): Unit = {
    val t = TimeBucketedSketch.fromSnapshot(bytes)
    intervals.clear(); history.clear(); folds.clear()
    intervals ++= t.intervals
    history ++= t.history
    folds ++= t.folds
  }

  /** Full-state byte snapshot (config + an empty prototype from `mk` +
   * every bucket), the unit Kryo/checkpoint serialization delegates to —
   * `mk` itself is an arbitrary closure and never crosses the wire. */
  def snapshotBytes: Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    def writeBlob(b: Array[Byte]): Unit = { out.writeInt(b.length); out.write(b) }
    out.writeInt(maxInterval)
    out.writeBoolean(itemAggregation)
    out.writeInt(minWidth)
    writeBlob(IntervalSketch.toBytes(mk()))
    out.writeInt(intervals.size)
    intervals.foreach { case (iv, s) =>
      out.writeLong(iv); writeBlob(IntervalSketch.toBytes(s))
    }
    out.writeInt(history.size)
    history.foreach { case ((hs, hl), s) =>
      out.writeLong(hs); out.writeLong(hl); writeBlob(IntervalSketch.toBytes(s))
    }
    out.writeInt(folds.size)
    folds.foreach { case (iv, f) => out.writeLong(iv); out.writeInt(f) }
    out.writeBoolean(timeAndItem)
    out.flush()
    bos.toByteArray
  }
}

object TimeBucketedSketch {
  def fromSnapshot(bytes: Array[Byte]): TimeBucketedSketch = {
    val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
    def readBlob(): Array[Byte] = {
      val b = new Array[Byte](in.readInt()); in.readFully(b); b
    }
    val maxInterval = in.readInt()
    val itemAggregation = in.readBoolean()
    val minWidth = in.readInt()
    val proto = readBlob()
    val ivs = scala.collection.mutable.ArrayBuffer.empty[(Long, IntervalSketch)]
    (0 until in.readInt()).foreach { _ =>
      val iv = in.readLong(); ivs += ((iv, IntervalSketch.fromBytes(readBlob())))
    }
    val hist = scala.collection.mutable.ArrayBuffer.empty[((Long, Long), IntervalSketch)]
    (0 until in.readInt()).foreach { _ =>
      val hs = in.readLong(); val hl = in.readLong()
      hist += (((hs, hl), IntervalSketch.fromBytes(readBlob())))
    }
    val fs = scala.collection.mutable.ArrayBuffer.empty[(Long, Int)]
    (0 until in.readInt()).foreach { _ =>
      val iv = in.readLong(); fs += ((iv, in.readInt()))
    }
    val timeAndItem = in.readBoolean()
    val t = new TimeBucketedSketch(maxInterval,
      () => IntervalSketch.fromBytes(proto), itemAggregation, minWidth, timeAndItem)
    t.intervals ++= ivs
    t.history ++= hist
    t.folds ++= fs
    t
  }
}
