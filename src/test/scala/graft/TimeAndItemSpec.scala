package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sketch._

/**
 * Combined time+item Hokusai aggregation (reference
 * `execution/Hokusai.scala:436-692` `TimeAndItemAggregation` + `calcNCarat`;
 * the paper's Algorithm 3, pinned behaviorally by the reference's
 * `HokusaiIntervalTrackerSpec:341-560` interpolation cases): every interval
 * keeps a shrinking-width item sketch AND aged intervals feed a full-width
 * dyadic history, so range queries answer dyadic-aligned spans accurately
 * and point estimates on compressed intervals refine with n̂.
 */
class TimeAndItemSpec extends AnyFunSuite {

  private def mkCms(width: Int = 512): () => IntervalSketch =
    () => CmsInterval(new TopKCms(10, 5, width, 7)): IntervalSketch

  private def feed(tb: TimeBucketedSketch, iv: Long,
      counts: Seq[(String, Long)], width: Int = 512): Unit = {
    val s = new TopKCms(10, 5, width, 7)
    counts.foreach { case (k, n) => s.add(k, n) }
    tb.addTo(iv, CmsInterval(s))
  }

  test("combined mode: full-width dyadic history + shrinking intervals coexist") {
    val tb = new TimeBucketedSketch(4, mkCms(), timeAndItem = true, minWidth = 64)
    (0L until 20L).foreach(iv => feed(tb, iv, Seq(s"k$iv" -> (iv + 1))))
    // every interval kept (item-mode retention)
    assert(tb.intervals.size === 20)
    // aged intervals snapshotted into dyadic full-width blocks
    assert(tb.history.nonEmpty)
    tb.history.foreach { case ((hs, hl), s) =>
      assert((hl & (hl - 1)) === 0L, s"non-dyadic block length $hl")
      s match {
        case CmsInterval(c) => assert(c.cms.width === 512, "history must stay full width")
        case other => fail(s"unexpected family $other")
      }
    }
    // blocks are disjoint and cover exactly the snapshotted prefix
    val covered = tb.history.keys.toSeq.flatMap { case (hs, hl) => hs until (hs + hl) }
    assert(covered.distinct.size === covered.size, "overlapping blocks")
    assert(covered.sorted === (0L to covered.max).toList, "history has gaps")
  }

  test("no double count: range estimates equal exact sums at ample width") {
    val tb = new TimeBucketedSketch(4, mkCms(), timeAndItem = true, minWidth = 64)
    val T = 40L
    (0L until T).foreach(iv => feed(tb, iv, Seq("k" -> 7L * (iv + 1))))
    def apSum(from: Long, to: Long): Long = (from to to).map(t => 7L * (t + 1)).sum
    // a lone key never collides: whole-range and every suffix/ragged range
    // must be EXACT (the smart selection never counts a span twice and the
    // per-interval clipping of partial blocks loses no resolution)
    for (start <- 0L until T; end <- Seq(start, (start + 5).min(T - 1), T - 1)) {
      val est = tb.mergedRange(start, end).get.estimate("k")._2
      assert(est === apSum(start, end), s"range [$start,$end]")
      val (_, refined, _) = tb.refinedEstimate(start, end, "k").get
      assert(refined === apSum(start, end), s"refined range [$start,$end]")
    }
  }

  test("combined beats pure item aggregation on old dyadic-aligned spans") {
    // narrow sketch + many keys: compressed per-interval estimates carry
    // collision noise that the full-width history blocks do not
    val width = 64
    val noise = (1 to 80).map(i => s"n$i" -> 5L)
    val itemTb = new TimeBucketedSketch(4, mkCms(width),
      itemAggregation = true, minWidth = 8)
    val bothTb = new TimeBucketedSketch(4, mkCms(width),
      timeAndItem = true, minWidth = 8)
    (0L until 32L).foreach { iv =>
      feed(itemTb, iv, noise :+ ("hot" -> 100L), width)
      feed(bothTb, iv, noise :+ ("hot" -> 100L), width)
    }
    // old span aligned with a dyadic block: combined answers from the
    // full-width block
    val span = bothTb.history.keys.find(_._2 >= 8).get
    val (hs, hl) = span
    val truth = 100L * hl
    val itemEst = itemTb.mergedRange(hs, hs + hl - 1).get.estimate("hot")._2
    val bothEst = bothTb.mergedRange(hs, hs + hl - 1).get.estimate("hot")._2
    assert(bothEst >= truth, "CMS stays overestimate-only")
    assert(bothEst - truth <= itemEst - truth,
      s"combined ($bothEst) should be at least as tight as item-only ($itemEst) vs $truth")
  }

  test("n̂ refinement tightens noisy compressed-interval estimates") {
    // 'ghost' never occurs in interval 20 but collision noise in its
    // folded sketch makes the raw ñ positive; the n̂ ratio against the
    // covering full-width block pulls it back toward 0 and never above ñ
    val width = 64
    val noise = (1 to 120).map(i => s"n$i" -> 8L)
    val tb = new TimeBucketedSketch(4, mkCms(width), timeAndItem = true, minWidth = 8)
    (0L until 40L).foreach { iv =>
      val rows = if (iv == 3L) noise :+ ("ghost" -> 500L) else noise
      feed(tb, iv, rows, width)
    }
    // pick an old interval in a block that does NOT contain interval 3
    val iv = 20L
    val ivSketch = tb.intervals(iv)
    val nTilda = ivSketch.estimate("ghost")._2
    val (_, nHat, upper) = tb.refinedEstimate(iv, iv, "ghost").get
    assert(upper === nTilda, "upper bound stays the compressed overestimate")
    assert(nHat <= nTilda, "refinement never exceeds ñ")
    // and the real occurrence stays visible where it happened
    val (_, hot, _) = tb.refinedEstimate(3L, 3L, "ghost").get
    assert(hot >= 400L, s"true occurrence under-refined: $hot")
  }

  test("property: true count <= refined upper over random streams") {
    val rnd = new scala.util.Random(11)
    val width = 128
    val tb = new TimeBucketedSketch(4, mkCms(width), timeAndItem = true, minWidth = 16)
    val truth = scala.collection.mutable.Map.empty[(Long, String), Long]
    (0L until 30L).foreach { iv =>
      val rows = (1 to 150).map { _ =>
        val k = s"k${rnd.nextInt(40)}"
        val n = rnd.nextInt(20) + 1L
        truth((iv, k)) = truth.getOrElse((iv, k), 0L) + n
        k -> n
      }
      feed(tb, iv, rows, width)
    }
    for (_ <- 1 to 200) {
      val a = rnd.nextInt(30).toLong
      val b = a + rnd.nextInt(30 - a.toInt).toLong
      val k = s"k${rnd.nextInt(40)}"
      val exact = (a to b).map(t => truth.getOrElse((t, k), 0L)).sum
      val (_, est, upper) = tb.refinedEstimate(a, b, k).get
      assert(exact <= upper, s"[$a,$b] $k: true $exact > upper $upper")
      assert(est <= upper, s"[$a,$b] $k: est $est > upper $upper")
    }
  }

  test("reference interpolation-accuracy shape: till-last-N queries within 25%") {
    // reference `HokusaiIntervalTrackerSpec:400-452` scaled down: key j
    // carries count j every epoch, so the exact till-last-N frequency is
    // j·N; a sketch too narrow for the key space (300 keys / width 512,
    // folding to 64) answers every (epoch, lookback, key) probe within
    // the reference's 25% band — the n̂ refinement and the whole-block
    // answers are what keep compressed history usable at this width
    // the reference provisions ~10 cells per key (2^20 width for 100k
    // keys); matching that regime here: 100 keys, width 2048 folding no
    // further than 512 ⇒ ≥5 cells/key at the coarsest
    val width = 2048
    val keys = 100
    val tb = new TimeBucketedSketch(4, mkCms(width), timeAndItem = true, minWidth = 512)
    val rndKey = new scala.util.Random(41)
    var worst = 0.0
    (1 to 20).foreach { epoch =>
      val s = new TopKCms(10, 5, width, 7)
      (1 to keys).foreach(j => s.add(s"k$j", j.toLong))
      tb.addTo(epoch.toLong, CmsInterval(s))
      (1 to 10).foreach { _ =>
        val n = 1 + rndKey.nextInt(epoch)
        val j = 1 + rndKey.nextInt(keys)
        val exact = j.toLong * n
        // percentage bands need material counts (the reference's random
        // keys carry large AP sums); tiny exacts are covered by the
        // absolute ε·N slack, not a relative band
        if (exact >= 50L) {
        val (_, est, _) =
          tb.refinedEstimate(epoch.toLong - n + 1, epoch.toLong, s"k$j").get
        val errPct = math.abs(est - exact) * 100.0 / exact
        worst = math.max(worst, errPct)
        assert(errPct <= 25.0,
          s"epoch $epoch lookback $n key k$j: est $est vs exact $exact " +
            f"($errPct%.1f%% > 25%%)")
        }
      }
    }
    assert(worst > 0.0, "the shape must actually exercise collision noise")
  }

  test("snapshot round-trips the combined mode byte-for-byte") {
    val tb = new TimeBucketedSketch(4, mkCms(128), timeAndItem = true, minWidth = 16)
    (0L until 25L).foreach(iv => feed(tb, iv, Seq("k" -> (iv + 1), s"x$iv" -> 3L), 128))
    val restored = TimeBucketedSketch.fromSnapshot(tb.snapshotBytes)
    assert(restored.timeAndItem)
    assert(restored.intervals.keySet === tb.intervals.keySet)
    assert(restored.history.keySet === tb.history.keySet)
    for (start <- 0L until 25L by 3L) {
      assert(restored.refinedEstimate(start, 24L, "k") ===
        tb.refinedEstimate(start, 24L, "k"))
    }
  }

  test("restoreInterval reinstates a parked member through a re-materialization") {
    // the failed-spill restore path: a block's members are removed for the
    // spill, a concurrent append re-materializes one with late data, then
    // the write fails and the member is restored — the union must hold and
    // the fold count must not under-report (or compactItems would skip
    // expected compression steps and the width-ratio bookkeeping drifts)
    val tb = new TimeBucketedSketch(4, mkCms(), timeAndItem = true, minWidth = 64)
    (0L until 20L).foreach(iv => feed(tb, iv, Seq("k" -> 10L)))
    val victim = 5L
    val fold = tb.foldOf(victim)
    assert(fold > 0, "victim must already be snapshotted/compressed")
    val parked = tb.removeInterval(victim).get
    assert(tb.foldOf(victim) === 0, "removal clears the fold count")
    // concurrent late append re-materializes the interval (full width)
    feed(tb, victim, Seq("late" -> 7L))
    tb.restoreInterval(victim, parked, fold)
    assert(tb.foldOf(victim) === fold)
    val (_, kEst, _) = tb.refinedEstimate(victim, victim, "k").get
    val (_, lateEst, _) = tb.refinedEstimate(victim, victim, "late").get
    // NOTE the covering block also saw both contributions (snapshot + the
    // late addTo merge), so whole-range answers stay exact as well
    assert(kEst >= 10L && lateEst >= 7L, s"union lost data: k=$kEst late=$lateEst")
    assert(tb.mergedRange(0L, 19L).get.estimate("k")._2 === 200L)
    assert(tb.mergedRange(0L, 19L).get.estimate("late")._2 === 7L)
  }

  test("restoreHistoryBlock absorbs blocks that formed over its span meanwhile") {
    // worst failed-spill corner: block (and members) removed for the
    // spill; DURING the write two members re-materialize from late data
    // and snapshot into new blocks inside the old span; the write then
    // fails and the old block is restored — resident blocks must never
    // overlap afterward, and no mass may be lost or doubled
    val tb = new TimeBucketedSketch(4, mkCms(), timeAndItem = true, minWidth = 64)
    (0L until 20L).foreach(iv => feed(tb, iv, Seq("k" -> 10L)))
    val (span, blockSketch) = tb.history.toSeq.maxBy(_._1._2) // widest block
    val members = (span._1 until span._1 + span._2).toSeq
    val parked = tb.removeHistory(span).get
    members.foreach(tb.removeInterval(_))
    // two members re-materialize and age into fresh snapshots
    feed(tb, members.head, Seq("late" -> 3L))
    feed(tb, members(1), Seq("late" -> 4L))
    // (their first fold may or may not have fired yet — force aging by
    // feeding the newest interval, which triggers compactItems)
    feed(tb, 19L, Seq("k" -> 0L))
    tb.restoreHistoryBlock(span, parked)
    // invariant: no two resident blocks overlap
    val spans = tb.history.keys.toSeq
    for (a <- spans; b <- spans if a != b) {
      assert(a._1 + a._2 - 1 < b._1 || b._1 + b._2 - 1 < a._1,
        s"overlapping blocks $a and $b")
    }
    // counts: k mass preserved (members were dropped, block holds their
    // pre-removal data; the extra feed added 0), late mass = 3 + 4
    assert(tb.mergedRange(0L, 19L).get.estimate("k")._2 === 200L)
    assert(tb.mergedRange(0L, 19L).get.estimate("late")._2 === 7L)
    val (_, lateRefined, _) = tb.refinedEstimate(0L, 19L, "late").get
    assert(lateRefined === 7L)
  }

  test("late data lands in both the interval and its covering block") {
    val tb = new TimeBucketedSketch(4, mkCms(), timeAndItem = true, minWidth = 64)
    (0L until 20L).foreach(iv => feed(tb, iv, Seq("k" -> 10L)))
    val lateIv = 5L
    assert(tb.history.keys.exists { case (hs, hl) => hs <= lateIv && lateIv < hs + hl })
    feed(tb, lateIv, Seq("late" -> 42L))
    // whole-range query answers the late key from the (full-width) block
    val est = tb.mergedRange(0L, 19L).get.estimate("late")._2
    assert(est === 42L)
    val (_, refined, _) = tb.refinedEstimate(0L, 19L, "late").get
    assert(refined === 42L)
    // and the ORIGINAL data did not double count through the late merge
    assert(tb.mergedRange(0L, 19L).get.estimate("k")._2 === 200L)
  }

  test("combined-mode coveredRange matches the clipped selection, not block extents") {
    val tb = new TimeBucketedSketch(4, mkCms(), timeAndItem = true, minWidth = 64)
    (0L until 20L).foreach(iv => feed(tb, iv, Seq("k" -> 1L)))
    // a history block starting at 0 exists and is longer than the query
    val blk = tb.history.keys.find(_._1 == 0L).get
    assume(blk._2 >= 8L, s"expected a block spanning past interval 5, got $blk")
    // query [2,5] cuts through that block: the answer comes from member
    // intervals clipped to the range, so coverage must be exactly [2,5] —
    // the block's full extent would claim data the answer excludes
    assert(tb.coveredRange(2L, 5L) === Some((2L, 5L)))
    // open-ended query: the partial block at the left edge contributes its
    // clipped members, whole blocks and the live tail their full spans
    val open = tb.coveredRange(2L, Long.MaxValue).get
    assert(open._1 === 2L && open._2 === 19L)
    // fully-contained block answers whole: coverage is its full extent
    assert(tb.coveredRange(0L, blk._1 + blk._2 - 1) ===
      Some((0L, blk._1 + blk._2 - 1)))
  }

  test("refinedEstimate honors a work budget and degrades to None, not a throw") {
    val tb = new TimeBucketedSketch(4, mkCms(), timeAndItem = true, minWidth = 64)
    (0L until 20L).foreach(iv => feed(tb, iv, Seq("k" -> 3L)))
    // default budget: answers
    assert(tb.refinedEstimate(0L, 19L, "k").isDefined)
    // zero budget: every selection costs something — must answer None
    // (the TopK layer then serves the merged path), never throw
    assert(tb.refinedEstimate(0L, 19L, "k", maxCellReads = 0L) === None)
  }
}
