package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sketch._

class SketchSpec extends AnyFunSuite {

  test("CMS never underestimates; exact within eps*N slack") {
    val cms = new CountMinSketch(7, 200, 123)
    val keys = (0 until 50).map(i => s"k$i")
    val truth = keys.zipWithIndex.map { case (k, i) => k -> (i.toLong * 3 + 1) }.toMap
    truth.foreach { case (k, n) => cms.add(k, n) }
    truth.foreach { case (k, n) =>
      val est = cms.estimateCount(k)
      assert(est >= n, s"CMS underestimated $k")
      assert(est <= n + math.ceil(cms.eps * cms.total).toLong, s"CMS slack violated for $k")
    }
  }

  test("CMS merge equals union stream") {
    val a = new CountMinSketch(5, 128, 9)
    val b = new CountMinSketch(5, 128, 9)
    val c = new CountMinSketch(5, 128, 9)
    (0 until 1000).foreach { i => a.add(s"x${i % 17}"); c.add(s"x${i % 17}") }
    (0 until 500).foreach { i => b.add(s"x${i % 11}"); c.add(s"x${i % 11}") }
    a.merge(b)
    (0 until 17).foreach { i =>
      assert(a.estimateCount(s"x$i") === c.estimateCount(s"x$i"))
    }
    assert(a.total === c.total)
  }

  test("CMS serde round-trips") {
    val cms = new CountMinSketch(4, 64, 7)
    (0 until 300).foreach(i => cms.add((i % 23).toLong))
    val back = CountMinSketch.deserialize(cms.serialized)
    (0 until 23).foreach(i => assert(back.estimateCount(i.toLong) === cms.estimateCount(i.toLong)))
  }

  test("StreamSummary exact when capacity >= distinct keys") {
    val s = new StreamSummary(100)
    val truth = (0 until 40).map(i => s"k$i" -> (i.toLong + 1)).toMap
    truth.foreach { case (k, n) => (0L until n).foreach(_ => s.add(k)) }
    truth.foreach { case (k, n) =>
      val (c, e) = s.estimateCount(k)
      assert(c === n); assert(e === 0L)
    }
    val top = s.topK(5)
    assert(top.map(_._1) === Seq("k39", "k38", "k37", "k36", "k35"))
  }

  test("StreamSummary guarantee under eviction: true <= count <= true + error") {
    val s = new StreamSummary(10)
    val rnd = new scala.util.Random(42)
    val truth = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    (0 until 5000).foreach { _ =>
      // zipfian-ish: few heavy keys + long tail
      val k = if (rnd.nextDouble() < 0.7) s"h${rnd.nextInt(5)}" else s"t${rnd.nextInt(200)}"
      truth(k) += 1; s.add(k)
    }
    s.counters.foreach { case (k, (c, e)) =>
      assert(truth(k.toString) <= c, s"$k count $c < true ${truth(k.toString)}")
      assert(c - e <= truth(k.toString), s"$k lower bound broken")
    }
    // heavy hitters must surface
    val top5 = s.topK(5).map(_._1.toString).toSet
    assert((0 until 5).map(i => s"h$i").count(top5.contains) >= 4)
  }

  test("StreamSummary bounds an untracked key by the minimum counter") {
    val s = new StreamSummary(2)
    // never full: an absent key is exactly 0
    s.add("a", 3L)
    assert(s.estimateCount("zz") === ((0L, 0L)))
    // a:3, b:2, then c evicts b (count 2 + 1, error 2)
    s.add("b", 2L); s.add("c", 1L)
    assert(!s.counters.contains("b"))
    val (c, e) = s.estimateCount("b")
    assert(c - e <= 0L && 2L <= c, s"evicted b (true 2) outside [${c - e}, $c]")
    assert(SummaryInterval(s).estimate("b") === ((0L, 3L, 3L)))
  }

  test("StreamSummary merge with a full smaller side keeps the untracked bound") {
    // an item-aggregation fold halves capacity: merging a full folded
    // summary into a wider, emptier one must still bound keys neither holds
    val folded = new StreamSummary(2)
    Seq("a" -> 5L, "b" -> 4L, "c" -> 3L).foreach { case (k, n) => folded.add(k, n) }
    val wide = new StreamSummary(8)
    wide.add("d", 1L)
    val truth = Map("a" -> 5L, "b" -> 4L, "c" -> 3L, "d" -> 1L)
    for (m <- Seq(wide.merge(folded), folded.merge(wide))) {
      truth.foreach { case (k, t) =>
        val (cnt, err) = m.estimateCount(k)
        assert(cnt - err <= t && t <= cnt, s"$k (true $t) outside [${cnt - err}, $cnt]")
      }
    }
  }

  test("StreamSummary merge is exact for non-evicting sides") {
    val a = new StreamSummary(100); val b = new StreamSummary(100)
    (0 until 30).foreach(i => { a.add(s"k${i % 10}"); b.add(s"k${i % 15}") })
    val m = a.merge(b)
    (0 until 15).foreach { i =>
      val want = (0 until 30).count(_ % 10 == i) + (0 until 30).count(_ % 15 == i)
      assert(m.estimateCount(s"k$i")._1 === want.toLong)
    }
  }

  test("StreamSummary serde round-trips") {
    val s = new StreamSummary(20)
    (0 until 100).foreach(i => s.add((i % 13).toLong))
    val back = StreamSummary.deserialize(s.serialized)
    assert(back.counters === s.counters)
    assert(back.capacity === s.capacity)
  }

  test("TopKCms returns true heavy hitters in order") {
    val t = new TopKCms(10, 7, 1000, 5)
    (1 to 20).foreach { i => (0 until i * 10).foreach(_ => t.add(s"k$i")) }
    val top = t.topK(5).map(_._1)
    assert(top === Seq("k20", "k19", "k18", "k17", "k16"))
  }

  test("TimeBucketedSketch: recent intervals exact, old folded dyadically") {
    val tb = new TimeBucketedSketch(4, () => SummaryInterval(new StreamSummary(100)))
    (0L until 10L).foreach { iv =>
      val s = new StreamSummary(100)
      s.add(s"key$iv", iv + 1)
      tb.addTo(iv, SummaryInterval(s))
    }
    assert(tb.intervals.size <= 4)
    assert(tb.intervals.keySet.max === 9L)
    // full-range query still sees all keys
    val merged = tb.mergedRange(0L, 9L).get
    (0L until 10L).foreach { iv =>
      val (lo, est, hi) = merged.estimate(s"key$iv")
      assert(est === iv + 1)
    }
    // recent-only query excludes folded history
    val recent = tb.mergedRange(8L, 9L).get
    assert(recent.estimate("key9")._2 === 10L)
  }

  test("CMS compress: guarantee survives folds, eps doubles, merge aligns widths") {
    val rnd = new scala.util.Random(3)
    val xs = List.fill(4000)(rnd.nextLong(500))
    val cms = new CountMinSketch(5, 512, 11)
    xs.foreach(x => cms.add(x))
    val truth = xs.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val folded = cms.compressed.compressed // 512 → 128
    assert(folded.width === 128)
    assert(folded.eps === math.E / 128)
    truth.foreach { case (k, n) =>
      assert(folded.estimateCount(k) >= n, s"fold broke overestimate for $k")
      assert(folded.estimateCount(k) >= cms.estimateCount(k)) // only widens
    }
    // width-aligned merge: wide ⊕ narrow == (wide folded) ⊕ narrow
    val wide = new CountMinSketch(5, 512, 11)
    xs.take(2000).foreach(x => wide.add(x))
    val narrow = new CountMinSketch(5, 512, 11)
    xs.drop(2000).foreach(x => narrow.add(x))
    val narrowF = narrow.compressed
    val merged = wide.merge(narrowF)
    assert(merged.width === 256)
    truth.foreach { case (k, n) => assert(merged.estimateCount(k) >= n) }
  }

  test("TimeBucketedSketch item aggregation: all intervals kept, widths shrink, bounds widen") {
    val mkCms = () => CmsInterval(new TopKCms(10, 5, 512, 7)): IntervalSketch
    val tb = new TimeBucketedSketch(4, mkCms, itemAggregation = true, minWidth = 64)
    val perInterval = 200
    val rnd = new scala.util.Random(5)
    val truths = (0L until 20L).map { iv =>
      val s = new TopKCms(10, 5, 512, 7)
      val keys = List.fill(perInterval)(rnd.nextLong(50))
      keys.foreach(k => s.add(k))
      tb.addTo(iv, CmsInterval(s))
      iv -> keys.groupBy(identity).view.mapValues(_.size.toLong).toMap
    }.toMap
    // ALL 20 intervals individually queryable (time aggregation would have
    // folded everything past maxInterval=4 into coarse blocks)
    assert(tb.intervals.size === 20)
    assert(tb.history.isEmpty)
    // old sketches physically shrank: age ≥ 8 ⇒ ≥ 3 folds (512 → 64)
    val w = (iv: Long) =>
      tb.intervals(iv).asInstanceOf[CmsInterval].s.cms.width
    assert(w(0L) === 64 && w(19L) === 512, s"${w(0L)} / ${w(19L)}")
    assert((0L until 20L).forall(iv => w(iv) >= 64))
    // per-interval estimates: overestimate-only survives every fold, and
    // the widened eps bound (computed from the folded width) still frames
    // the truth: true ∈ [lower, estimate]
    truths.foreach { case (iv, truth) =>
      val sk = tb.mergedRange(iv, iv).get
      truth.foreach { case (k, n) =>
        val (lo, est, _) = sk.estimate(k)
        assert(est >= n, s"iv $iv key $k: est $est < true $n")
        assert(lo <= n, s"iv $iv key $k: lower $lo > true $n")
      }
    }
    // cross-width range merge stays sound
    val all = tb.mergedRange(0L, 19L).get
    val grand = truths.values.flatten.groupBy(_._1).view
      .mapValues(_.map(_._2).sum).toMap
    grand.foreach { case (k, n) => assert(all.estimate(k)._2 >= n) }
  }

  test("SummaryInterval compression preserves (count, error) pairs") {
    val s = new StreamSummary(4)
    // force evictions so retained keys carry non-zero error
    (1 to 60).foreach(i => s.add(s"k${i % 12}"))
    val iv = SummaryInterval(s)
    val half = iv.compressed.asInstanceOf[SummaryInterval]
    half.s.counters.foreach { case (k, (c, e)) =>
      val (oc, oe) = s.estimateCount(k)
      assert(c === oc && e === oe,
        s"$k: compressed ($c, $e) != original ($oc, $oe)")
    }
    assert(half.s.capacity === 2)
  }

  test("property: CMS overestimate-only on random streams") {
    val rnd = new scala.util.Random(7)
    (0 until 50).foreach { _ =>
      val xs = List.fill(300)(rnd.nextLong(41))
      val cms = new CountMinSketch(5, 64, 11)
      xs.foreach(x => cms.add(x))
      val truth = xs.groupBy(identity).view.mapValues(_.size.toLong)
      truth.foreach { case (k, n) => assert(cms.estimateCount(k) >= n) }
    }
  }

  test("property: StreamSummary size never exceeds capacity") {
    val rnd = new scala.util.Random(11)
    (0 until 50).foreach { _ =>
      val xs = List.fill(500)(s"k${rnd.nextInt(80)}")
      val s = new StreamSummary(16)
      xs.foreach(x => s.add(x))
      assert(s.counters.size <= 16)
    }
  }

  test("exhaustive epoch x lookback sweep: merged estimate equals the covered-span sum") {
    // reference `HokusaiIntervalTrackerSpec:63-140` shape: a single key with
    // an arithmetic-progression count (interval t carries 7*(t+1)) queried
    // for EVERY lookback n at EVERY epoch. A lone key never collides in the
    // CMS and never evicts from the summary, so the merged estimate must
    // equal the exact sum over the buckets the range actually covers
    // (coveredRange widens into a dyadic block's full extent — the Hokusai
    // resolution trade-off — and the sum must widen identically).
    def apSum(from: Long, to: Long): Long = // sum of 7*(t+1) for t in [from,to]
      (from to to).map(t => 7L * (t + 1)).sum
    for (mk <- Seq[() => IntervalSketch](
      () => CmsInterval(new TopKCms(10, 5, 256, 7)),
      () => SummaryInterval(new StreamSummary(50)))) {
      val tb = new TimeBucketedSketch(4, mk)
      for (t <- 0L until 60L) {
        val s = mk()
        s match {
          case CmsInterval(c) => c.add("k", 7L * (t + 1))
          case SummaryInterval(ss) => ss.add("k", 7L * (t + 1))
        }
        tb.addTo(t, s)
        for (n <- 1L to (t + 1)) {
          val (lo, hi) = tb.coveredRange(t - n + 1, t).get
          val est = tb.mergedRange(t - n + 1, t).get.estimate("k")._2
          assert(est === apSum(lo, hi),
            s"epoch $t lookback $n: est $est != exact sum over covered [$lo,$hi]")
        }
      }
    }
  }

  test("long horizon: 200 epochs fold into O(maxInterval + log T) dyadic buckets") {
    // reference `HokusaiIntervalTrackerSpec`-style horizon test: structure
    // and estimate guarantees must survive hundreds of epoch shifts, not
    // just the few intervals the short tests exercise
    val T = 200
    val maxIv = 8
    val truth = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    val perIv = Array.fill(T)(scala.collection.mutable.Map.empty[String, Long]
      .withDefaultValue(0L))

    def ingest(tb: TimeBucketedSketch, mkI: (String, Long) => IntervalSketch): Unit =
      (0 until T).foreach { iv =>
        val key = s"k${iv % 17}"
        val n = (iv % 5) + 1L
        tb.addTo(iv.toLong, mkI(key, n))
        tb.addTo(iv.toLong, mkI("hot", 10L))
      }
    (0 until T).foreach { iv =>
      truth(s"k${iv % 17}") += (iv % 5) + 1L
      truth("hot") += 10L
      perIv(iv)(s"k${iv % 17}") += (iv % 5) + 1L
      perIv(iv)("hot") += 10L
    }

    val cms = new TimeBucketedSketch(maxIv,
      () => CmsInterval(new TopKCms(20, 5, 512, 7)))
    ingest(cms, (k, n) => {
      val s = new TopKCms(20, 5, 512, 7); s.add(k, n); CmsInterval(s)
    })
    val ss = new TimeBucketedSketch(maxIv,
      () => SummaryInterval(new StreamSummary(100)))
    ingest(ss, (k, n) => {
      val s = new StreamSummary(100); s.add(k, n); SummaryInterval(s)
    })

    for (tb <- Seq(cms, ss)) {
      // structure: full resolution bounded by maxInterval, history dyadic
      assert(tb.intervals.size <= maxIv)
      val hist = tb.history.keys.toSeq.sorted
      hist.foreach { case (_, len) =>
        assert((len & (len - 1)) === 0L, s"non-power-of-2 history block $len")
      }
      // contiguous disjoint coverage of everything evicted from intervals
      val evictedEnd = tb.intervals.keySet.min - 1
      val covered = hist.flatMap { case (s, l) => s until (s + l) }
      assert(covered === (0L to evictedEnd), "history must tile the evicted span")
      assert(hist.size <= 2 * (63 - java.lang.Long.numberOfLeadingZeros(T.toLong) + 1),
        s"history blocks ${hist.size} not logarithmic in T=$T")

      // full-range estimates: bounds bracket the truth for every key
      val merged = tb.mergedRange(0L, T - 1L).get
      truth.foreach { case (k, t) =>
        val (lo, est, hi) = merged.estimate(k)
        assert(lo <= t && t <= hi, s"$k: truth $t outside [$lo,$hi]")
        assert(est >= t, s"$k: merged estimate $est under truth $t")
      }
    }

    // Space-Saving never evicts here (<= 18 distinct keys, capacity 100):
    // merged estimates are EXACT across every dyadic fold
    val ssMerged = ss.mergedRange(0L, T - 1L).get
    truth.foreach { case (k, t) =>
      assert(ssMerged.estimate(k)._2 === t, s"SS $k drifted")
    }

    // random ranges: coverage is a superset of the request and upper bounds
    // dominate the in-range truth (the Hokusai resolution trade-off)
    val rnd = new scala.util.Random(42)
    (1 to 40).foreach { _ =>
      val a = rnd.nextInt(T).toLong
      val b = a + rnd.nextInt((T - a.toInt).max(1)).toLong
      for (tb <- Seq(cms, ss)) {
        val (cMin, cMax) = tb.coveredRange(a, b).get
        assert(cMin <= a && b <= cMax, s"[$a,$b] not covered by [$cMin,$cMax]")
        val m = tb.mergedRange(a, b).get
        val inRange = (a.toInt to b.toInt).foldLeft(
          scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)) {
          (acc, iv) => perIv(iv).foreach { case (k, n) => acc(k) += n }; acc
        }
        inRange.foreach { case (k, t) =>
          assert(m.estimate(k)._3 >= t, s"[$a,$b] $k: upper ${m.estimate(k)._3} < $t")
        }
      }
    }
  }

  test("Kryo round-trips every sketch class byte-for-byte") {
    // the real Spark path: KryoSerializer + our registrator, no SparkContext
    // needed — a sketch crossing the wire under
    // spark.serializer=KryoSerializer must come back identical
    val conf = new org.apache.spark.SparkConf()
      .set("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .set("spark.kryo.registrator", "graft.sketch.GraftKryoRegistrator")
      .set("spark.kryo.registrationRequired", "false")
    val ser = new org.apache.spark.serializer.KryoSerializer(conf).newInstance()
    def roundTrip[T: scala.reflect.ClassTag](t: T): T =
      ser.deserialize[T](ser.serialize(t))

    val cms = new CountMinSketch(5, 128, 9)
    (0 until 1000).foreach(i => cms.add(s"x${i % 17}", i % 7 + 1))
    assert(roundTrip(cms).serialized.toSeq === cms.serialized.toSeq)

    val topk = new TopKCms(10, 5, 128, 42)
    (0 until 2000).foreach(i => topk.add(s"k${i % 31}", 1))
    assert(roundTrip(topk).serialized.toSeq === topk.serialized.toSeq)

    val ss = new StreamSummary(16)
    (0 until 500).foreach(i => ss.add(s"k${i % 40}"))
    val ssBack = roundTrip(ss)
    assert(ssBack.serialized.toSeq === ss.serialized.toSeq)
    // the transient bucket index must rebuild and keep evicting correctly
    ssBack.add("fresh-key")
    assert(ssBack.counters.size <= 16)

    assert(IntervalSketch.toBytes(roundTrip(CmsInterval(topk))).toSeq ===
      IntervalSketch.toBytes(CmsInterval(topk)).toSeq)
    assert(IntervalSketch.toBytes(roundTrip(SummaryInterval(ss))).toSeq ===
      IntervalSketch.toBytes(SummaryInterval(ss)).toSeq)

    val tb = new TimeBucketedSketch(4, () => CmsInterval(new TopKCms(5, 5, 64, 7)))
    (0L until 12L).foreach { iv =>
      val s = new TopKCms(5, 5, 64, 7)
      (0 until 100).foreach(i => s.add(s"k${(i + iv) % 9}", 1))
      tb.addTo(iv, CmsInterval(s))
    }
    val tbBack = roundTrip(tb)
    assert(tbBack.snapshotBytes.toSeq === tb.snapshotBytes.toSeq)
    // history + recent intervals answer identically after the round trip
    assert(tbBack.mergedRange(0, 11).get.topK(5) === tb.mergedRange(0, 11).get.topK(5))
  }
}
