package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.Pipeline

/**
 * Seeded fuzz of the prefix-sum family — the backbone of the token-budget
 * selection / sequence-packing / mixture gates — against single-threaded
 * brute force, over random shapes the hand-written specs don't reach:
 * duplicate order keys, zero-token rows, tiny and empty frames, random
 * partition layouts, and random bucket counts (including more buckets
 * than rows).
 */
class PipelineFuzzSpec extends AnyFunSuite {
  import TestSpark._

  for (seed <- 1 to 3)
  test(s"prefixSum / selectByTokenBudget / packSequences vs brute force, seed $seed") {
    import spark.implicits._
    val rnd = new scala.util.Random(900 + seed)
    (1 to 4).foreach { scenarioNo =>
      val n = rnd.nextInt(300)
      val rows = (1 to n).map { i =>
        // duplicate-prone priority keys and zero tokens exercise the
        // boundary-quantile and empty-contribution paths
        (i.toLong, rnd.nextInt(8).toLong, rnd.nextInt(15).toLong)
      }
      val buckets = 1 + rnd.nextInt(12)
      val parts = 1 + rnd.nextInt(7)
      val df = rows.toDF("id", "pri", "tok").repartition(parts)
      val order = Seq(col("pri"), col("id"))
      val sortedRows = rows.sortBy(r => (r._2, r._1))

      // prefixSum == global cumulative sum in (pri, id) order
      val got = Pipeline.prefixSum(df, order, col("tok"), "cum", buckets = buckets)
        .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
      var run = 0L
      val want = sortedRows.map { r => run += r._3; r._1 -> run }.toMap
      assert(got === want, s"seed=$seed#$scenarioNo n=$n buckets=$buckets prefixSum")

      if (n > 0) {
        // selectByTokenBudget == maximal prefix under the same order
        val budget = math.max(1L, rnd.nextLong(math.max(1L, run + 10)))
        val sel = Pipeline.selectByTokenBudget(df, col("tok"), order, budget)
          .collect().map(_.getLong(0)).toSet
        var acc = 0L
        val expect = sortedRows.takeWhile { r => acc += r._3; acc <= budget }
          .map(_._1).toSet
        assert(sel === expect, s"seed=$seed#$scenarioNo budget=$budget select")

        // packSequences: offsets are the exclusive prefix sums, packs
        // bounded, every row placed exactly once
        val b = 1 + rnd.nextInt(40)
        val packed = Pipeline.packSequences(df, col("tok"), order, b)
          .collect().map(r => (r.getAs[Long]("id"), r.getAs[Long]("tok"),
            r.getAs[Long]("token_offset"), r.getAs[Long]("seq_offset")))
        assert(packed.map(_._1).distinct.length === n, "every row exactly once")
        var off = 0L
        val byOrder = packed.sortBy(_._3)
        sortedRows.zip(byOrder).foreach { case (r, p) =>
          assert(p._1 === r._1 && p._3 === off,
            s"seed=$seed#$scenarioNo pack order/offset for id ${r._1}")
          assert(p._4 === off % b && p._4 < b, "seq_offset in bounds")
          off += r._3
        }
      }
    }
  }

  for (seed <- 1 to 3)
  test(s"capPerKey ties-heavy fuzz vs brute force, seed $seed") {
    import spark.implicits._
    val rnd = new scala.util.Random(7100 + seed)
    (1 to 4).foreach { scenarioNo =>
      val n = 1 + rnd.nextInt(250)
      // heavily tied ords (few distinct score values over many rows), hot
      // and cold keys, NULL keys and NULL ords; rows distinct via id
      val distinctOrds = 1 + rnd.nextInt(4)
      val rows = (1 to n).map { i =>
        val k = if (rnd.nextInt(10) == 0) None
          else Some("k" + rnd.nextInt(1 + rnd.nextInt(4)))
        val v = if (rnd.nextInt(15) == 0) None
          else Some(rnd.nextInt(distinctOrds).toLong)
        (i.toLong, k, v)
      }
      val cap = 1 + rnd.nextInt(6)
      val smallest = rnd.nextBoolean()
      val parts = 1 + rnd.nextInt(7)
      val df = rows.toDF("id", "k", "v").repartition(parts)

      val kept = Pipeline.capPerKey(df, col("k"), col("v"), cap, smallest)
        .collect().map(_.getLong(0)).toSet

      // brute force over the SAME tiebreak the operator derives (hash of
      // every input column then every column's isNull flag, input order)
      val hashed = df
        .withColumn("tb", xxhash64((df.columns.map(col) ++
          df.columns.map(c => col(c).isNull)): _*))
        .collect()
        .map(r => (r.getLong(0), Option(r.getString(1)),
          if (r.isNullAt(2)) None else Some(r.getLong(2)), r.getLong(3)))
      val expect = hashed.filter(_._3.isDefined)
        .groupBy(_._2)
        .flatMap { case (_, grp) =>
          val sorted = grp.sortWith { (a, b) =>
            val (va, vb) = (a._3.get, b._3.get)
            if (va != vb) { if (smallest) va < vb else va > vb }
            else a._4 < b._4
          }
          sorted.take(cap).map(_._1).toSeq
        }.toSet
      assert(kept === expect,
        s"seed=$seed#$scenarioNo n=$n cap=$cap smallest=$smallest")
      // the headline property: never over the cap, even under mass ties
      val counts = hashed.filter(h => kept(h._1)).groupBy(_._2)
      counts.foreach { case (k, g) =>
        assert(g.length <= cap, s"key $k over cap: ${g.length} > $cap")
      }
    }
  }

  for (seed <- 1 to 3)
  test(s"capPerKey caller-tiebreak fuzz (null/malformed casts), seed $seed") {
    import spark.implicits._
    // the convention under fuzz: a caller tiebreak whose cast('long') is
    // NULL falls back to the default content hash — rows must stay
    // DISTINGUISHABLE (a constant fallback made equal-ord rows all match
    // the winners join: a cap of 2 returned 3)
    val rnd = new scala.util.Random(8200 + seed)
    (1 to 4).foreach { scenarioNo =>
      val n = 1 + rnd.nextInt(200)
      val distinctOrds = 1 + rnd.nextInt(3) // ties-heavy on purpose
      val rows = (1 to n).map { i =>
        val k = "k" + rnd.nextInt(1 + rnd.nextInt(4))
        val v = rnd.nextInt(distinctOrds).toLong
        // tiebreak: castable digits, malformed alpha, or NULL
        val t = rnd.nextInt(3) match {
          case 0 => Some(rnd.nextInt(50).toString)
          case 1 => Some("x" + rnd.nextInt(50))
          case _ => None
        }
        (i.toLong, k, v, t)
      }
      val cap = 1 + rnd.nextInt(4)
      val parts = 1 + rnd.nextInt(7)
      val df = rows.toDF("id", "k", "v", "t").repartition(parts)

      val kept = Pipeline.capPerKey(df, col("k"), col("v"), cap,
        tiebreak = Some(col("t"))).collect().map(_.getLong(0)).toSet

      // brute force over the SAME effective tiebreak: try_cast else the
      // default hash (all columns then all isNull flags, input order).
      // The operator's contract is EQUIVALENCE-CLASS capping: the heap
      // keeps the cap smallest (ord, tb) ENTRIES, and every row matching a
      // winning pair returns — so duplicated castable tiebreaks among
      // equal-ord rows legitimately return the whole class, and the model
      // must match on pairs, not row counts
      val eff = df
        .withColumn("eff", coalesce(expr("try_cast(t as long)"),
          xxhash64((df.columns.map(col) ++
            df.columns.map(c => col(c).isNull)): _*)))
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(4)))
      val expect = eff.groupBy(_._2).flatMap { case (_, grp) =>
        val winnerPairs = grp.map(r => (r._3, r._4)).sorted.take(cap).toSet
        grp.filter(r => winnerPairs((r._3, r._4))).map(_._1).toSeq
      }.toSet
      assert(kept === expect, s"seed=$seed#$scenarioNo n=$n cap=$cap")
      // the bounded guarantee that survives duplicate tiebreaks: at most
      // cap distinct winning (ord, tb) classes per key
      eff.filter(e => kept(e._1)).groupBy(_._2).foreach { case (k, g) =>
        val classes = g.map(r => (r._3, r._4)).distinct.length
        assert(classes <= cap, s"key $k: $classes classes > cap $cap")
      }
    }
  }

  for (seed <- 1 to 2)
  test(s"jaccardPairs random-corpus soundness/completeness fuzz, seed $seed") {
    import spark.implicits._
    import graft.dedup.Dedup
    // two LSH-independent properties, checked against single-threaded
    // brute force over random corpora with nulls, duplicate ids, exact
    // copies, and vocab-limited near-dups:
    //  SOUNDNESS   — every emitted pair's true n-gram Jaccard ≥ threshold
    //                (unconditional: the verify stage decides by the exact
    //                metric whatever the LSH candidates were)
    //  COMPLETENESS— every exact-duplicate id pair is emitted (equal
    //                content ⇒ equal signature ⇒ shares every band bucket;
    //                null content duplicates nothing)
    val rnd = new scala.util.Random(9300 + seed)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa")
    def doc(): String =
      (1 to 6 + rnd.nextInt(6)).map(_ => vocab(rnd.nextInt(vocab.size)))
        .mkString(" ")
    (1 to 2).foreach { scenarioNo =>
      val base = (1 to 20 + rnd.nextInt(25)).map { i =>
        val t = if (rnd.nextInt(12) == 0) None else Some(doc())
        (i.toLong, t)
      }
      // plant exact copies (same text, new ids), NEAR-dups (one token
      // mutated — lands close to any threshold so soundness decides real
      // borderline pairs, not just trivially-disjoint ones), and
      // duplicate-id rows
      val copies = base.filter(_._2.isDefined).take(5)
        .map { case (i, t) => (i + 1000L, t) }
      val nearDups = base.filter(_._2.isDefined).slice(5, 10)
        .map { case (i, t) =>
          val toks = t.get.split(" ")
          toks(rnd.nextInt(toks.length)) = vocab(rnd.nextInt(vocab.size))
          (i + 2000L, Some(toks.mkString(" ")))
        }
      val dupIds = base.take(3) // identical rows under the same id
      val rows = base ++ copies ++ nearDups ++ dupIds
      val df = rows.toDF("doc_id", "text")
        .repartition(1 + rnd.nextInt(5))
      val threshold = 0.4 + rnd.nextDouble() * 0.4
      val got = Dedup.jaccardPairs(df, "doc_id", "text", threshold, n = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))

      // single-threaded WORD-3-gram jaccard — the exact metric contract of
      // Dedup.ngramJaccard (whitespace-split lowercase tokens; fewer than n
      // tokens degenerate to one whole-text gram)
      def grams(t: String): Set[String] = {
        val toks = t.trim.toLowerCase.split("\\s+").toSeq
        if (toks.size < 3) Set(toks.mkString(" "))
        else toks.sliding(3).map(_.mkString(" ")).toSet
      }
      val content = rows.groupBy(_._1).map { case (id, g) =>
        id -> g.flatMap(_._2).headOption // representative text per id
      }
      def truth(a: Long, b: Long): Option[Double] = for {
        ta <- content(a); tb <- content(b)
        ga = grams(ta); gb = grams(tb)
      } yield (ga intersect gb).size.toDouble / (ga union gb).size.toDouble

      got.foreach { case (a, b, j) =>
        val t = truth(a, b)
        assert(t.isDefined, s"pair ($a,$b) has null content")
        assert(t.get >= threshold - 1e-9,
          s"UNSOUND: ($a,$b) emitted j=$j but true=${t.get} < $threshold")
      }
      val gotPairs = got.map(p => (p._1, p._2)).toSet
      val ids = content.keys.toSeq.sorted
      for (a <- ids; b <- ids if a < b) {
        val exact = (content(a), content(b)) match {
          case (Some(x), Some(y)) => x == y
          case _ => false
        }
        if (exact) assert(gotPairs((a, b)),
          s"INCOMPLETE: exact-dup pair ($a,$b) missing (seed=$seed#$scenarioNo)")
      }
    }
  }

  test("LSH banding under adversarial bucket skew: boilerplate corpus stays bounded") {
    import spark.implicits._
    import graft.dedup.Dedup
    // boilerplate-heavy web corpora put a LARGE fraction of documents into
    // the same band buckets: when most character shingles are shared, the
    // per-band minima come from the shared text and whole bands collide
    // corpus-wide. The fixture makes that worst case concrete — one long
    // shared boilerplate block with a short unique tail per doc — then
    // checks the three properties that keep the operator alive at scale:
    //   1. the fixture IS adversarial (candidate volume is quadratic-ish);
    //   2. the capped operator's output is ≤ 2·cap·docs regardless;
    //   3. planted exact duplicates all survive the cap (eq-first rank);
    //   4. the candidate self-join is a SHUFFLE join in the at-scale
    //      config — the shape AQE's skew handling can split; a broadcast
    //      or cartesian would concentrate the hot bucket on single tasks.
    val rnd = new scala.util.Random(777001L)
    val boiler = (1 to 60).map(_ => "boilerplate" + rnd.nextInt(10)).mkString(" ")
    val nDocs = 400
    val base = (1L to nDocs.toLong).map(i => (i, s"$boiler unique tail $i"))
    // 20 planted exact-dup pairs: copies of docs 1..20 at ids 10001..10020
    val copies = base.take(20).map { case (i, t) => (i + 10000L, t) }
    val df = (base ++ copies).toDF("doc_id", "text").repartition(8)
    val docs = nDocs + 20

    // (1) adversarial check: the uncapped candidate stage really explodes
    // (≥ 20 partners per doc on average — far beyond any benign corpus)
    val candCount = Dedup.lshCandidatePairIds(df, "doc_id", "text").count()
    assert(candCount > docs.toLong * 20,
      s"fixture must create a hot-bucket explosion, got only $candCount")

    // (2)+(3): the capped operator stays bounded and keeps every planted pair
    val cap = 8
    val pairs = Dedup.jaccardPairs(df, "doc_id", "text", 0.999999,
      n = 3, maxPairsPerId = cap)
    val got = pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length <= 2 * cap * docs,
      s"capped output must stay <= 2*cap*docs, got ${got.length}")
    val perSide = got.groupBy(_._1).values.map(_.length).max
    assert(perSide <= cap, s"per-id side cap violated: $perSide > $cap")
    val gotSet = got.toSet
    (1L to 20L).foreach { i =>
      assert(gotSet((i, i + 10000L)),
        s"planted exact-dup pair ($i,${i + 10000L}) evicted by LSH noise")
    }

    // (4) plan shape in the at-scale config — an input above the broadcast
    // threshold, planned on a session clone with the threshold lowered
    // below this corpus: shuffle join, never broadcast/cartesian — two
    // hinted exchanges AQE skew-split can act on
    val atScale = spark.newSession()
    atScale.conf.set("spark.sql.autoBroadcastJoinThreshold", "1024")
    val scaledDf = {
      import atScale.implicits._
      (base ++ copies).toDF("doc_id", "text").repartition(8)
    }
    val cands = Dedup.lshCandidatePairIds(scaledDf, "doc_id", "text")
    val plan = cands.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), "cartesian in candidate join")
    assert(!plan.contains("BroadcastHashJoin"),
      "hot-bucket self-join must not broadcast in the at-scale config")
    assert(plan.contains("ShuffledHashJoin") || plan.contains("SortMergeJoin"),
      s"expected a shuffle join:\n$plan")
  }
}
