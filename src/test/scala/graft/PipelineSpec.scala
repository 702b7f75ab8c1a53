package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ann.Ann
import graft.dedup.Dedup
import graft.multimodal.Multimodal
import graft.text.TextFunctions

class PipelineSpec extends AnyFunSuite {
  import TestSpark._

  private lazy val docs = spark.read.parquet(s"$sf/documents.parquet")
  private lazy val emb = spark.read.parquet(s"$sf/embeddings.parquet")

  // documents ∪ exact copies of the 10 lowest-id docs (ids shifted by 10^6)
  private lazy val withDups = {
    val copies = docs.orderBy("doc_id").limit(10)
      .withColumn("doc_id", col("doc_id") + 1000000L)
    docs.unionByName(copies)
  }

  test("exact dedup keeps min id per distinct text") {
    val out = Dedup.exact(withDups, "text", "doc_id")
    assert(out.count() === docs.count())
    assert(out.filter(col("doc_id") >= 1000000L).count() === 0)
  }

  test("verifyEqualContent equals the raw text-equality filter (incl. NULLs)") {
    // the fingerprint verify must be pair-for-pair identical to joining
    // the content and filtering ta === tb — including the null semantics
    // (null content matches NOTHING, never the xxhash64 null-skip bucket)
    val s = spark
    import s.implicits._
    val base = withDups.select(col("doc_id"), col("text"))
      .unionByName(Seq((5000001L, null.asInstanceOf[String]),
        (5000002L, null.asInstanceOf[String])).toDF("doc_id", "text"))
    val ids = base.select(col("doc_id"))
    // every planted duplicate pair + a thinned slice of non-pairs + the
    // null-null pair
    val planted = docs.orderBy("doc_id").limit(10)
      .select(col("doc_id").as("id_a"),
        (col("doc_id") + 1000000L).as("id_b"))
    val allPairs = ids.select(col("doc_id").as("id_a"))
      .crossJoin(ids.select(col("doc_id").as("id_b")))
      .filter(col("id_a") < col("id_b"))
      .filter(pmod(col("id_a") + col("id_b"), lit(7)) === 0) // thin it out
      .unionByName(planted)
      .unionByName(Seq((5000001L, 5000002L)).toDF("id_a", "id_b"))
    val got = Dedup.verifyEqualContent(allPairs, base, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val txt = base.select(col("doc_id"), col("text"))
    val want = allPairs
      .join(txt.select(col("doc_id").as("id_a"), col("text").as("ta")), "id_a")
      .join(txt.select(col("doc_id").as("id_b"), col("text").as("tb")), "id_b")
      .filter(col("ta") === col("tb"))
      .select(col("id_a"), col("id_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === want)
    assert(!got.contains((5000001L, 5000002L)),
      "two null-content docs must not verify as equal")
    assert(got.nonEmpty, "planted duplicate pairs must survive the verify")
  }

  test("minhash: identical texts share signatures; LSH finds planted dups") {
    val pairs = Dedup.lshCandidatePairs(withDups, "doc_id", "text")
      .filter(col("est_jaccard") === 1.0)
    val found = pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = docs.orderBy("doc_id").limit(10).collect()
      .map(r => (r.getLong(0), r.getLong(0) + 1000000L)).toSet
    assert(expected.subsetOf(found), s"missing: ${expected -- found}")
  }

  test("minhash est_jaccard is high for perturbed near-duplicates") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog and runs far away into the woods tonight"
    val near = base.replace("lazy", "sleepy")
    val df = Seq((1L, base), (2L, near), (3L, "completely different content about databases and queries"))
      .toDF("doc_id", "text")
    val sig = df.select(col("doc_id"), Dedup.minhashSignature(col("text")).as("s"))
    val rows = sig.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    def estJ(a: Seq[Long], b: Seq[Long]) =
      a.zip(b).count { case (x, y) => x == y }.toDouble / a.size
    assert(estJ(rows(1L), rows(2L)) > 0.6)
    assert(estJ(rows(1L), rows(3L)) < 0.3)
  }

  test("simhash: identical → 0 hamming; near → small; different → large") {
    import spark.implicits._
    val base = "spark streaming joins aggregate window functions shuffle partitions columnar storage"
    val near = base.replace("window", "windowed")
    val far = "entirely unrelated words about cooking pasta with tomatoes basil and olive oil"
    val df = Seq((1L, base), (2L, base), (3L, near), (4L, far)).toDF("id", "t")
    val fp = df.select(col("id"), Dedup.simhash(col("t")).as("f")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(fp(1L), fp(2L)) === 0)
    assert(ham(fp(1L), fp(3L)) <= 12)
    assert(ham(fp(1L), fp(4L)) > 12)
  }

  test("simhashPairs surfaces exact copies via chunk blocking") {
    val pairs = Dedup.simhashPairs(withDups, "doc_id", "text", maxHamming = 0)
    val found = pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = docs.orderBy("doc_id").limit(10).collect()
      .map(r => (r.getLong(0), r.getLong(0) + 1000000L)).toSet
    assert(expected.subsetOf(found))
  }

  test("simhashPairs equals brute-force hamming pairs at every supported maxHamming") {
    // the Manku-style block-permutation blocking (k blocks, (k-d)-subset
    // tables) is a pure candidate-generation change: the pigeonhole
    // guarantees every pair within hamming <= d shares a table key, and
    // the exact bit_count verify decides membership — so the output must
    // EQUAL the O(n^2) brute force at every d, on a corpus dense enough
    // that near-misses exist at each distance
    import spark.implicits._
    // null-content rows ride along: they must never pair (the xxhash64
    // table keys would otherwise give every null fingerprint in a table
    // the same non-null key — the round-10 null-skip trap)
    val nulls = Seq((900001L, null: String), (900002L, null: String),
      (900003L, null: String)).toDF("doc_id", "text")
    val corpus = docs.limit(120).select(col("doc_id"), col("text"))
      .unionByName(nulls)
    val fps = corpus.filter(col("text").isNotNull)
      .select(col("doc_id"), Dedup.simhash(col("text")).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    for (d <- Seq(0, 1, 2, 3, 4, 5)) {
      val want = (for {
        (ia, fa) <- fps; (ib, fb) <- fps
        if ia < ib && java.lang.Long.bitCount(fa ^ fb) <= d
      } yield (ia, ib)).toSet
      val got = Dedup.simhashPairs(corpus, "doc_id", "text", maxHamming = d)
        .select(col("id_a"), col("id_b"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === want, s"maxHamming=$d: blocking lost or invented pairs")
    }
    // d >= 6 has no blocking point with keys wide enough to avoid the
    // n²/2^(small) saturation term — rejected loudly, never silently slow
    val e = intercept[IllegalArgumentException] {
      Dedup.simhashPairs(corpus, "doc_id", "text", maxHamming = 6)
    }
    assert(e.getMessage.contains("[0, 5]"))
  }

  test("ngram jaccard: identity 1, disjoint 0") {
    import spark.implicits._
    val df = Seq(("a b c d e", "a b c d e", "x y z w v")).toDF("a", "b", "c")
    val r = df.select(
      Dedup.ngramJaccard(col("a"), col("b")),
      Dedup.ngramJaccard(col("a"), col("c"))).collect()(0)
    assert(r.getDouble(0) === 1.0)
    assert(r.getDouble(1) === 0.0)
  }

  test("jaccardPairs equals the per-pair brute force on the same candidates") {
    // differential: the bounded operator (equal-hash fast path + once-per-doc
    // grams) must decide every candidate pair exactly as the naive per-pair
    // ngramJaccard does
    val threshold = 0.5
    val brute = {
      val cands = Dedup.lshCandidatePairIds(withDups, "doc_id", "text")
      val txt = withDups.select(col("doc_id"), col("text"))
      cands
        .join(txt.withColumnRenamed("doc_id", "id_a").withColumnRenamed("text", "ta"), "id_a")
        .join(txt.withColumnRenamed("doc_id", "id_b").withColumnRenamed("text", "tb"), "id_b")
        .filter(Dedup.ngramJaccard(col("ta"), col("tb"), n = 3) >= threshold)
        .select(col("id_a"), col("id_b"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    val got = Dedup.jaccardPairs(withDups, "doc_id", "text", threshold, n = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === brute)
    // and the planted exact copies all report jaccard exactly 1.0
    val ones = Dedup.jaccardPairs(withDups, "doc_id", "text", 0.999999, n = 3)
      .collect()
    val expected = docs.orderBy("doc_id").limit(10).collect()
      .map(r => (r.getLong(0), r.getLong(0) + 1000000L)).toSet
    assert(ones.map(r => (r.getLong(0), r.getLong(1))).toSet === expected)
    assert(ones.forall(_.getDouble(2) === 1.0))
  }

  test("jaccardPairs: near-threshold pairs decide by the EXACT metric") {
    import spark.implicits._
    // adversarial band around the threshold: non-equal texts whose gram
    // overlap straddles it — these MUST go through the full verify (the
    // equal-hash fast path cannot fire: the raw texts differ) and the
    // decision must match the exact per-pair metric on both sides of the
    // line. 10 shared tokens + k unique per side gives distinct 3-gram
    // counts with jaccard strictly between 0 and 1.
    val shared = (1 to 30).map(i => s"w$i").mkString(" ")
    val df = Seq(
      (1L, s"$shared alpha beta"),   // vs 2: jaccard ≈ 0.935, above 0.8
      (2L, s"$shared alpha gamma"),
      (3L, s"$shared p q r s t u v w x y z"), // vs 1/2: ≈ 0.683, below 0.8
      (4L, s"$shared alpha beta"),   // exact copy of 1 (fast path)
      (5L, "totally disjoint text about nothing shared at all with anything")
    ).toDF("doc_id", "text")
    val threshold = 0.8
    // verify against brute force over ALL pairs (no LSH recall caveat: every
    // pair here shares most grams except doc 5, which must not appear)
    val all = df.as("a").join(df.as("b"),
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        Dedup.ngramJaccard(col("a.text"), col("b.text"), n = 3).as("j"))
    val want = all.filter(col("j") >= threshold)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(want.contains((1L, 2L)) && want.contains((1L, 4L)),
      s"fixture must plant above-threshold pairs, got $want")
    assert(all.filter(col("j") < threshold && col("j") > 0).count() > 0,
      "fixture must plant a below-threshold nonzero-overlap pair")
    // high-similarity fixture: 8-row bands make LSH recall certain here
    val got = Dedup.jaccardPairs(df, "doc_id", "text", threshold, n = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === want)
    // exact jaccard values survive the operator (not the estimate)
    val j12 = Dedup.jaccardPairs(df, "doc_id", "text", threshold, n = 3)
      .filter(col("id_a") === 1L && col("id_b") === 2L)
      .collect()(0).getDouble(2)
    val bruteJ12 = all.filter(col("id_a") === 1L && col("id_b") === 2L)
      .collect()(0).getDouble(2)
    assert(j12 === bruteJ12 && j12 > threshold && j12 < 1.0)
  }

  test("jaccardPairs: duplicate-id corpus collapses to distinct representative pairs") {
    import spark.implicits._
    // ids are document keys; a key-duplicated corpus (10x-replicated crawl
    // partition) must produce the SAME distinct pair set as the unique-id
    // corpus, not a quadratic fan-out of duplicate rows — pinned after a
    // 10x-replicated bench fixture measured the verify joins at 10x the
    // whole query
    val base = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "completely different words about other topics entirely here"),
      (4L, "completely different words about other topics entirely here")
    ).toDF("doc_id", "text")
    val replicated = (1 to 10).map(_ => base).reduce(_ unionByName _)
    val wantPairs = Dedup.jaccardPairs(base, "doc_id", "text", 0.999999, n = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val got = Dedup.jaccardPairs(replicated, "doc_id", "text", 0.999999, n = 3).collect()
    val gotPairs = got.map(r => (r.getLong(0), r.getLong(1)))
    assert(gotPairs.length === gotPairs.distinct.length,
      "duplicate ids must not duplicate output pairs")
    assert(gotPairs.sorted.toSeq === wantPairs.toSeq)
    assert(got.forall(_.getDouble(2) === 1.0))
  }

  test("jaccardPairs: NULL content duplicates nothing") {
    import spark.implicits._
    // xxhash64 skips null children, so without an input guard every
    // null-content doc shares one content hash AND one minhash-band
    // bucket: the eq fast path would report all null pairs as exact
    // duplicates (jaccard 1.0) — and connectedComponents would then merge
    // every null-content doc into one cluster. The contract is the n-gram
    // verify's: no content, no n-grams, no duplicates.
    val df = Seq(
      (1L, Option("alpha beta gamma delta epsilon zeta eta theta")),
      (2L, Option("alpha beta gamma delta epsilon zeta eta theta")),
      (3L, Option.empty[String]),
      (4L, Option.empty[String]),
      (5L, Option.empty[String])
    ).toDF("doc_id", "text")
    val got = Dedup.jaccardPairs(df, "doc_id", "text", 0.5, n = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((1L, 2L)),
      s"null-content docs must not pair, got $got")
    // and the capped path shares the guard
    val capped = Dedup.jaccardPairs(df, "doc_id", "text", 0.5, n = 3,
      maxPairsPerId = 2).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped === Set((1L, 2L)))
    // the guard lives at the shared signature source, so EVERY LSH consumer
    // inherits it: without it null docs share one bucket per band — wrong
    // (null matches nothing) and a quadratic hot bucket at corpus scale
    val cands = Dedup.lshCandidatePairIds(df, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cands === Set((1L, 2L)), s"null docs must produce no candidates: $cands")
    // EXACT dedup deliberately differs (SQL GROUP BY semantics, matching
    // the q10 oracle): all null-content rows form one group, min id kept
    val ex = Dedup.exact(df, "text", "doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(ex === Set(1L, 3L), s"exact keeps min id per group incl. nulls: $ex")
  }

  test("jaccardPairs: sub-threshold candidates cannot evict an exact duplicate from cap slots") {
    import spark.implicits._
    // docs 1 and 10 are exact copies; docs 2-5 are NEAR-dups of 1 (they
    // share LSH buckets but fail the exact threshold) with ids BETWEEN the
    // copies — under a smallest-partner-id-only cap rank, cap=1 kept the
    // unverifiable (1,2) candidate and silently dropped the true (1,10)
    // pair (review find). The eq-first rank must keep (1,10) at any cap.
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val df = (Seq((1L, base), (10L, base)) ++
      (2L to 5L).map(i => (i, base.dropRight(6) + s" zz$i"))).toDF("doc_id", "text")
    val cands = Dedup.lshCandidatePairIds(df, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cands.exists(p => p._1 == 1L && p._2 >= 2L && p._2 <= 5L),
      s"fixture must plant sub-threshold candidates on id 1's side: $cands")
    assert(cands.contains((1L, 10L)), s"true pair must be a candidate: $cands")
    val got = Dedup.jaccardPairs(df, "doc_id", "text", 0.999999,
      n = 3, maxPairsPerId = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((1L, 10L)),
      "the exact pair must survive the cap whatever near-dup candidates exist")
  }

  test("jaccardPairs: string ids cap via internal hashing and map back losslessly") {
    import spark.implicits._
    // the heap's winners encoding needs a long slot, so non-integral ids
    // are xxhash64'd internally and mapped back on output — the result
    // must be the integral run's pair set with ids re-rendered, canonical
    // in the ORIGINAL type's ordering (hash order is not id order), and
    // leading zeros / non-numeric ids must survive ("007" != 7)
    val base = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (7L, "alpha beta gamma delta epsilon zeta eta theta"),
      (20L, "alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "completely different words about other topics entirely here")
    ).toDF("doc_id", "text")
    val wantLong = Dedup.jaccardPairs(base, "doc_id", "text", 0.999999,
      n = 3, maxPairsPerId = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val sdf = base.withColumn("doc_id",
      when(col("doc_id") === 7L, lit("007"))
        .otherwise(concat(lit("d"), col("doc_id"))))
    def render(l: Long): String = if (l == 7L) "007" else s"d$l"
    val want = wantLong.map { case (a, b, j) =>
      val (ra, rb) = (render(a), render(b))
      (if (ra < rb) ra else rb, if (ra < rb) rb else ra, j)
    }.toSet
    val got = Dedup.jaccardPairs(sdf, "doc_id", "text", 0.999999,
      n = 3, maxPairsPerId = 2)
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSet
    assert(got === want, s"hashed-id pairs must match the integral run: $got vs $want")
    assert(got.forall(p => p._1 < p._2), "pairs must be canonical in string order")
    // NULL string ids never pair (inner-join semantics, same as longs —
    // without the input filter xxhash64(NULL) is a constant and every
    // null-id doc would merge under one hashed key)
    val withNull = sdf.unionByName(
      Seq((Option.empty[String], "alpha beta gamma delta epsilon zeta eta theta"))
        .toDF("doc_id", "text"))
    val gotNull = Dedup.jaccardPairs(withNull, "doc_id", "text", 0.999999,
      n = 3, maxPairsPerId = 2)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(gotNull === want.map(p => (p._1, p._2)))
  }

  test("jaccardPairs: the verify stage is BOUNDED by default") {
    import spark.implicits._
    // the default maxPairsPerId must be a positive cap: an unbounded
    // default hands a bare API caller the exact superlinear candidate
    // shape the bounded verify was built to avoid (VERDICT r10 #3) —
    // opting out requires an explicit maxPairsPerId = 0
    val m = classOf[Dedup.type].getMethods.find(_.getName == "jaccardPairs").get
    // Scala encodes the default of the 9th parameter as this synthetic method
    val dflt = Dedup.getClass.getMethod("jaccardPairs$default$9")
      .invoke(Dedup).asInstanceOf[Int]
    assert(dflt == 64, s"default maxPairsPerId must be 64, got $dflt")
    assert(m != null)
    // and the default path really caps: a 20-member clique emits fewer
    // than the full 190 pairs at cap 64? (64 > 19 partners, so NOT here) —
    // instead pin behaviour at an explicit sub-degree cap equal to the
    // default mechanism and check the default call runs the capped branch
    // (string ids only cap-hash when the cap branch is taken)
    val sdf = Seq(("a", "alpha beta gamma delta epsilon zeta eta theta"),
      ("b", "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    // under the old unbounded default this returned string ids untouched;
    // under the bounded default the capped branch engages (and works)
    val r = Dedup.jaccardPairs(sdf, "doc_id", "text", 0.999999)
      .collect().map(x => (x.getString(0), x.getString(1))).toSet
    assert(r === Set(("a", "b")))
  }

  test("jaccardPairs: per-id cap bounds pairs but keeps clusters connected") {
    import spark.implicits._
    // one 12-member exact-dup clique + 3 singletons; cap 2 per side
    val text = "identical content repeated across every member of the cluster body"
    val members = (1L to 12L).map(i => (i, text))
    val single = Seq((100L, "first unrelated singleton document text"),
      (101L, "second unrelated singleton document body"),
      (102L, "third unrelated singleton content words"))
    val df = (members ++ single).toDF("doc_id", "text")
    val capped = Dedup.jaccardPairs(df, "doc_id", "text", 0.999999,
      n = 3, maxPairsPerId = 2)
    val pairs = capped.select(col("id_a"), col("id_b"))
    val cnt = pairs.count()
    assert(cnt < 66, s"cap must drop witness pairs from the 12-clique: $cnt")
    // every id keeps at most 2 partners per SIDE
    val maxPerA = pairs.groupBy("id_a").count().agg(max("count")).collect()(0).getLong(0)
    assert(maxPerA <= 2)
    // but connectivity survives: consecutive-id chains keep one component
    val cc = Dedup.connectedComponents(pairs, df, "doc_id")
    val clusters = cc.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 12L).map(clusters).toSet === Set(1L),
      "capped clique must still collapse to one cluster")
    assert(Seq(100L, 101L, 102L).map(clusters).toSet === Set(100L, 101L, 102L))
  }

  test("jaccardPairs: hot-bucket occupancy cap keeps clusters connected, cold buckets untouched") {
    import spark.implicits._
    // a boilerplate hot cluster (40 identical docs — every band bucket
    // holds all 40) + a small 3-clique + singletons; occupancy cap 8:
    // the hot bucket degrades to an id-neighbor chain, the 3-clique's
    // buckets (occupancy 3 ≤ 8) keep the full clique
    val boiler = "identical boilerplate body repeated across the crawl page"
    val hot = (1L to 40L).map(i => (i, boiler))
    val smallText = "three member cluster with its own shared content body"
    val small = (200L to 202L).map(i => (i, smallText))
    val single = Seq((300L, "first unrelated singleton document text"),
      (301L, "second unrelated singleton document body"))
    val df = (hot ++ small ++ single).toDF("doc_id", "text")
    val prev = spark.conf.getOption("spark.graft.dedup.maxBucketOccupancy")
    spark.conf.set("spark.graft.dedup.maxBucketOccupancy", "8")
    try {
      val pairs = Dedup.jaccardPairs(df, "doc_id", "text", 0.999999,
        n = 3, maxPairsPerId = 0)
      val got = pairs.select(col("id_a"), col("id_b")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      // hot cluster: linear chain volume, not the 780-pair clique —
      // every consecutive-id link present (the connectivity guarantee),
      // bounded by links-per-member x members
      val hotPairs = got.filter(_._1 <= 40L)
      assert(hotPairs.size < 200, s"hot bucket must not emit the clique: ${hotPairs.size}")
      (1L until 40L).foreach { i =>
        assert(hotPairs.contains((i, i + 1)), s"chain link ($i,${i + 1}) missing")
      }
      // cold cluster: full clique survives exactly
      assert(got.filter(_._1 >= 200L) ===
        Set((200L, 201L), (200L, 202L), (201L, 202L)))
      // and the clusters collapse as before
      val cc = Dedup.connectedComponents(
        Dedup.jaccardPairs(df, "doc_id", "text", 0.999999, n = 3,
          maxPairsPerId = 0).select(col("id_a"), col("id_b")),
        df, "doc_id")
      val clusters = cc.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert((1L to 40L).map(clusters).toSet === Set(1L),
        "hot cluster must still collapse to one component")
      assert((200L to 202L).map(clusters).toSet === Set(200L))
    } finally prev match {
      case Some(p) => spark.conf.set("spark.graft.dedup.maxBucketOccupancy", p)
      case None => spark.conf.unset("spark.graft.dedup.maxBucketOccupancy")
    }
    // knob off (the default): the hot clique is emitted in full
    val unCapped = Dedup.jaccardPairs(df, "doc_id", "text", 0.999999,
      n = 3, maxPairsPerId = 0).count()
    assert(unCapped === 780L + 3L, s"default must stay the full clique: $unCapped")
  }

  test("cosineDedupPairs: hot-bucket occupancy cap — chain in over-cap buckets, ADC on/off parity") {
    // the cap is read through df.sparkSession: set it on a session clone
    // and build the corpus there
    val capped = spark.newSession()
    capped.conf.set("spark.graft.dedup.maxBucketOccupancy", "8")
    // 40 IDENTICAL embeddings (the replicated-boilerplate pathology the
    // ADC bound cannot cut — identical vectors pass it at cosine 1), an
    // antipodal 3-clique (sign-flips every hyperplane dot, so it never
    // shares a bucket with the hot cluster), and two singletons
    val hotV = Array(1.0f, 0.5f, -0.25f, 2.0f, -1.5f, 0.75f, -0.5f, 1.25f)
    val negV = hotV.map(x => -x)
    val s1 = Array(1f, -1f, 1f, -1f, 1f, -1f, 1f, -1f)
    val s2 = Array(-1f, 1f, 1f, 1f, -1f, -1f, 1f, 1f)
    val rows = (1L to 40L).map(i => (i, hotV.toSeq)) ++
      (200L to 202L).map(i => (i, negV.toSeq)) ++
      Seq((300L, s1.toSeq), (301L, s2.toSeq))
    def run(s: org.apache.spark.sql.SparkSession, adc: Boolean): Set[(Long, Long)] = {
      import s.implicits._
      graft.ann.Ann.cosineDedupPairsWith(
        Some(graft.ann.Ann.PairPlan(adc = adc, grouped = false)))(
        rows.toDF("vec_id", "embedding"), "vec_id", "embedding", 0.999,
        numPlanes = 16, bands = 4)
        .select(col("id_a"), col("id_b")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    val cappedPairs = run(capped, adc = false)
    // hot cluster: the 4-link id chain (36*4 + 3+2+1 = 150 pairs),
    // every consecutive link present — the connectivity guarantee
    val hotPairs = cappedPairs.filter(_._1 <= 40L)
    assert(hotPairs.size === 150, s"chain volume: ${hotPairs.size}")
    (1L until 40L).foreach { i =>
      assert(hotPairs.contains((i, i + 1)), s"chain link ($i,${i + 1})")
    }
    // the under-cap antipodal clique survives in full
    assert(cappedPairs.filter(_._1 >= 200L) ===
      Set((200L, 201L), (200L, 202L), (201L, 202L)))
    // ADC two-stage path under the same cap: identical output (chain
    // pairs ride the bound filter — identical vectors pass it)
    assert(run(capped, adc = true) === cappedPairs,
      "ADC on/off must agree under the cap")
    // knob off (the default): the full 780-pair hot clique
    assert(run(spark, adc = false).size === 780 + 3)
  }

  test("cosineDedupPairs: duplicate-id corpus collapses to distinct output pairs") {
    // output contract: ids are keys, and a key-duplicated corpus
    // (replicated crawl partition, identical vectors per key) must yield
    // the SAME distinct pair set as the unique-id corpus — the trailing
    // post-threshold distinct collapses the fetch joins' fan-out rows
    // (a PRE-fetch representative collapse was measured and rejected:
    // 1.5x slower on legal 100x corpora — see the operator's fetch note)
    val base = emb.limit(50)
    val withCopies = base.unionByName(
      base.orderBy(col("vec_id")).limit(5)
        .withColumn("vec_id", col("vec_id") + lit(1000000L)))
    val want = Ann.cosineDedupPairs(withCopies, "vec_id", "embedding", 0.999)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(want.nonEmpty, "fixture must plant exact-duplicate vectors")
    val replicated = (1 to 10).map(_ => withCopies).reduce(_ unionByName _)
    val got = Ann.cosineDedupPairs(replicated, "vec_id", "embedding", 0.999)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length === got.distinct.length,
      "duplicate ids must not duplicate output pairs")
    assert(got.sorted.toSeq === want)
  }

  test("cosineDedupPairs: banded LSH recall dominates the single-bucket form") {
    import spark.implicits._
    // 100 planted near-dup pairs at cosine ~0.98-0.99 among 500 unrelated
    // vectors. Banding is an OR-of-ANDs: recall 1-(1-(1-θ/π)^P)^B — the
    // default 16x4 should find essentially all planted pairs where a
    // single 16-plane bucket finds roughly half ((1-θ/π)^16 ≈ 0.5 at
    // cosine 0.98). Exact cosine decides acceptance either way, so the
    // comparison is purely about candidate recall.
    val rnd = new scala.util.Random(20260815L)
    val dim = 64
    def randVec(): Array[Float] = {
      val v = Array.fill(dim)(rnd.nextGaussian().toFloat)
      val n = math.sqrt(v.map(x => x * x.toDouble).sum).toFloat
      v.map(_ / n)
    }
    def cosine(a: Array[Float], b: Array[Float]): Double =
      a.zip(b).map { case (x, y) => x * y.toDouble }.sum /
        (math.sqrt(a.map(x => x * x.toDouble).sum) *
          math.sqrt(b.map(x => x * x.toDouble).sum))
    val planted = (0 until 100).map { i =>
      val v = randVec()
      // small perturbation, renormalized: cosine lands ~0.975-0.995
      val w0 = v.zip(randVec()).map { case (x, e) => x + 0.15f * e }
      val n = math.sqrt(w0.map(x => x * x.toDouble).sum).toFloat
      (i.toLong, v, (i + 5000).toLong, w0.map(_ / n))
    }.filter(p => cosine(p._2, p._4) >= 0.97)
    assert(planted.size >= 80, s"fixture must plant near-dups: ${planted.size}")
    val noise = (0 until 500).map(i => ((i + 20000).toLong, randVec()))
    val rows = planted.flatMap(p => Seq((p._1, p._2), (p._3, p._4))) ++ noise
    val df = rows.toDF("vec_id", "embedding")
    def found(bands: Int, numPlanes: Int = 16): Int = {
      val got = Ann.cosineDedupPairs(df, "vec_id", "embedding",
        threshold = 0.97, numPlanes = numPlanes, bands = bands)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      planted.count(p => got((p._1, p._3)))
    }
    val banded = found(4)
    val single = found(1)
    assert(banded >= (planted.size * 0.93).toInt,
      s"banded recall too low: $banded/${planted.size}")
    assert(banded > single,
      s"banding must dominate the single bucket: $banded vs $single")
    // numPlanes = 0 (auto): the width clamps at ≤ the default 16 for
    // bands = 4 at every n, so auto recall is ≥ the default's — and at
    // this corpus size (~1200 vectors) auto picks a NARROWER band, so the
    // dominance is strict in expectation but pinned as ≥ (ties legal)
    val auto = found(4, numPlanes = 0)
    assert(auto >= banded,
      s"auto-sized recall must dominate the default: $auto vs $banded")
    // exact duplicates share every band at ANY setting
    val dupDf = df.unionByName(
      df.filter(col("vec_id") < 10).withColumn("vec_id", col("vec_id") + 90000L))
    val exact = Ann.cosineDedupPairs(dupDf, "vec_id", "embedding", 0.99999)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    df.filter(col("vec_id") < 10).collect().map(_.getLong(0)).foreach { i =>
      assert(exact((i, i + 90000L)), s"exact dup $i must always be found")
    }
  }

  test("brute-force knn: self is top-1 with cosine 1") {
    val q = emb.filter(col("vec_id") === 0).select("embedding")
      .collect()(0).getSeq[Float](0).toArray
    val top = Ann.bruteForceKnn(emb, "vec_id", "embedding", q, 5).collect()
    assert(top(0).getLong(0) === 0L)
    assert(math.abs(top(0).getDouble(1) - 1.0) < 1e-9)
    assert(top.map(_.getDouble(1)).sliding(2).forall(p => p(0) >= p(1) - 1e-12))
  }

  test("lsh knn recall vs brute force") {
    val q = emb.filter(col("vec_id") === 3).select("embedding")
      .collect()(0).getSeq[Float](0).toArray
    val exact = Ann.bruteForceKnn(emb, "vec_id", "embedding", q, 10)
      .collect().map(_.getLong(0)).toSet
    val approx = Ann.lshKnn(emb, "vec_id", "embedding", q, 10, numPlanes = 5, probeRadius = 2)
      .collect().map(_.getLong(0)).toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    assert(recall >= 0.5, s"recall $recall too low")
  }

  test("ivf knn: good recall vs brute force with few probes") {
    val q = emb.filter(col("vec_id") === 7).select("embedding")
      .collect()(0).getSeq[Float](0).toArray
    val (assigned, centroids) = Ann.ivfIndex(emb, "vec_id", "embedding",
      nClusters = 8, lloydIterations = 1)
    val cached = assigned.cache()
    val exact = Ann.bruteForceKnn(emb, "vec_id", "embedding", q, 10)
      .collect().map(_.getLong(0)).toSet
    val approx = Ann.ivfKnn(cached, centroids, "vec_id", "embedding", q, 10, nprobe = 4)
      .collect().map(_.getLong(0)).toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    assert(recall >= 0.5, s"IVF recall $recall too low")
    // probing ALL clusters must reproduce brute force exactly
    val full = Ann.ivfKnn(cached, centroids, "vec_id", "embedding", q, 10, nprobe = 8)
      .collect().map(_.getLong(0)).toSet
    assert(full === exact)
    cached.unpersist()
  }

  test("cosine dedup pairs finds planted duplicate vectors") {
    val copies = emb.orderBy("vec_id").limit(5)
      .withColumn("vec_id", col("vec_id") + 1000000L)
    val both = emb.unionByName(copies)
    val pairs = Ann.cosineDedupPairs(both, "vec_id", "embedding", 0.999)
    val found = pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = (0 until 5).map(i => (i.toLong, i.toLong + 1000000L)).toSet
    assert(expected.subsetOf(found))
  }

  test("multimodal: batched stub decode preserves rows and derives meta") {
    val bin = docs.limit(100).withColumn("blob", col("text").cast("binary"))
    val out = Multimodal.decodeMeta(bin, "blob", batchSize = 7)
    assert(out.count() === 100)
    val r = out.select(col("doc_id"), length(col("blob")).as("len"),
      col("media_meta.n_bytes"), col("media_meta.width"), col("media_meta.height"))
      .collect()
    r.foreach { row =>
      val len = row.getInt(1).toLong
      assert(row.getLong(2) === len)
      assert(row.getInt(3) === (len % 640).toInt)
      assert(row.getInt(4) === (len % 480).toInt)
    }
    val sampled = Multimodal.sampleFrameIndices(out, "media_meta", 5)
    assert(sampled.select("frame_indices").collect().forall(!_.isNullAt(0)))
    val resized = Multimodal.resizeMeta(out, "media_meta", 320)
    assert(resized.select("resized.width").collect().forall(_.getInt(0) === 320))
  }

  test("multimodal: HeaderDecoder parses real container headers") {
    import Multimodal.{HeaderDecoder, SyntheticMedia}
    // real encoders (javax.imageio) → real parse round-trip
    for ((fmt, w, h) <- Seq(("png", 123, 45), ("jpg", 64, 200), ("bmp", 17, 31))) {
      val bytes = SyntheticMedia.image(fmt, w, h, seed = 42L)
      val m = HeaderDecoder.decode(bytes)
      val wantFmt = if (fmt == "jpg") "jpeg" else fmt
      assert(m.format === wantFmt, s"$fmt format")
      assert(m.width === w, s"$fmt width")
      assert(m.height === h, s"$fmt height")
      assert(m.nBytes === bytes.length.toLong)
    }
    // WAV: frames = data bytes / (channels * bytes-per-sample)
    val wav = SyntheticMedia.wav(channels = 2, sampleRate = 16000,
      bitsPerSample = 16, frames = 777)
    val wm = HeaderDecoder.decode(wav)
    assert(wm.format === "wav")
    assert(wm.nFrames === 777)
    // GIF header (hand-built logical screen descriptor, little-endian dims)
    val gif = "GIF89a".getBytes("US-ASCII") ++
      Array[Byte](0x34, 0x12, 0x78, 0x56, 0, 0, 0, 0x3B)
    val gm = HeaderDecoder.decode(gif)
    assert(gm.format === "gif")
    assert(gm.width === 0x1234)
    assert(gm.height === 0x5678)
    // unknown bytes fall back to the stub derivation (operator stays total)
    val txt = "just some text".getBytes("UTF-8")
    val tm = HeaderDecoder.decode(txt)
    assert(tm === Multimodal.StubDecoder.decode(txt))
  }

  test("multimodal: decodeMeta recovers true dimensions from real PNG blobs") {
    val spark2 = spark
    import spark2.implicits._
    val rows = Seq((1L, 20, 10), (2L, 300, 7), (3L, 1, 1))
    val df = rows.map { case (id, w, h) =>
      (id, Multimodal.SyntheticMedia.image("png", w, h, id))
    }.toDF("id", "blob")
    val got = Multimodal.decodeMeta(df, "blob")
      .select($"id", $"media_meta.format", $"media_meta.width", $"media_meta.height")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getInt(3)))
      .sortBy(_._1)
    assert(got === rows.map { case (id, w, h) => (id, "png", w, h) }.toArray)
  }

  test("multimodal: batched feature extraction feeds the ANN operators") {
    val bin = docs.limit(200).withColumn("blob", col("text").cast("binary"))
    val feats = Multimodal.extractFeatures(bin, "blob", batchSize = 13)
    assert(feats.count() === 200)
    // unit-normalized, deterministic, dim 64
    val v = feats.select(col("doc_id"), col("features")).collect()
    v.foreach { r =>
      val f = r.getSeq[Float](1)
      assert(f.length === 64)
      val norm = f.map(x => x * x).sum
      assert(math.abs(norm - 1.0) < 1e-3, s"norm $norm")
    }
    // identical blobs embed identically — planted copies rank top-1 by
    // cosine through the existing ANN path
    val q = v.head.getSeq[Float](1).toArray
    val top = Ann.bruteForceKnn(feats, "doc_id", "features", q, 1)
      .collect()(0)
    assert(top.getLong(0) === v.head.getLong(0))
    assert(math.abs(top.getDouble(1) - 1.0) < 1e-6)
  }

  test("text: token counts and quality") {
    import spark.implicits._
    val df = Seq(("Hello, world! 42 foo", "  a b  c ", "")).toDF("a", "b", "c")
    val r = df.select(
      TextFunctions.tokenCountWs(col("a")), TextFunctions.tokenCountBpe(col("a")),
      TextFunctions.tokenCountWs(col("b")), TextFunctions.tokenCountWs(col("c")),
      TextFunctions.punctCount(col("a"))).collect()(0)
    assert(r.getInt(0) === 4)
    assert(r.getInt(1) === 6)
    assert(r.getInt(2) === 3)
    assert(r.getInt(3) === 0)
    assert(r.getInt(4) === 2) // ',' and '!'
    val q = docs.select(TextFunctions.qualityScore(col("text")).as("q")).collect()
    assert(q.forall(x => x.getDouble(0) >= 0.0 && x.getDouble(0) <= 1.0))
  }

  test("language id on real sentences") {
    import spark.implicits._
    val samples = Seq(
      ("en", "the cat sat on the mat and it was happy with this state of things"),
      ("fr", "le chat est dans la maison et il est content de sa vie pour toujours"),
      ("es", "el gato está en la casa y es muy feliz con su vida de siempre"),
      ("de", "die katze ist in dem haus und sie ist sehr glücklich mit ihrem leben"),
      ("zh", "这只猫在房子里它对自己的生活非常满意每天都很开心"))
    val df = samples.toDF("want", "text")
    val got = df.select(col("want"), TextFunctions.languageId(col("text")).as("got")).collect()
    got.foreach(r => assert(r.getString(0) === r.getString(1), r.toString))
  }

  test("fingerprint: equal for identical text, deterministic") {
    val fp = withDups.select(col("doc_id"),
      TextFunctions.fingerprint(col("text")).as("fp"))
    val base = fp.filter(col("doc_id") < 10).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val copies = fp.filter(col("doc_id") >= 1000000L).collect()
      .map(r => (r.getLong(0) - 1000000L) -> r.getLong(1)).toMap
    copies.foreach { case (id, v) => assert(base.get(id).contains(v)) }
  }

  test("connectedComponents: chains propagate, singletons self-label") {
    import spark.implicits._
    // 1-2, 2-3 (chain), 10-11 (pair), 20 (singleton)
    val pairs = Seq((2L, 1L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val ids = Seq(1L, 2L, 3L, 10L, 11L, 20L).toDF("doc_id")
    val got = graft.dedup.Dedup.connectedComponents(pairs, ids, "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L, 20L -> 20L))
  }

  test("connectedComponents: random graphs match a union-find oracle") {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    (0 until 5).foreach { _ =>
      val n = 60
      val edges = Seq.fill(50)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      // driver-side union-find truth
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = { if (parent(x) != x) parent(x) = find(parent(x)); parent(x) }
      edges.foreach { case (a, b) => parent(find(a.toInt)) = find(b.toInt) }
      val truth = (0 until n).map { i =>
        i.toLong -> (0 until n).filter(j => find(j) == find(i)).min.toLong
      }.toMap
      // both execution paths must match the oracle: the driver
      // union-find (small long-id graph) AND the distributed loop, which
      // string ids always take — zero-padded, so the lexicographic
      // minimum is the numeric one
      val got = graft.dedup.Dedup.connectedComponents(
        edges.toDF("id_a", "id_b"), (0L until n.toLong).toDF("doc_id"), "doc_id")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === truth)
      def pad(i: Long): String = f"$i%03d"
      val gotDist = graft.dedup.Dedup.connectedComponents(
        edges.map { case (a, b) => (pad(a), pad(b)) }.toDF("id_a", "id_b"),
        (0L until n.toLong).map(pad).toDF("doc_id"), "doc_id")
        .collect().map(r => r.getString(0).toLong -> r.getString(1).toLong)
        .toMap
      assert(gotDist === truth)
    }
  }

  test("connectedComponents: long chain converges; cap overrun throws loudly") {
    import spark.implicits._
    // path graph 0-1-2-...-12: diameter 12
    val pairs = (0L until 12L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val ids = (0L to 12L).toDF("doc_id")
    val got = graft.dedup.Dedup.connectedComponents(pairs, ids, "doc_id", maxIterations = 20)
      .collect().map(r => r.getLong(1)).distinct
    assert(got.toSeq === Seq(0L)) // one component, min label
    // a cap below the diameter must refuse rather than silently return
    // split labels (ADVICE: unconverged labels assign one component several
    // cluster_ids with no warning)
    // the refuse contract belongs to the DISTRIBUTED loop — the r16
    // driver union-find gate would contract this tiny long-id graph
    // exactly in one collect, so the leg uses the same path with
    // zero-padded string ids, which always take the distributed loop
    def pad(i: Long): String = f"$i%02d"
    val strPairs = (0L until 12L).map(i => (pad(i), pad(i + 1)))
      .toDF("id_a", "id_b")
    val strIds = (0L to 12L).map(pad).toDF("doc_id")
    assert(graft.dedup.Dedup.connectedComponents(strPairs, strIds, "doc_id",
      maxIterations = 20).collect().map(_.getString(1)).distinct.toSeq
      === Seq("00"))
    val ex = intercept[IllegalStateException] {
      graft.dedup.Dedup.connectedComponents(strPairs, strIds, "doc_id",
        maxIterations = 3).collect()
    }
    assert(ex.getMessage.contains("did not converge"))
  }
}
