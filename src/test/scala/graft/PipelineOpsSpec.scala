package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.Pipeline

class PipelineOpsSpec extends AnyFunSuite {
  import TestSpark._

  private lazy val docs = spark.read.parquet(s"$sf/documents.parquet")

  test("stratified split: exact per-stratum proportions, deterministic, disjoint") {
    val s = Pipeline.stratifiedSplit(docs, Seq(col("lang")), 0.2)
    val counts = s.groupBy("lang", "split").count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val totals = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    totals.foreach { case (lang, n) =>
      val test = counts.getOrElse((lang, "test"), 0L)
      assert(test === math.ceil(n * 0.2).toLong, s"$lang test size")
      assert(test + counts.getOrElse((lang, "train"), 0L) === n)
    }
    // deterministic
    val again = Pipeline.stratifiedSplit(docs, Seq(col("lang")), 0.2)
      .filter(col("split") === "test").agg(sum(col("doc_id"))).collect()(0).getLong(0)
    val first = s.filter(col("split") === "test").agg(sum(col("doc_id"))).collect()(0).getLong(0)
    assert(again === first)
  }

  test("stratified split: exact counts when the boundary row is duplicated") {
    import spark.implicits._
    // stratum "dup": 4 copies of one row + 6 unique; stratum "uni": all
    // identical rows. Content duplicates share the boundary hash — the split
    // must still be exactly ceil(0.2·n) / ceil(0.5·n) per stratum.
    val rows =
      (1 to 6).map(i => ("dup", s"unique text $i")) ++
        Seq.fill(4)(("dup", "copied text")) ++
        Seq.fill(10)(("uni", "all the same"))
    val df = rows.toDF("k", "v")
    for (frac <- Seq(0.2, 0.5, 0.7)) {
      val s = Pipeline.stratifiedSplit(df, Seq(col("k")), frac)
      val counts = s.groupBy("k", "split").count().collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      for (k <- Seq("dup", "uni")) {
        val t = counts.getOrElse((k, "test"), 0L)
        assert(t === math.ceil(10 * frac).toLong, s"stratum $k frac $frac: $t")
        assert(t + counts.getOrElse((k, "train"), 0L) === 10L)
      }
    }
  }

  test("chunking: full coverage, overlap honored, index ordering") {
    import spark.implicits._
    val text = (1 to 25).map(i => s"w$i").mkString(" ")
    val df = Seq((1L, text)).toDF("doc_id", "text")
    val out = Pipeline.chunk(df, "text", chunkTokens = 10, overlap = 2)
      .orderBy("chunk_index").collect()
    assert(out.length === 3) // stride 8: [1..10],[9..18],[17..25]
    val c0 = out(0).getAs[String]("chunk_text").split(" ")
    val c1 = out(1).getAs[String]("chunk_text").split(" ")
    assert(c0.length === 10 && c0.head === "w1" && c0.last === "w10")
    assert(c1.head === "w9", "overlap of 2 tokens carried")
    val all = out.flatMap(_.getAs[String]("chunk_text").split(" ")).toSet
    assert(all === (1 to 25).map(i => s"w$i").toSet, "every token covered")
  }

  test("chunking short documents yields one chunk") {
    import spark.implicits._
    val out = Pipeline.chunk(Seq((1L, "a b c")).toDF("id", "text"), "text", 10)
      .collect()
    assert(out.length === 1)
    assert(out(0).getAs[String]("chunk_text") === "a b c")
  }

  test("contamination check finds planted eval-set leakage") {
    import spark.implicits._
    val evalDocs = docs.orderBy("doc_id").limit(5)
      .select(col("doc_id"), col("text"))
    val corpus = docs.select(col("doc_id"), col("text"))
    val hits = Pipeline.contaminationCheck(corpus, evalDocs, "doc_id", "text",
      n = 8, minShared = 3)
    val hitIds = hits.collect().map(_.getLong(0)).toSet
    // the five eval docs themselves are in the corpus → must all be flagged
    val planted = evalDocs.collect().map(_.getLong(0)).toSet
    assert(planted.subsetOf(hitIds), s"missed: ${planted -- hitIds}")
  }

  test("prefixSum matches a single-partition global window cumsum") {
    // deterministic subset (an unordered limit could pick different rows in
    // each of prefixSum's three scans)
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"))
      .filter(col("l_orderkey") % 11 === 0)
    val order = Seq(col("l_orderkey"), col("l_linenumber"))
    val got = Pipeline.prefixSum(li, order, col("l_partkey"), "cum", buckets = 16)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(3)).toMap
    // the reference answer: the one-task global window prefixSum exists to
    // avoid
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(order: _*)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val want = li.withColumn("cum", sum(col("l_partkey").cast("long")).over(w))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(3)).toMap
    assert(got === want)
  }

  test("prefixSum is layout-independent and handles descending order") {
    val base = docs.select(col("doc_id"), col("n_chars"))
    val order = Seq(col("n_chars") * lit(-1L), col("doc_id"))
    def run(df: org.apache.spark.sql.DataFrame) =
      Pipeline.prefixSum(df, order, col("n_chars"), "cum", buckets = 8)
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val a = run(base.repartition(13))
    val b = run(base.coalesce(1))
    assert(a === b)
    // descending: the doc with the most chars has cum == its own count
    val maxDoc = docs.orderBy(col("n_chars").desc, col("doc_id")).limit(1)
      .collect()(0)
    assert(a(maxDoc.getLong(0)) === maxDoc.getLong(4))
  }

  test("selectByTokenBudget takes a maximal prefix in priority order") {
    val withTok = docs.select(col("doc_id"), col("n_chars"),
      (col("n_chars") % 97 + 1).as("tok")) // deterministic pseudo-tokens
    val budget = 5000L
    val sel = Pipeline.selectByTokenBudget(withTok, col("tok"),
      Seq(col("n_chars") * lit(-1L), col("doc_id")), budget)
      .collect().map(_.getLong(0)).toSet
    val all = withTok
      .orderBy(col("n_chars").desc, col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    var run = 0L
    val expected = all.takeWhile { case (_, t) => run += t; run <= budget }
      .map(_._1).toSet
    assert(sel === expected)
    assert(expected.nonEmpty && expected.size < all.length,
      "budget must select a strict non-empty prefix for the test to bite")
  }

  test("unigram LM score: common-word docs above gibberish, token counts exact") {
    import spark.implicits._
    val common = docs.orderBy("doc_id").limit(50).select(col("doc_id"), col("text"))
    val planted = Seq(
      (900001L, "zxqv jkwpl vmbtr qqzxy wfjkl pzmvb xxyzk rrqwv"),
      (900002L, "the and for with that this from have are was"))
      .toDF("doc_id", "text")
    val scored = Pipeline.unigramLogProb(common.unionByName(planted), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // every token of the gibberish doc is unique corpus-wide → minimal
    // probability; the stopword doc's tokens recur → higher score
    assert(scored(900001L)._2 < scored(900002L)._2,
      s"gibberish ${scored(900001L)} must score below stopwords ${scored(900002L)}")
    assert(scored(900001L)._1 === 8L && scored(900002L)._1 === 10L)
    // deterministic across runs
    val again = Pipeline.unigramLogProb(common.unionByName(planted), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    scored.foreach { case (k, (_, p)) => assert(again(k) === p) }
    // degenerate corpora: empty frame and all-whitespace texts yield empty
    // results, never an NPE on the null total
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Pipeline.unigramLogProb(empty, "doc_id", "text").count() === 0L)
    val blank = Seq((1L, "   "), (2L, "")).toDF("doc_id", "text")
    assert(Pipeline.unigramLogProb(blank, "doc_id", "text").count() === 0L)
  }

  test("unigram LM two-tier join: skewed head token scores identically to single-tier") {
    import spark.implicits._
    // one token ("the") is 30% of the whole stream — the classic skewed
    // join key the head tier exists to keep out of the shuffle
    val skewDoc = (1L, Array.fill(300)("the").mkString(" "))
    val rest = (2L to 21L).map(i =>
      (i, s"alpha$i beta$i gamma$i delta$i epsilon$i common words appear here too"))
    val df = (skewDoc +: rest).toDF("doc_id", "text")
    // headSize=0 degenerates to the single shuffle-join path — use it as the
    // oracle for the split's value-neutrality
    val twoTier = Pipeline.unigramLogProb(df, "doc_id", "text", headSize = 4)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val oneTier = Pipeline.unigramLogProb(df, "doc_id", "text", headSize = 0)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(twoTier.keySet === oneTier.keySet)
    twoTier.foreach { case (k, (n, p)) =>
      assert(n === oneTier(k)._1, s"doc $k token count")
      assert(math.abs(p - oneTier(k)._2) < 1e-12, s"doc $k logp")
    }
    // the skewed doc's tokens are all head tokens; its score must reflect
    // tf=300+rest occurrences of "the"
    assert(twoTier(1L)._1 === 300L)
  }

  test("mixture rebalance: binding stratum whole, shares near target, pure row function") {
    val targets = Map("en" -> 0.30, "de" -> 0.175, "es" -> 0.175,
      "fr" -> 0.175, "zh" -> 0.175)
    val mixed = Pipeline.resampleToMix(docs, col("lang"), col("doc_id"), targets)
    val kept = mixed.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val orig = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // the stratum scarcest relative to its target is kept in full
    val binding = targets.keys.maxBy(k => targets(k) / orig(k))
    assert(kept(binding) === orig(binding), s"binding stratum $binding thinned")
    // realized shares approximate the target mix (hash selection is
    // Bernoulli-like per stratum; 5% absolute tolerance at ~500 docs)
    val total = kept.values.sum.toDouble
    targets.foreach { case (k, t) =>
      assert(math.abs(kept(k) / total - t) < 0.05, s"$k share ${kept(k) / total}")
    }
    // membership is a pure row function: layout-independent and repeatable
    val ids1 = mixed.select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val ids2 = Pipeline.resampleToMix(docs.repartition(17), col("lang"),
      col("doc_id"), targets).select(col("doc_id")).collect()
      .map(_.getLong(0)).toSet
    assert(ids1 === ids2)
    // strata without a target are dropped entirely
    val withExtra = docs.withColumn("lang",
      when(col("doc_id") % 10 === 0, lit("xx")).otherwise(col("lang")))
    val noXx = Pipeline.resampleToMix(withExtra, col("lang"), col("doc_id"), targets)
    assert(noXx.filter(col("lang") === "xx").count() === 0L)
  }

  test("mixture rebalance: non-string strata (int, date) key by string form; non-numeric id throws") {
    import spark.implicits._
    // int strata: same mix as an equivalent string-strata frame
    val intDf = (1L to 400L).map(i => (i, (i % 4).toInt)).toDF("id", "lang_code")
    val intTargets = Map("0" -> 0.4, "1" -> 0.2, "2" -> 0.2, "3" -> 0.2)
    val intMix = Pipeline.resampleToMix(intDf, col("lang_code"), col("id"), intTargets)
    val strMix = Pipeline.resampleToMix(
      intDf.withColumn("lang_code", col("lang_code").cast("string")),
      col("lang_code"), col("id"), intTargets)
    assert(intMix.select("id").collect().map(_.getLong(0)).toSet ===
      strMix.select("id").collect().map(_.getLong(0)).toSet)
    assert(intMix.count() > 0)
    // date strata: keyed by the cast-to-string rendering (yyyy-MM-dd)
    val dateDf = (1L to 200L).map(i => (i, java.sql.Date.valueOf(
      if (i % 2 == 0) "2026-01-01" else "2026-01-02"))).toDF("id", "day")
    val dateMix = Pipeline.resampleToMix(dateDf, col("day"), col("id"),
      Map("2026-01-01" -> 0.5, "2026-01-02" -> 0.5))
    assert(dateMix.count() === 200L) // already at the target mix: keep all
    // non-numeric id: typed error at call time, not a ClassCastException
    val err = intercept[IllegalArgumentException] {
      Pipeline.resampleToMix(
        intDf.withColumn("sid", concat(lit("x"), col("id"))),
        col("lang_code"), col("sid"), intTargets)
    }
    assert(err.getMessage.contains("must be numeric"))
  }

  /** Plain-Scala restatement of resampleToMix over (id, stratum) rows:
   * weight/count ratios of the targeted strata present, thresholds against
   * the largest ratio, then Knuth's multiplicative hash of the id. */
  private def mixOracle(rows: Seq[(Long, String)], targets: Map[String, Double]): Set[Long] = {
    val counts = rows.groupBy(_._2).map { case (k, rs) => k -> rs.size.toLong }
    val ratios = targets.collect { case (k, t) if counts.contains(k) => k -> t / counts(k) }
    val maxR = ratios.values.max
    val thr = ratios.map { case (k, r) => k -> math.floor(r / maxR * 4294967296.0).toLong }
    def hash(id: Long): Long =
      Math.floorMod(Math.floorMod(id, 2147483648L) * 2654435761L, 4294967296L)
    rows.collect { case (id, s) if thr.get(s).exists(hash(id) < _) => id }.toSet
  }

  test("mixture rebalance: a high-cardinality strata column returns the hash-selection oracle's rows") {
    import spark.implicits._
    // the id itself as the strata column: one stratum per row, only the
    // targeted ones are counted
    val rows = (1L to 400L).map(i => i -> i.toString)
    val df = rows.map(_._1).toDF("id")
    for (targets <- Seq(Map("1" -> 1.0), Map("1" -> 1.0, "2" -> 1.0, "3" -> 0.5))) {
      val got = Pipeline.resampleToMix(df, col("id"), col("id"), targets)
        .select("id").collect().map(_.getLong(0)).toSet
      assert(got === mixOracle(rows, targets), s"targets $targets")
    }
    assert(mixOracle(rows, Map("1" -> 1.0)) === Set(1L))
  }

  test("sequence packing: contiguous offsets, in-bounds placement") {
    val withTok = docs.select(col("doc_id"), (col("n_chars") % 89 + 1).as("tok"))
    val B = 128
    val rows = Pipeline.packSequences(withTok, col("tok"), Seq(col("doc_id")), B)
      .orderBy(col("doc_id"))
      .select(col("doc_id"), col("tok"), col("token_offset"),
        col("seq_first"), col("seq_last"), col("seq_offset"))
      .collect()
    var expectedOffset = 0L
    rows.foreach { r =>
      val (tok, off, sf0, sl, so) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(off === expectedOffset, s"doc ${r.getLong(0)} offset")
      assert(sf0 === off / B)
      assert(sl === math.max(off + tok - 1, off) / B)
      assert(so === off % B && so < B)
      expectedOffset += tok
    }
  }

  test("capPerKey: equals the window-rank winners; counts bounded; null handling") {
    import spark.implicits._
    val capped = Pipeline.capPerKey(docs, col("source"), col("doc_id"), 7)
    // membership equals the row_number() restatement exactly
    val expected = docs
      .withColumn("rn", row_number().over(org.apache.spark.sql.expressions
        .Window.partitionBy(col("source")).orderBy(col("doc_id"))))
      .filter(col("rn") <= 7).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val got = capped.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got === expected)
    // every key at or under the cap; schema unchanged
    capped.groupBy("source").count().collect()
      .foreach(r => assert(r.getLong(1) <= 7, s"${r.getString(0)} over cap"))
    assert(capped.schema === docs.schema)

    // a hot key bigger than the cap, a key smaller than it, a NULL key
    // group, and NULL ords (never kept)
    val skewed = (1 to 100).map(i => (Option("hot"), Option(i.toLong))) ++
      Seq((Option("cold"), Option(500L)), (None, Option(1L)),
        (None, Option(2L)), (Option("hot"), Option.empty[Long]))
    val sdf = skewed.toDF("k", "v")
    val out = Pipeline.capPerKey(sdf, col("k"), col("v"), 3)
      .collect().map(r => (Option(r.getString(0)), r.getLong(1))).toSet
    assert(out === Set((Some("hot"), 1L), (Some("hot"), 2L), (Some("hot"), 3L),
      (Some("cold"), 500L), (None, 1L), (None, 2L)))
  }

  test("capPerKey: tied ord values cap at exactly n (content-hash tiebreak)") {
    import spark.implicits._
    // every row distinct in content but tied on ord — the quality-score
    // shape (a mass of score-0 documents). The content-hash tiebreak must
    // rank them deterministically: exactly n survive, and re-running (or
    // reshuffling) keeps the SAME n.
    val df = (1 to 50).map(i => ("a", 0L, s"doc$i")).toDF("k", "v", "payload")
    val kept1 = Pipeline.capPerKey(df, col("k"), col("v"), 3)
      .collect().map(_.getString(2)).sorted.toSeq
    assert(kept1.size === 3)
    val kept2 = Pipeline.capPerKey(df.repartition(7), col("k"), col("v"), 3)
      .collect().map(_.getString(2)).sorted.toSeq
    assert(kept2 === kept1, "selection must be layout-independent")
    // mixed ties: strictly-better ord always wins over the tiebreak
    val mixed = Seq(("a", 1L, "x"), ("a", 5L, "t1"), ("a", 5L, "t2"),
      ("a", 5L, "t3"), ("a", 9L, "z")).toDF("k", "v", "p")
    val got = Pipeline.capPerKey(mixed, col("k"), col("v"), 3)
      .collect().map(r => (r.getLong(1), r.getString(2)))
    assert(got.length === 3)
    assert(got.count(_._1 == 1L) === 1, "ord=1 must always survive")
    assert(got.count(_._1 == 5L) === 2, "exactly two of the tied ord=5 rows")
  }

  test("capPerKey: rows differing only in null pattern cap at exactly n") {
    import spark.implicits._
    // xxhash64 skips NULL children, so without the isNull flags these two
    // rows would share a tiebreak and both survive a cap of 1
    val df = Seq(("d", 5L, Option.empty[String], Option("x")),
      ("d", 5L, Option("x"), Option.empty[String])).toDF("k", "v", "a", "b")
    val kept = Pipeline.capPerKey(df, col("k"), col("v"), 1).collect()
    assert(kept.length === 1, "null-pattern twins must not both survive")
    // caller-supplied tiebreak: deterministic, narrow, and decisive —
    // boolean casts to 0/1, so the null-a row (1) loses to the other (0)
    val tb = Pipeline.capPerKey(df, col("k"), col("v"), 1,
      tiebreak = Some(col("a").isNull.cast("long")))
    assert(tb.collect().map(r => r.isNullAt(2)).toSeq === Seq(false))
    // reserved name guard
    val bad = df.withColumn("__graft_tb__", lit(1L))
    val ex = intercept[IllegalArgumentException] {
      Pipeline.capPerKey(bad, col("k"), col("v"), 1)
    }
    assert(ex.getMessage.contains("__graft_tb__"))
  }

  test("capPerKey: NULL-casting caller tiebreak still returns EXACTLY n") {
    import spark.implicits._
    // a tiebreak whose cast('long') is NULL (a hex-string content hash,
    // say) must neither under-return (rows win aggregate slots but the
    // null-rejecting membership join never matches them) nor over-return
    // (pinning every NULL cast to one CONSTANT makes equal-ord rows carry
    // identical (ord, tb) pairs — the join then matches ALL of them and a
    // cap of n returns more than n). The landed convention: rows whose
    // caller tiebreak doesn't cast fall back to the default content hash,
    // which is deterministic, distinct for non-identical rows, and shared
    // by both phases.
    val df = Seq(("a", 1L, "ff01"), ("a", 2L, "ab"), ("a", 3L, "0c"),
      ("b", 9L, "deadbeef")).toDF("k", "v", "hex")
    val kept = Pipeline.capPerKey(df, col("k"), col("v"), 2,
      tiebreak = Some(col("hex"))) // cast('long') of hex strings = NULL
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(kept === Set(("a", 1L), ("a", 2L), ("b", 9L)))
    // over-cap regression: equal ord, cap 2, THREE distinct hex tiebreaks
    // — under the old NULL→constant-0 convention all three matched the
    // winners join and the "cap" returned 3
    val tied = Seq(("c", 5L, "xx"), ("c", 5L, "yy"), ("c", 5L, "zz"))
      .toDF("k", "v", "hex")
    val capped = Pipeline.capPerKey(tied, col("k"), col("v"), 2,
      tiebreak = Some(col("hex"))).collect()
    assert(capped.length === 2, s"cap 2 must return 2, got ${capped.length}")
    // the fallback is deterministic: the same input keeps the same rows
    val again = Pipeline.capPerKey(tied, col("k"), col("v"), 2,
      tiebreak = Some(col("hex"))).collect()
    assert(capped.map(_.getString(2)).sorted.toSeq ===
      again.map(_.getString(2)).sorted.toSeq)
    // a MIX of null and non-null casts still caps at exactly n per key
    val mix = Seq(("d", 5L, "xx"), ("d", 5L, "7")).toDF("k", "v", "t")
    assert(Pipeline.capPerKey(mix, col("k"), col("v"), 1,
      tiebreak = Some(col("t"))).count() === 1L)
  }

  test("capPerKey: map-typed columns don't break the default tiebreak") {
    import spark.implicits._
    // xxhash64 rejects MapType (allowHashOnMapType=false): the default
    // hash-everything tiebreak must exclude map columns (their isNull
    // flags still participate) instead of throwing AnalysisException
    val df = Seq(("a", 1L, Map("x" -> 1)), ("a", 2L, Map("y" -> 2)),
      ("a", 3L, Map.empty[String, Int])).toDF("k", "v", "m")
    val kept = Pipeline.capPerKey(df, col("k"), col("v"), 2)
      .collect().map(_.getLong(1)).sorted.toSeq
    assert(kept === Seq(1L, 2L))
    // ties still cap at n when the non-map columns disambiguate
    val tied = Seq(("a", 5L, "p", Map("x" -> 1)), ("a", 5L, "q", Map("x" -> 1)),
      ("a", 5L, "r", Map("x" -> 1))).toDF("k", "v", "s", "m")
    assert(Pipeline.capPerKey(tied, col("k"), col("v"), 2).count() === 2L)
  }

  test("capPerKey: bit-identical duplicate rows are the documented residual") {
    import spark.implicits._
    // copies of a winning row are indistinguishable by value: all survive
    // (the doc says run exact dedup first). Distinct-row membership is
    // still bounded at n.
    val df = Seq(("a", 1L), ("a", 1L), ("a", 2L), ("a", 3L), ("a", 4L))
      .toDF("k", "v")
    val kept = Pipeline.capPerKey(df, col("k"), col("v"), 2)
      .collect().map(_.getLong(1)).sorted.toSeq
    // the duplicated (a, 1) row contributes its (ord, tb) pair twice and
    // the heap retains pairs WITH multiplicity, so both slots hold (1, h1)
    // and both copies survive the membership join — count stays at n here,
    // though >n copies of one winner row would all survive
    assert(kept === Seq(1L, 1L))
  }

  test("capPerKey smallest=false keeps the n largest, incl. Long extremes") {
    import spark.implicits._
    val df = Seq(("a", Long.MinValue), ("a", -5L), ("a", 0L), ("a", 7L),
      ("a", Long.MaxValue), ("b", Long.MinValue)).toDF("k", "v")
    val top = Pipeline.capPerKey(df, col("k"), col("v"), 2, smallest = false)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(top === Set(("a", 7L), ("a", Long.MaxValue), ("b", Long.MinValue)))
    val bottom = Pipeline.capPerKey(df, col("k"), col("v"), 2)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(bottom === Set(("a", Long.MinValue), ("a", -5L), ("b", Long.MinValue)))
  }
}
