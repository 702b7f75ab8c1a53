package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Training-data pipeline operators beyond dedup/ANN/text: deterministic
 * stratified splits, token-budget document chunking, and cross-corpus
 * contamination checks. All declarative Spark plans.
 */
object Pipeline {

  /**
   * Deterministic stratified train/test split: within each stratum the
   * `ceil(testFraction · n)` rows with the smallest content hash become the
   * test split — exact per-stratum proportions, reproducible for a fixed
   * seed, and stable under re-runs (content-hash based, not row-order
   * based).
   *
   * Scale shape: no full-table window sort (which would pin each stratum on
   * one task). Instead the per-stratum boundary hash — the target-th
   * smallest — is found by ranking only a Bernoulli-prefiltered ~2·target+50
   * subset (same guarantee analysis as [[graft.sampling.StratifiedSampler]]),
   * then every row is labeled with one broadcast join and a comparison.
   *
   * Duplicate rows share a content hash, so the boundary hash may be held by
   * several rows; rows strictly below the boundary are labeled by the hash
   * comparison alone, and the boundary-hash rows (a handful per stratum) get
   * an ordinal in a window over just those rows, admitting exactly
   * `t − |{h < hb}|` of them — the split is exactly t per stratum even when
   * the boundary row is duplicated. Exact up to 2⁻⁶⁴ cross-content hash
   * collisions.
   */
  def stratifiedSplit(df: DataFrame, strata: Seq[Column], testFraction: Double,
      seed: Long = 42L, splitCol: String = "split"): DataFrame = {
    require(testFraction >= 0 && testFraction <= 1, "testFraction in [0,1]")
    val dataCols = df.columns.map(col).toSeq
    val K = "__graft_key__"
    val H = "__graft_h__"
    val key = if (strata.isEmpty) lit(0) else struct(strata: _*)
    val keyed = df.withColumn(K, key)
      .withColumn(H, xxhash64(struct(dataCols: _*), lit(seed)))

    val counts = keyed.groupBy(col(K)).agg(count(lit(1)).as("__graft_n__"))
      .withColumn("__graft_t__",
        least(ceil(col("__graft_n__") * lit(testFraction)), col("__graft_n__")))

    // boundary hash per stratum = t-th smallest h (counting duplicates),
    // ranked over the prefiltered subset only. The prefilter keeps EVERY row
    // below the hash threshold, so all copies of the boundary hash are in
    // the subset and the rank accounts for them.
    val joined = keyed.join(broadcast(counts.withColumnRenamed(K, K + "c")),
      col(K) <=> col(K + "c"), "inner").drop(K + "c")
    val p = least(lit(1.0),
      (col("__graft_t__") * lit(2.0) + lit(50.0)) / col("__graft_n__"))
    val threshold = (lit(2.0) * p - lit(1.0)) * lit(Long.MaxValue.toDouble)
    val ranked = joined
      .filter(col(H).cast("double") < threshold)
      .withColumn("__graft_rn__",
        row_number().over(Window.partitionBy(col(K)).orderBy(col(H))))
    // boundary hash + admitted-copy count in ONE aggregation chain over
    // the top-t set: hb = max h among the t smallest (counting
    // duplicates) = the t-th smallest h; dups = how many copies of hb sit
    // within the top t. The former formulation joined the ranked subtree
    // against its own rn==t row (a second window evaluation, a second
    // full-width hash scan and an extra chained broadcast round — a split
    // profile put the whole split at 1.9 s over a CACHED 5k-doc input,
    // latency-dominated by exactly these chained rounds); the
    // (K, h)-count → max_by rewrite states the same two numbers with no
    // self-join. Labels are unchanged: same hb, same dups, same below/
    // at-boundary logic.
    val boundaries = ranked
      .filter(col("__graft_rn__") <= col("__graft_t__"))
      .groupBy(col(K).as(K + "b"), col(H))
      .agg(count(lit(1)).as("__graft_c__"))
      .groupBy(col(K + "b"))
      .agg(max(col(H)).as("__graft_hb__"),
        max_by(col("__graft_c__"), col(H)).as("__graft_dups__"))

    val labeled = keyed.join(broadcast(boundaries), col(K) <=> col(K + "b"), "left")
    val below = labeled
      .filter(col("__graft_hb__").isNull || col(H) =!= col("__graft_hb__"))
      .withColumn(splitCol,
        when(col("__graft_hb__").isNotNull && col(H) < col("__graft_hb__"),
          lit("test")).otherwise(lit("train")))
      .select(dataCols :+ col(splitCol): _*)
    // boundary-hash rows: tiny per stratum — admit the first __graft_dups__
    val atBoundary = labeled
      .filter(col("__graft_hb__").isNotNull && col(H) === col("__graft_hb__"))
      .withColumn("__graft_bo__",
        row_number().over(Window.partitionBy(col(K)).orderBy(col(H))))
      .withColumn(splitCol,
        when(col("__graft_bo__") <= col("__graft_dups__"), lit("test"))
          .otherwise(lit("train")))
      .select(dataCols :+ col(splitCol): _*)
    below.unionByName(atBoundary)
  }

  /**
   * Token-budget chunking: split a text column into chunks of
   * `chunkTokens` whitespace tokens with `overlap` tokens of context
   * carried between consecutive chunks (the standard LLM pre-training /
   * RAG document slicer). Emits one row per chunk with its index.
   * Pure column algebra: tokens → stride windows → re-joined strings.
   */
  def chunk(df: DataFrame, textCol: String, chunkTokens: Int,
      overlap: Int = 0): DataFrame = {
    require(chunkTokens > overlap, "chunkTokens must exceed overlap")
    val chunks =
      org.apache.spark.sql.graft.ChunkTokens(col(textCol), chunkTokens, overlap)
    graft.core.Fanout(df).withColumn("__graft_chunks__", chunks)
      .select(col("*"), posexplode(col("__graft_chunks__")))
      .withColumnRenamed("pos", "chunk_index")
      .withColumnRenamed("col", "chunk_text")
      .drop("__graft_chunks__")
  }

  /**
   * Cross-corpus contamination check: documents in `corpus` that share at
   * least `minShared` distinct word n-grams with any document in
   * `reference` (eval-set leakage detection). Joins on hashed n-grams —
   * never materializes a document cross product; n-gram explosion is linear
   * in corpus size and the join is map-side combinable.
   */
  def contaminationCheck(corpus: DataFrame, reference: DataFrame,
      idCol: String, textCol: String, n: Int = 8,
      minShared: Int = 1): DataFrame = {
    // single-pass n-gram hashing expression: emits the distinct gram hashes
    // as longs — no gram strings materialize, and the generated code stays
    // small enough to JIT (the transform/slice/concat_ws algebra does not)
    def grams(df: DataFrame, out: String) = df
      .select(col(idCol).as(out),
        explode(org.apache.spark.sql.graft.WordNgramHashes(col(textCol), n))
          .as("__gh__"))
    val cg = grams(graft.core.Fanout(corpus), "corpus_id")
    val rg = grams(reference, "ref_id").select(col("__gh__")).distinct()
    // the reference set (eval benchmarks) is small by definition — broadcast
    // it so the corpus gram stream is filtered in place and never shuffles
    cg.join(broadcast(rg), Seq("__gh__"), "inner")
      .groupBy(col("corpus_id"))
      .agg(countDistinct(col("__gh__")).as("shared_ngrams"))
      .filter(col("shared_ngrams") >= minShared)
  }

  /**
   * Exact distributed prefix sum of `value` (integral; nulls count as 0)
   * over the total order given by `order` — plain ascending columns; negate
   * a numeric column for descending. `order` must be a TOTAL order (include
   * a unique tiebreaker), otherwise the running sum at tied rows is
   * ill-defined.
   *
   * Scale shape: a bare `Window.orderBy(...)` computes the whole cumsum on
   * ONE task — a non-starter at corpus scale. Here rows are bucketed by a
   * monotone function of the leading order key (approx-quantile boundaries;
   * ANY monotone bucketing is correct — the quantiles only balance load,
   * and the bucket id is a pure row function, so the passes below agree
   * even if the boundary estimate were to change between runs), local
   * cumulative sums run per bucket in parallel, and each bucket is shifted
   * by the exclusive running total of the buckets before it. Boundary
   * estimation is the ONLY eager driver job; the per-bucket offsets ride
   * the caller's own action as a ≤`buckets`-row aggregate, cumulated in a
   * single (bounded) window partition and broadcast back onto the rows —
   * nothing is ever collected to the driver. A fixed distribution-blind
   * quantization could drop the boundary job too, but plausible key
   * distributions (doubles sharing an exponent) would then collapse into
   * one bucket and serialize the window on one task — the quantile job is
   * what buys skew-proof balance.
   *
   * The input is scanned three times (boundary quantiles, bucket totals,
   * the windowed pass — the last two inside the caller's single action) —
   * pass `materialize = true` when the input's columns
   * are expensive to compute (an exploded chunking, a semi-join): the frame
   * is then evaluated ONCE into executor storage shared by all three scans
   * and released as soon as the caller's first consuming action finishes.
   * Project the input to the needed columns first — the materialized rows
   * carry every input column. Without it the input must be DETERMINISTIC
   * under rescan: a frame whose rows differ between scans (an unordered
   * LIMIT, a `sample()`, rand-derived columns) can put a row in one bucket
   * during the totals pass and another during the windowed pass and produce
   * silently wrong sums — `materialize = true` also hard-closes that
   * hazard, since every scan reads the same snapshot.
   */
  def prefixSum(df: DataFrame, order: Seq[Column], value: Column,
      out: String, buckets: Int = 64, materialize: Boolean = false): DataFrame = {
    require(order.nonEmpty, "prefixSum needs at least one order column")
    require(buckets >= 1, "buckets must be positive")
    val spark = df.sparkSession
    val K = "__graft_pk__"
    val B = "__graft_pb__"
    val V = "__graft_pv__"
    // scale-adaptive bucket count (guide §2: derive partitioning from input
    // size, not a constant): the caller's `buckets` is a CEILING; the
    // resolved count targets `spark.graft.prefixSum.bucketBytes` (default
    // 8 MB) of estimated input per bucket, so a few-MB frame skips the
    // approxQuantile boundary job entirely (resolved = 1 ⇒ no boundary
    // probs, single-partition window — exact by construction: buckets only
    // refine the order, the sums are identical at ANY bucket count) while
    // a table-sized input keeps the full fan-out. No planner stats (the
    // sentinel) ⇒ the caller's ceiling stands.
    val resolvedBuckets = {
      val plan = df.queryExecution.optimizedPlan
      val bytes = plan.stats.sizeInBytes
      if (bytes >= BigInt(spark.sessionState.conf.defaultSizeInBytes)) buckets
      else {
        val target = spark.conf
          .get("spark.graft.prefixSum.bucketBytes", (8L << 20).toString).toLong
        def wantOf(b: BigInt): Long =
          ((b + target - 1) / target).min(BigInt(buckets)).toLong
        // floor by the LEAF scans' bytes: an intermediate
        // node's size estimate is an optimizer guess that can understate a
        // large input and silently collapse the window to one task — the
        // scan leaves' sizes are measurements (file-index bytes), so never
        // resolve below what they alone demand. Sums are bucket-count-
        // invariant, so the floor only ever costs a boundary job the
        // estimate wanted to skip, never correctness.
        val leafBytes = plan.collectLeaves().map(_.stats.sizeInBytes)
          .foldLeft(BigInt(0))(_ + _)
        val want = math.max(wantOf(bytes), wantOf(leafBytes))
        math.max(1L, math.min(buckets.toLong, want)).toInt
      }
    }
    val keyed0 = df
      .withColumn(K, order.head.cast("double"))
      .withColumn(V, coalesce(value.cast("long"), lit(0L)))
    val (keyed, keyedRdd) =
      if (materialize) {
        val (m, r) = org.apache.spark.sql.graft.Plans
          .materializeWithRdd(spark, keyed0)
        (m, Some(r))
      } else (keyed0, None)
    val probs = (1 until resolvedBuckets).map(_.toDouble / resolvedBuckets).toArray
    val bounds =
      if (probs.isEmpty) Array.empty[Double]
      else keyed.stat.approxQuantile(K, probs, 0.01).distinct.sorted
    // bucket = |{boundary ≤ key}| — monotone in the leading key, so bucket
    // order refines the total order and the per-bucket offsets compose
    val bucketOf: Column =
      if (bounds.isEmpty) lit(0)
      else size(filter(
        array(bounds.toSeq.map(lit(_)): _*), t => t <= col(K)))
    val bucketed = keyed.withColumn(B, bucketOf)
    // exclusive per-bucket offset, computed INSIDE the caller's action: the
    // ≤`buckets`-row aggregate cumulates in one bounded window partition and
    // broadcasts back — no driver collect, no second eager job
    val offsets = broadcast(
      bucketed.groupBy(col(B)).agg(sum(col(V)).as("__s__"))
        .withColumn("__graft_off__", coalesce(
          sum(col("__s__")).over(Window.orderBy(col(B))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select(col(B).as(B + "o"), col("__graft_off__")))
    val w = Window.partitionBy(col(B))
      .orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val result = bucketed
      .join(offsets, col(B) === col(B + "o"), "left")
      .withColumn(out, sum(col(V)).over(w) + coalesce(col("__graft_off__"), lit(0L)))
      .drop(K, B, V, B + "o", "__graft_off__")
    // the offsets and windowed passes (lazy, both inside the caller's
    // action) read the same materialized snapshot the boundary job
    // populated; release the storage right after that first action
    keyedRdd.foreach(
      org.apache.spark.sql.graft.Plans.releaseAfterFirstUse(spark, _))
    result
  }

  /**
   * Budget-capped greedy data selection (the "take the best documents until
   * the token budget is spent" step of assembling a training mix): rows are
   * taken in `priority` order while the running `tokens` total stays within
   * `budget`; the first overflowing row and everything after it are dropped.
   * `priority` must be a total order (unique tiebreaker).
   */
  def selectByTokenBudget(df: DataFrame, tokens: Column,
      priority: Seq[Column], budget: Long,
      materialize: Boolean = false): DataFrame = {
    require(budget >= 0, "budget must be non-negative")
    val C = "__graft_cum__"
    prefixSum(df, priority, tokens, C, materialize = materialize)
      .filter(col(C) <= budget).drop(C)
  }

  /**
   * Corpus-derived unigram language-model scores — the classic cheap LM
   * quality filter: per document, the mean log10 probability of its
   * whitespace tokens under the corpus's own unigram distribution.
   * Common-word prose scores high; gibberish, boilerplate and
   * wrong-language text score low.
   *
   * Scale shape: token frequencies are one map-side-combined groupBy
   * (shuffle ∝ distinct vocabulary, not corpus size). Scoring is
   * ADAPTIVELY tiered. When the vocabulary fits inside `headSize` (its row
   * count rides the same aggregate that computes the total, so knowing it
   * is free) the whole frequency table is broadcast in ONE join — the
   * tiered plan's distributed top-N, second join branch and union are pure
   * overhead when the tail tier would be empty by construction. For larger
   * vocabularies scoring is a TWO-TIER join: the `headSize` most frequent
   * tokens are broadcast — under a Zipf vocabulary they carry most of the
   * token mass, and the head token alone can be several percent of ALL
   * rows, i.e. one shuffle key — so only the long tail of rare tokens
   * rides the shuffle join, which then has no skewed keys by construction.
   * The tiering cannot change any value: `__tf__` and the total are
   * computed before the split, so head/tail rows score identically either
   * way. Only ONE row (total token count + vocabulary size) touches the
   * driver.
   *
   * Returns `idCol, n_tokens, logp` (mean log10 token probability).
   */
  def unigramLogProb(df: DataFrame, idCol: String, textCol: String,
      headSize: Int = 10000): DataFrame = {
    val toks = df
      .select(col(idCol), explode(split(trim(col(textCol)), "\\s+")).as("__tok__"))
      .filter(col("__tok__") =!= "")
    val freq = toks.groupBy(col("__tok__")).agg(count(lit(1)).as("__tf__"))
    // sum over an empty frequency table is NULL — an all-empty corpus must
    // yield an empty result, not an NPE (the join below is already empty;
    // the placeholder total never meets a row)
    val statsRow = freq.agg(sum(col("__tf__")), count(lit(1))).collect()(0)
    val total = if (statsRow.isNullAt(0)) 1L else statsRow.getLong(0)
    val vocabulary = statsRow.getLong(1)
    val scored = if (vocabulary <= headSize) {
      // the head tier would hold the ENTIRE vocabulary — broadcast it whole
      // in one join and skip the split
      toks.join(broadcast(freq), Seq("__tok__"))
    } else {
      // head tier: distributed top-N of the vocabulary
      // (TakeOrderedAndProject over the freq table, deterministic
      // tiebreak), broadcast to every task
      val head = freq.orderBy(col("__tf__").desc, col("__tok__")).limit(headSize)
      val tagged = toks.join(broadcast(head), Seq("__tok__"), "left")
      val headRows = tagged.filter(col("__tf__").isNotNull)
      // tail tier: rows whose token missed the head — joining the FULL freq
      // table is equivalent (head keys meet no stream rows) and skips an
      // anti-join over the vocabulary
      val tailRows = tagged.filter(col("__tf__").isNull).drop("__tf__")
        .join(freq, "__tok__")
      headRows.unionByName(tailRows)
    }
    scored
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        avg(log10(col("__tf__") / lit(total))).as("logp"))
  }

  /**
   * Deterministic training-mix rebalancing: subsample each stratum so the
   * output's per-stratum proportions match `targets` (normalized), keeping
   * every row of the binding stratum — the one already scarcest relative to
   * its target — and thinning the rest. Selection is a multiplicative hash
   * of `idCol` (Knuth 2654435761 mod 2^32) against a per-stratum threshold,
   * so membership is a pure row function: reproducible, layout-independent,
   * and restatable in plain SQL by any engine.
   *
   * Strata present in the data but absent from `targets` are dropped
   * (target share 0). Only the targeted strata's counts (at most one row
   * per target) reach the driver; the selection itself is one broadcast
   * join + filter, no shuffle of the corpus.
   *
   * `strataCol` may be any atomic type (int language codes, dates, …) —
   * it is keyed by its string form, so `targets` keys use the same
   * rendering (`cast(strata AS string)` in SQL terms). `idCol` must be
   * numeric: the selection hash is integer arithmetic.
   */
  def resampleToMix(df: DataFrame, strataCol: Column, idCol: Column,
      targets: Map[String, Double]): DataFrame = {
    require(targets.nonEmpty && targets.values.forall(_ >= 0) &&
      targets.values.sum > 0, "targets must be non-negative, not all zero")
    val spark = df.sparkSession
    val idType = df.select(idCol).schema.head.dataType
    require(idType.isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"resampleToMix id column must be numeric (selection hash is " +
        s"integer arithmetic); got ${idType.simpleString}")
    // key strata by their string form so any atomic stratum type works.
    // Only targeted strata are counted (the join below drops the rest), so
    // the collect holds at most `targets.size` rows.
    val sKey = strataCol.cast("string")
    val counts = df.filter(sKey.isin(targets.keys.toSeq: _*))
      .groupBy(sKey.as("__graft_s__")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // raw weight / count — no normalization: it cancels in ratio/maxR, and
    // skipping it keeps the arithmetic bit-identical to a SQL restatement
    // (a float sum over a Map's iteration order is not reproducible)
    val ratios = targets.flatMap { case (k, t) =>
      counts.get(k).filter(_ > 0).map(n => k -> t / n)
    }
    require(ratios.nonEmpty, "no targeted stratum present in the data")
    val maxR = ratios.values.max
    val thresholds = ratios.map { case (k, r) =>
      k -> math.floor(r / maxR * 4294967296.0).toLong
    }.toSeq
    import spark.implicits._
    val thrDf = broadcast(thresholds.toDF("__graft_s__", "__graft_thr__"))
    // (id mod 2^31) · K stays under 2^63, so the multiply never overflows
    // ANSI long arithmetic for any id
    val hash = pmod(
      pmod(idCol.cast("long"), lit(2147483648L)) * lit(2654435761L),
      lit(4294967296L))
    df.join(thrDf, sKey === col("__graft_s__"), "inner")
      .filter(hash < col("__graft_thr__"))
      .drop("__graft_s__", "__graft_thr__")
  }

  /**
   * Concat-and-chunk sequence packing (the standard GPT-style pretraining
   * packer): conceptually concatenate every row's tokens in `order` and cut
   * the stream every `seqTokens` tokens — a document may straddle a cut.
   * Emits the placement columns a writer needs to assemble fixed-length
   * training sequences without ever materializing the concatenated stream:
   * `token_offset` (global start position), `seq_first`/`seq_last` (ids of
   * the sequences the row spans; zero-token rows land on their boundary
   * with `seq_last = seq_first`), and `seq_offset` (start position within
   * `seq_first`). Placement is a pure function of the total order, so it is
   * reproducible and layout-independent.
   */
  def packSequences(df: DataFrame, tokens: Column, order: Seq[Column],
      seqTokens: Int, materialize: Boolean = false): DataFrame = {
    require(seqTokens > 0, "seqTokens must be positive")
    val C = "__graft_cum__"
    val t = coalesce(tokens.cast("long"), lit(0L))
    // integer `div`, not double division + floor: placements stay exact
    // past 2^53 total tokens
    prefixSum(df, order, tokens, C, materialize = materialize)
      .withColumn("token_offset", col(C) - t)
      .withColumn("seq_first", expr(s"token_offset div ${seqTokens}L"))
      .withColumn("seq_last",
        expr(s"greatest($C - 1L, token_offset) div ${seqTokens}L"))
      .withColumn("seq_offset", col("token_offset") % seqTokens)
      .drop(C)
  }

  /**
   * Per-key quota capping: keep at most `n` rows per `key`, the `n` with
   * the smallest `ord` (an integral column — a document id, a quantized
   * quality score). The web-pipeline staple "cap every domain at N pages"
   * that keeps one hot domain from dominating a corpus.
   *
   * Ties on `ord` are SAFE: each row gets a deterministic tiebreak (a
   * 64-bit hash of its full content), ranking is lexicographic on
   * (ord, tiebreak), and the membership join matches on both — so a mass
   * of equal quality scores still caps at exactly n. The contract is
   * EQUIVALENCE-CLASS capping: rows sharing a (key, ord, tiebreak) triple
   * are indistinguishable by value, and if such a class holds a winning
   * slot, ALL of its rows return. Under the default tiebreak the only
   * ambiguous class is bit-identical duplicate ROWS (run exact dedup
   * first if full rows can repeat); a CALLER-supplied tiebreak widens the
   * class to whatever it cannot distinguish — duplicate tiebreak values
   * among equal-ord rows (say, a content hash over rows that repeat) can
   * return more than n rows per key. Pass a per-row-unique tiebreak (a
   * row id) when the exact-n guarantee matters more than the narrow scan.
   *
   * Scale shape, in two skew-immune phases:
   *  1. `groupBy(key).agg(bounded_min_n(ord, tb, n))` — the custom
   *     aggregate's partial buffers are BOUNDED at n (ord, tiebreak)
   *     pairs per key per map task
   *     ([[org.apache.spark.sql.graft.BoundedMinN]]), so a key with a
   *     billion rows shuffles n pairs, where `collect_list` would OOM the
   *     partial and a `row_number()` window would shuffle and sort every
   *     payload row of the hot key into one task;
   *  2. a LEFT SEMI join of the input against the exploded
   *     (key, ord, tiebreak) winners — at most n·|keys| narrow rows. AQE
   *     broadcasts it when small; at scale it hash-joins on the
   *     near-unique triple, which no single hot key can skew.
   *
   * Rows with a NULL `ord` are never kept (they cannot be ranked); NULL
   * keys form their own capped group, matching `groupBy` semantics.
   * `smallest = false` keeps the n LARGEST `ord` instead — the
   * quality-score form ("keep each domain's n best-scoring pages", with
   * the score quantized to a long); a flag rather than caller-side
   * negation, which would corrupt `Long.MinValue`.
   */
  /**
   * @param tiebreak optional caller-supplied tiebreak column (a row id, a
   *            content hash already in the table). The default hashes
   *            EVERY column — always safe, but it forces the full row
   *            width into the winners aggregate's scan and computes the
   *            hash on both sides of the membership join; on a wide
   *            corpus table, passing the row key keeps phase 1 narrow
   *            (the same trade as the sampler's `rankCols`).
   */
  def capPerKey(df: DataFrame, key: Column, ord: Column, n: Int,
      smallest: Boolean = true, tiebreak: Option[Column] = None): DataFrame = {
    require(n > 0, s"capPerKey needs a positive cap, got $n")
    import org.apache.spark.sql.graft.{BoundedMinN, Exprs}
    val TB = "__graft_tb__"
    require(!df.columns.contains(TB),
      s"capPerKey reserves the column name $TB; rename the input column")
    // deterministic per-row tiebreak: by default, hash every input column
    // so equal ord values rank in a stable content-derived order (layout-
    // and partitioning-independent). Columns are referenced by their plan
    // ATTRIBUTES, not by name, so dotted or duplicate column names can't
    // mis-resolve. xxhash64 skips NULL children (the seed passes through
    // unchanged), so rows differing only in WHICH columns are null would
    // collide — the isNull flags (never null themselves) pin each
    // column's presence into the hash chain. Map-typed columns are
    // excluded (xxhash64 rejects MapType — its entry order is undefined);
    // their presence flags still participate, and callers who need map
    // CONTENT in the tiebreak pass one explicitly.
    val analyzed = df.queryExecution.analyzed.output
    val hashable = analyzed.filterNot(a => Exprs.containsMap(a.dataType))
    val attrs = hashable.map(Exprs.column) ++
      analyzed.map(a => Exprs.column(a).isNull)
    val defaultTb = if (attrs.isEmpty) lit(0L) else xxhash64(attrs: _*)
    // both phases must share one tiebreak convention, and that convention
    // must keep ties DISTINGUISHABLE: BoundedMinN ranks a null tiebreak as
    // 0, but the membership join's `=== __graft_t__` is null-rejecting — a
    // caller-supplied tiebreak whose cast('long') is NULL (a hex-string
    // content hash, say) would win aggregate slots yet never match the
    // join. Pinning {NULL, malformed}→a CONSTANT is no better: every
    // equal-ord row then carries the same (ord, tb) pair, the join matches
    // all of them, and the operator returns MORE than n rows per key. So
    // rows whose caller tiebreak doesn't cast fall back to the default
    // content hash — deterministic, distinct for non-identical rows, and
    // identical in both phases (the TRY cast avoids ANSI killing the job
    // on the first odd value).
    val tbCol = tiebreak
      .map(t => coalesce(Exprs.tryCastLong(t), defaultTb))
      .getOrElse(defaultTb)
    val withTb = df.withColumn(TB, coalesce(tbCol, lit(0L)))
    val ordLong = ord.cast("long")
    val keepCol = Exprs.column(
      BoundedMinN(Exprs.expression(ordLong), Exprs.expression(col(TB)),
        n, smallest).toAggregateExpression())
    val winners = withTb.groupBy(key.as("__graft_k__"))
      .agg(keepCol.as("__graft_keep__"))
      .select(col("__graft_k__"),
        explode(col("__graft_keep__")).as("__graft_w__"))
      .select(col("__graft_k__"),
        col("__graft_w__.o").as("__graft_o__"),
        col("__graft_w__.t").as("__graft_t__"))
    withTb.join(winners,
      key <=> col("__graft_k__") && ordLong === col("__graft_o__") &&
        col(TB) === col("__graft_t__"),
      "left_semi")
      .drop(TB)
  }
}
