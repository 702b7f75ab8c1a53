package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{MinHashSignature, SimHash64}

/**
 * Deduplication operators for training-data pipelines, all expressed as
 * declarative Spark plans (one shuffle per stage, map-side combined, no
 * driver loops):
 *
 *  - exact: hash-groupBy on content
 *  - MinHash + LSH banding: shingle → signature → band → bucket join
 *  - SimHash: 64-bit fingerprint + Hamming-ball candidate join
 *  - n-gram Jaccard: exact verification metric (column algebra)
 *
 * Scale notes: candidate generation never materializes the O(n²) pair space;
 * pairs only form inside LSH/SimHash buckets. Signature computation is O(n)
 * per document (rolling hashes). At 100 TB both stages are embarrassingly
 * parallel; the bucket join shuffles once on the bucket key, and AQE's skew
 * handling splits hot buckets.
 */
object Dedup {

  /** Exact dedup: keep the row with the smallest `idCol` per distinct
   * `contentCol` value. Two-phase min-id + semi-join rather than a window
   * rank: the groupBy is map-side combined so a pathologically duplicated
   * value (one text repeated 10⁹ times at corpus scale) never concentrates
   * its rows on a single task the way `Window.partitionBy(hash)` would.
   *
   * Identity is a 128-bit double hash (two independently seeded xxhash64),
   * not the content itself — the shuffle moves 16 bytes per distinct value,
   * never document payloads. A SINGLE 64-bit hash is not enough at corpus
   * scale: the birthday bound makes a false merge (two distinct documents
   * sharing one hash, the younger silently dropped) likely from ~10⁹ docs;
   * at 128 bits it stays negligible past 10¹⁵. The reseeding literal must
   * come FIRST: xxhash64 seed-CHAINS its children (hash(child2, seed =
   * hash(child1, 42))), so `xxhash64(content, lit)` would make the second
   * hash a pure function of the first — zero added protection. Leading
   * with the literal turns it into the effective seed for the content
   * hash. NULL content follows SQL
   * GROUP BY semantics — all null-content rows form one group and only the
   * min-id row survives (deliberately different from the NEAR-dup
   * operators, which drop null content: a jaccard-1.0 claim needs n-grams
   * to back it, exact grouping does not). */
  def exact(df: DataFrame, contentCol: String, idCol: String): DataFrame = {
    val keepers = df
      .groupBy(xxhash64(col(contentCol)).as("__graft_h1__"),
        xxhash64(lit(0x9e3779b9L), col(contentCol)).as("__graft_h2__"))
      .agg(min(col(idCol)).as(idCol))
      .select(col(idCol))
    df.join(keepers, Seq(idCol), "left_semi")
  }

  /** Filter candidate `(id_a, id_b)` pairs down to those whose content is
   * EXACTLY equal — without moving the content. Both fetch joins carry the
   * same 128-bit double-xxhash64 fingerprint [[exact]] keys on (16 bytes
   * per row) instead of the content itself; at corpus scale the full-text
   * verify fetch otherwise rivals the whole candidate pass (measured at
   * 500k docs: the two text joins were ~half of the q11 gate's 13.9 s —
   * this form cuts the fetch shuffle ~100× for kB-scale documents).
   * Fingerprint equality is content equality up to a ~2⁻¹²⁸ collision,
   * the contract [[exact]] already documents. NULL content matches
   * nothing (the fingerprint side is filtered, so null-content ids drop
   * out of the inner joins — same semantics as a raw `ta === tb` filter,
   * and never the hash-of-seed bucket xxhash64's null-skip would make).
   *
   * The fetch sides take the candidate-join strategy policy
   * ([[graft.core.CandidateJoin.maybeShuffleHash]]): at corpus scale the
   * ~24 B/doc fingerprint side sits right AT the broadcast threshold
   * (500k docs ≈ 12 MB) and AQE flips broadcast ↔ sort-merge run to run
   * (observed: q11 sf10u 13.6 vs 20.3 s, same code); the hint pins the
   * sortless shuffle-hash shape there, and the two fp exchanges
   * canonicalize identically so the fingerprint scan computes once.
   * Small corpora keep AQE's broadcast. */
  def verifyEqualContent(pairs: DataFrame, df: DataFrame, idCol: String,
      contentCol: String): DataFrame = {
    val outCols = pairs.columns.map(col).toIndexedSeq
    val fp = df.filter(col(contentCol).isNotNull).select(col(idCol),
      xxhash64(col(contentCol)).as("__h1__"),
      xxhash64(lit(0x9e3779b9L), col(contentCol)).as("__h2__"))
    val hint = graft.core.CandidateJoin.maybeShuffleHash(df) _
    pairs
      .join(hint(fp.select(col(idCol).as("id_a"), col("__h1__").as("__h1a__"),
        col("__h2__").as("__h2a__"))), "id_a")
      .join(hint(fp.select(col(idCol).as("id_b"), col("__h1__").as("__h1b__"),
        col("__h2__").as("__h2b__"))), "id_b")
      .filter(col("__h1a__") === col("__h1b__") &&
        col("__h2a__") === col("__h2b__"))
      .select(outCols: _*)
  }

  /** MinHash signature column (array<bigint>). */
  def minhashSignature(c: Column, numHashes: Int = 128, shingleK: Int = 5): Column =
    MinHashSignature(c, numHashes, shingleK)

  /**
   * LSH candidate pairs: band the signature (`bands` bands of
   * `numHashes/bands` rows), bucket-join on (band, bandHash), emit distinct
   * `(idA < idB)` pairs with the signature-estimated Jaccard.
   * No false negatives for identical content (equal signatures share every
   * bucket); collision probability for Jaccard j is `1-(1-j^r)^b` — the
   * default 16 bands × 8 rows puts the S-curve knee near j≈0.75, keeping
   * candidate volume low on corpora with high background similarity.
   */
  def lshCandidatePairs(
      df: DataFrame,
      idCol: String,
      contentCol: String,
      numHashes: Int = 128,
      bands: Int = 16,
      shingleK: Int = 5): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val sig = lshSignatures(df, idCol, contentCol, numHashes, shingleK)
    val pairIds = bandedPairIds(sig, numHashes, bands)
    // fetch signatures for the surviving pairs only (AQE broadcasts the
    // pair set when it is small) and score the estimated Jaccard — callers
    // that re-verify pairs by content should use [[lshCandidatePairIds]],
    // which skips both fetch joins (an inner join cannot be pruned away by
    // the optimizer even when est_jaccard goes unused)
    val sa = sig.select(col("id").as("id_a"), col("sig").as("sig_a"))
    val sb = sig.select(col("id").as("id_b"), col("sig").as("sig_b"))
    pairIds.join(sa, "id_a").join(sb, "id_b")
      .select(col("id_a"), col("id_b"),
        (aggregate(zip_with(col("sig_a"), col("sig_b"),
          (x, y) => when(x === y, 1).otherwise(0)),
          lit(0), (acc, v) => acc + v).cast("double") / lit(numHashes.toDouble))
          .as("est_jaccard"))
  }

  /** [[lshCandidatePairs]] without the signature-agreement score — just the
   * distinct `(id_a < id_b)` candidate ids. The right call when candidates
   * are verified downstream against the actual content (exact equality,
   * n-gram Jaccard, …): the verification never reads `est_jaccard`, and
   * skipping it removes two joins and two signature computations. */
  def lshCandidatePairIds(
      df: DataFrame,
      idCol: String,
      contentCol: String,
      numHashes: Int = 128,
      bands: Int = 16,
      shingleK: Int = 5): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    bandedPairIds(
      lshSignatures(df, idCol, contentCol, numHashes, shingleK),
      numHashes, bands)
  }

  private def lshSignatures(df: DataFrame, idCol: String, contentCol: String,
      numHashes: Int, shingleK: Int): DataFrame =
    // NULL content is excluded at the source: its signature is null, but
    // xxhash64(slice(null), band) in the banding stage skips the null child
    // and hashes the band index alone — every null-content doc would land
    // in the SAME bucket of every band. That is both wrong (the oracle
    // semantics: null joins/matches nothing) and, at corpus scale, a
    // quadratic hot bucket: 10⁶ null docs = 10¹² candidate pairs.
    graft.core.Fanout(df.filter(col(contentCol).isNotNull))
      .select(col(idCol).as("id"),
        minhashSignature(col(contentCol), numHashes, shingleK).as("sig"))

  /** The narrow banding join. No cache: an operator-internal persist leaks
   * executor storage past the query (the handle never escapes). Instead the
   * candidate join is (size-conditionally, [[graft.core.CandidateJoin]])
   * forced to a shuffle join over NARROW (band, bucket, id) rows — both
   * sides' exchanges are byte-identical, so exchange/stage reuse computes
   * the signatures ONCE in the shared shuffle map stage, and the 128-long
   * signatures never ride the candidate shuffle (16 bands × 1 KB per doc
   * otherwise — at corpus scale the banding shuffle must move ids, not
   * payloads). Over-occupancy buckets optionally degrade to neighbor
   * chains — see [[graft.core.HotBuckets]]. */
  private def bandedPairIds(sig: DataFrame, numHashes: Int,
      bands: Int): DataFrame = {
    val rows = numHashes / bands
    val banded = sig.select(col("id"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => xxhash64(slice(col("sig"), b * rows + lit(1), lit(rows)), b))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
    val hint = graft.core.CandidateJoin.maybeShuffleHash(sig) _
    def cliquePairs(rows: DataFrame): DataFrame = {
      val a = rows.select(col("band"), col("bucket"), col("id").as("id_a"))
      val b = rows.select(col("band"), col("bucket"), col("id").as("id_b"))
      hint(a).join(hint(b), Seq("band", "bucket"))
        .filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"))
    }
    val occCap = graft.core.HotBuckets.cap(sig)
    if (occCap <= 0) cliquePairs(banded).distinct()
    else {
      val (cold, hotPairs) = graft.core.HotBuckets.chainSplit(
        banded, Seq("band", "bucket"), "id", Nil, occCap)
      cliquePairs(cold).unionByName(hotPairs).distinct()
    }
  }

  /** SimHash fingerprint column (bigint). */
  def simhash(c: Column): Column = SimHash64(c)

  /** Blocking design for [[simhashPairs]]: split the 64-bit fingerprint
   * into `k` blocks and key each candidate table on a `(k - d)`-subset of
   * blocks (the block-permutation scheme of Manku, Jain & Das Sarma,
   * "Detecting Near-Duplicates for Web Crawling", WWW 2007). Pigeonhole:
   * a pair within Hamming ≤ d differs in ≤ d blocks, so at least one
   * (k-d)-subset is bit-identical and the pair shares that table's key.
   * Bigger k ⇒ more tables (C(k, k-d), linear blow-up) but WIDER keys
   * (64·(k-d)/k bits ⇒ exponentially fewer random collisions) — the knob
   * that killed q12's 1.32 scale slope: the old fixed 4×16-bit chunking is
   * exactly the k=4 point of this scheme, whose 16-bit keys saturate past
   * ~10⁵ docs (n²/2^16 candidates). Chosen points keep keys ≥ 32 bits at
   * d ≤ 4 and 24 bits at d = 5 (the table-count/key-width trade: d = 4's
   * C(8,4) = 70 tables cost a 70× linear row blow-up to cut random
   * collisions 2^16× vs the old chunking — the right side of the trade
   * from n ≈ 10⁵ up; measured d = 4 over 5k/50k/500k docs:
   * 1.5/4.6/16.5 s, log-log slopes 0.49/0.56. d = 5 at C(8,3) = 56
   * tables holds 24-bit keys, n²/2^24 residual noise, 4.6 s at 50k
   * docs). d = 0 degenerates to ONE table keyed on the
   * whole fingerprint (zero blocking noise — equal fingerprints only).
   * d ≥ 6 has NO point in this table with keys wide enough to avoid the
   * saturation disease (64/k-bit blocks shrink as k grows), so
   * [[simhashPairs]] rejects it rather than silently reverting to
   * narrow-key candidates that die at scale. */
  private def simhashBlocking(maxHamming: Int): (Int, Seq[Seq[Int]]) = {
    val k = maxHamming match {
      case 0 => 1
      case 1 => 2 // C(2,1) = 2 tables, 32-bit keys
      case 2 => 4 // C(4,2) = 6 tables, 32-bit keys
      case 3 => 6 // C(6,3) = 20 tables, 32-bit keys
      case 4 => 8 // C(8,4) = 70 tables, 32-bit keys
      case 5 => 8 // C(8,3) = 56 tables, 24-bit keys
      case d => throw new IllegalArgumentException(
        s"simhash blocking supports maxHamming in [0, 5]: $d")
    }
    val keep = k - math.min(maxHamming, k - 1)
    ((k, (0 until k).combinations(keep).map(_.toSeq).toSeq))
  }

  /** SimHash near-dup pairs within `maxHamming` bits of 64-bit Hamming
   * distance. Candidate generation blocks on (k-d)-subsets of fingerprint
   * blocks ([[simhashBlocking]] — Manku et al. 2007), so no O(n²) cross
   * join and ≥32-bit block keys at d ≤ 4 (24 bits at d = 5); the exact
   * `bit_count(xor)` verify decides membership, so the blocking design
   * changes candidate volume only, never the output pair set.
   * `maxHamming` is capped at 5: beyond it every block-permutation point
   * leaves keys so narrow (64/k-bit blocks) that random collisions grow
   * an n²/2^(small) term — the saturation disease the d ≤ 3 redesign
   * cured — and a 64-bit fingerprint at Hamming > 5 is no longer a
   * meaningful near-duplicate signal anyway (use MinHash banding with a
   * lower threshold for looser similarity). d = 5 itself carries an
   * implicit CORPUS ceiling its 24-bit keys impose: random collisions
   * grow ∝ n²/2²⁴ per table (×56 tables), ~3×10⁸ spurious candidates at
   * 10⁷ docs and unusable around 10⁸ — k = 8's block granularity offers
   * no wider key at this radius, so past ~10⁷ docs the honest tool for a
   * loose radius is [[lshCandidatePairs]], not d = 5 (measured points stop
   * at 5×10⁵ docs; d ≤ 4's 32-bit keys push the same wall out 2⁸×). */
  def simhashPairs(df: DataFrame, idCol: String, contentCol: String,
      maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 5,
      s"maxHamming must be in [0, 5] (wider radii saturate the blocking " +
        s"keys — use minhash/jaccard for looser similarity): $maxHamming")
    val (k, tables) = simhashBlocking(maxHamming)
    // block i = fingerprint bits [64i/k, 64(i+1)/k) (near-equal widths)
    val bounds = (0 to k).map(i => i * 64 / k)
    def blockCol(fpCol: Column, i: Int): Column = {
      val lo = bounds(i)
      val w = bounds(i + 1) - lo
      val sh = if (lo == 0) fpCol else shiftright(fpCol, lo)
      if (w >= 64) sh else sh.bitwiseAND(lit((1L << w) - 1))
    }
    // the self-join consumes the fingerprints on both sides, and the 64-bit
    // weighted-token hash dominates the stage — rather than caching (which
    // would leak storage past the query), force a shuffle join (size-
    // conditionally, [[graft.core.CandidateJoin]]): identical (chunk, ckey)
    // exchanges on both sides are stage-reused, so the fingerprints compute
    // once in the shared shuffle map stage
    // NULL content never participates: the old bit-slice keys were null for
    // a null fingerprint (null join keys never match), but xxhash64 SKIPS
    // null children — every null-fp row in table ti would share the
    // identical non-null key xxhash64(ti) and m null docs would explode
    // into m²/2 candidates per table before the verify drops them (the
    // round-10 xxhash64 null-skip trap, same guard as jaccardPairs)
    val fp = graft.core.Fanout(df)
      .filter(col(contentCol).isNotNull)
      .select(col(idCol).as("id"), simhash(col(contentCol)).as("fp"))
    // table ti's key = hash of its block subset's values (a hash collision
    // can only ADD candidates — the exact hamming verify removes them)
    val tableKeys = tables.zipWithIndex.map { case (t, ti) =>
      xxhash64((lit(ti) +: t.map(i => blockCol(col("fp"), i))): _*)
    }
    val chunked = fp.select(col("id"), col("fp"),
      posexplode(array(tableKeys: _*)))
      .withColumnRenamed("pos", "chunk").withColumnRenamed("col", "ckey")
    val hint = graft.core.CandidateJoin.maybeShuffleHash(fp) _
    val a = chunked.select(col("chunk"), col("ckey"), col("id").as("id_a"), col("fp").as("fp_a"))
    val b = chunked.select(col("chunk"), col("ckey"), col("id").as("id_b"), col("fp").as("fp_b"))
    hint(a).join(hint(b), Seq("chunk", "ckey"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("fp_a").bitwiseXOR(col("fp_b"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /**
   * Collapse duplicate pairs into clusters: connected components by the
   * alternating large-star / small-star algorithm (Kiveris et al.,
   * "Connected Components in MapReduce and Beyond", 2014). `pairs` holds
   * undirected edges (`id_a`, `id_b`); every id in `ids` gets a
   * `cluster_id` = the smallest id reachable from it (singletons map to
   * themselves).
   *
   * Each round is two join+min-aggregation passes over the edge set
   * (shuffle ∝ edge count, not corpus size), and rounds needed grow
   * O(log diameter) — a 1M-hop duplicate chain converges in ~20 rounds
   * where min-label propagation would need 10⁶. At convergence the edges
   * form stars rooted at each component's minimum id. Non-convergence
   * within the cap THROWS (silently returning a half-contracted graph
   * would split one component into several cluster_ids). Each round is
   * materialized into an RDD-backed frame, so lineage and plan depth stay
   * O(1) at any diameter; superseded rounds release their storage.
   */
  def connectedComponents(pairs: DataFrame, ids: DataFrame, idCol: String,
      maxIterations: Int = 20): DataFrame = {
    // only nodes touching an edge can ever move — iterate over the (usually
    // small) duplicate subgraph and left-join the untouched corpus back as
    // singletons at the end, so per-round shuffles scale with the duplicate
    // graph, not the corpus
    val spark = pairs.sparkSession
    def materialize(df: DataFrame)
        : (DataFrame, org.apache.spark.rdd.RDD[_ <: Any]) =
      org.apache.spark.sql.graft.Plans.materializeWithRdd(spark, df)

    // invariant: every edge points downward (src > dst)
    var (edges, edgesRdd) = materialize(
      pairs.filter(col("id_a") =!= col("id_b"))
        .select(greatest(col("id_a"), col("id_b")).as("src"),
          least(col("id_a"), col("id_b")).as("dst"))
        .distinct())

    // large-star: every node u links its LARGER neighbors to
    // m = min(N(u) ∪ {u}); small-star: u links its smaller neighbors and
    // itself to the local minimum. Alternating the two contracts any
    // component onto its minimum node in O(log d) rounds.
    def symmetric(e: DataFrame): DataFrame =
      e.unionByName(e.select(col("dst").as("src"), col("src").as("dst")))
    def largeStar(e: DataFrame): DataFrame = {
      val sym = symmetric(e)
      val m = sym.groupBy(col("src"))
        .agg(least(min(col("dst")), col("src")).as("m"))
      sym.filter(col("dst") > col("src"))
        .join(m, "src")
        .select(col("dst").as("src"), col("m").as("dst"))
        .filter(col("src") =!= col("dst"))
        .distinct()
    }
    def smallStar(e: DataFrame): DataFrame = {
      val small = symmetric(e).filter(col("dst") < col("src"))
      val m = small.groupBy(col("src"))
        .agg(least(min(col("dst")), col("src")).as("m"))
      val withM = small.join(m, "src")
      withM.select(col("dst").as("node"), col("m"))
        .unionByName(m.select(col("src").as("node"), col("m")))
        .filter(col("node") =!= col("m"))
        .select(col("node").as("src"), col("m").as("dst"))
        .distinct()
    }

    // carry each round's count forward — recounting the already-materialized
    // previous frame would spend an extra job per round
    var edgesCount = edges.count()
    // SIZE-GATED driver union-find: each alternating-star round costs
    // 2–3 jobs (materialize, count, and the left-anti check at the fixed
    // point), so a tiny duplicate graph — the common case after content
    // verification — pays ~10 scheduler round-trips to contract 20 edges.
    // When the deduplicated edge set is driver-bounded (≤ 65,536 edges
    // ≈ 1 MB of longs) and long-keyed, collect it
    // once, contract with union-find + per-component minimum, and emit the
    // SAME star forest the distributed fixed point produces ({(node, min):
    // node ≠ min}) as a broadcast-joined local relation. Larger graphs (or
    // non-long ids) take the distributed loop unchanged — the same
    // size-conditional policy class as the candidate join and the sampler
    // shard-rank. Output is identical by construction; PipelineSpec's
    // union-find-oracle test pins BOTH paths on random graphs.
    val idIsLong = edges.schema("src").dataType ==
      org.apache.spark.sql.types.LongType
    if (edgesCount > 0 && edgesCount <= 65536L && idIsLong) {
      val collected = edges.collect()
      edgesRdd.unpersist(blocking = false)
      val parent = new java.util.HashMap[Long, Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrDefault(r, r) != r) r = parent.get(r)
        // path compression
        var c = x
        while (parent.getOrDefault(c, c) != c) {
          val nxt = parent.get(c); parent.put(c, r); c = nxt
        }
        r
      }
      collected.foreach { row =>
        val a = find(row.getLong(0)); val b = find(row.getLong(1))
        if (a != b) parent.put(math.max(a, b), math.min(a, b))
      }
      // second pass: min id per component root (find() already returns the
      // smallest id in each tree because unions always root at the min)
      val starRows = new scala.collection.mutable.ArrayBuffer[
        org.apache.spark.sql.Row]()
      val seen = new java.util.HashSet[Long]()
      collected.foreach { row =>
        Seq(row.getLong(0), row.getLong(1)).foreach { n =>
          if (seen.add(n)) {
            val m = find(n)
            if (m != n) starRows +=
              org.apache.spark.sql.Row(n, m)
          }
        }
      }
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField(idCol,
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("cluster_id",
          org.apache.spark.sql.types.LongType)))
      val stars = spark.createDataFrame(
        new java.util.ArrayList(scala.jdk.CollectionConverters
          .SeqHasAsJava(starRows.toSeq).asJava), schema)
      return ids.select(col(idCol))
        .join(broadcast(stars), Seq(idCol), "left")
        .select(col(idCol),
          coalesce(col("cluster_id"), col(idCol)).as("cluster_id"))
    }
    var converged = edgesCount == 0
    var iter = 0
    while (!converged && iter < maxIterations) {
      val (next, nextRdd) = materialize(smallStar(largeStar(edges)))
      val nextCount = next.count()
      // equal edge sets ⇒ fixed point (both frames are distinct sets, so
      // equal counts + no new edge ⇒ identical)
      val changed = nextCount != edgesCount ||
        next.join(edges, Seq("src", "dst"), "left_anti").take(1).nonEmpty
      edgesRdd.unpersist(blocking = false)
      edges = next
      edgesRdd = nextRdd
      edgesCount = nextCount
      converged = !changed
      iter += 1
    }
    if (!converged) {
      // silently returning a half-contracted graph would split one
      // component into several cluster_ids — refuse instead
      edgesRdd.unpersist(blocking = false)
      throw new IllegalStateException(
        s"connectedComponents did not converge within $maxIterations " +
          "alternating star rounds (~log2 of the duplicate-chain " +
          "diameter needed); raise maxIterations")
    }
    // The final star forest cannot be dropped here (the join below is lazy)
    // — release it as soon as the caller's first consuming action finishes,
    // so no cache entry outlives the query.
    org.apache.spark.sql.graft.Plans.releaseAfterFirstUse(spark, edgesRdd)
    // fixed point = forest of stars rooted at each component's minimum id
    ids.select(col(idCol))
      .join(edges.withColumnRenamed("src", idCol)
        .withColumnRenamed("dst", "cluster_id"), Seq(idCol), "left")
      .select(col(idCol), coalesce(col("cluster_id"), col(idCol)).as("cluster_id"))
  }

  /** Word n-gram array of a text column (column algebra; no UDF). */
  def wordNgrams(c: Column, n: Int): Column = {
    val toks = split(lower(trim(c)), "\\s+")
    when(size(toks) < n, array(concat_ws(" ", toks)))
      .otherwise(transform(sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", slice(toks, i + lit(1), lit(n)))))
  }

  /** Exact n-gram Jaccard similarity between two text columns. Compares the
   * single-pass 64-bit gram hashes ([[WordNgramHashes]]) rather than gram
   * strings: set algebra over longs, immune to the codegen blowup of the
   * string version, and exact up to 2⁻⁶⁴ hash collisions. */
  def ngramJaccard(a: Column, b: Column, n: Int = 3): Column = {
    val ga = org.apache.spark.sql.graft.WordNgramHashes(a, n)
    val gb = org.apache.spark.sql.graft.WordNgramHashes(b, n)
    val inter = size(array_intersect(ga, gb)).cast("double")
    val union = size(array_union(ga, gb)).cast("double")
    when(union === 0, lit(0.0)).otherwise(inter / union)
  }

  /**
   * End-to-end near-dup pairs: LSH candidates verified by the exact n-gram
   * Jaccard, with the verification stage BOUNDED — the scale path for the
   * "LSH then verify" pattern, replacing the naive per-pair recompute
   * (join full texts onto every candidate pair and hash each text once per
   * pair it appears in — O(pairs × doclen), superlinear whenever candidate
   * volume outgrows the corpus, e.g. on a heavily duplicated crawl).
   *
   * Returns (`id_a` < `id_b`, `jaccard`); a pair is emitted iff its EXACT
   * n-gram Jaccard ≥ `threshold` (no estimate ever decides acceptance).
   * Three cost bounds:
   *
   *  1. **Equal-content fast path.** Candidate sides join a narrow
   *     (id, 128-bit content key) frame — the same double-xxhash64
   *     identity [[exact]] uses, so both identity paths share one
   *     collision budget (negligible past 10¹⁵ docs, vs birthday-likely
   *     from ~10⁹ on a single 64-bit hash); pairs with equal keys are
   *     Jaccard 1 by definition and emit without ANY gram work — on a
   *     duplicated corpus that is almost every candidate pair, and it
   *     reduces the verify stage to 16-byte compares.
   *  2. **Grams once per doc, not per pair.** Only docs appearing in a
   *     surviving non-equal pair get their gram set computed (semi-join
   *     before the gram projection), each exactly once — O(corpus) worst
   *     case, never O(pairs).
   *  2b. **One representative per id.** Output pairs are DISTINCT
   *     (id_a, id_b): ids are document keys, and a key that (illegally)
   *     appears on multiple rows resolves to its max-content-key row in
   *     BOTH phases — the pair frame collapses to one (ch_a, ch_b) per
   *     pair right after the narrow pair join (a shuffle over pairs, not
   *     corpus), and the gram stage picks the same representative before
   *     hashing. Without this, a key-duplicated corpus (a replicated
   *     crawl partition, a bad upstream join) fans the pair→gram joins
   *     out quadratically in the duplication factor — measured 10× the
   *     whole query on a 10×-replicated benchmark corpus.
   *  3. **Per-id candidate cap** (`maxPairsPerId`, DEFAULT 64): each id
   *     keeps at most that many candidate partners per side via a bounded
   *     heap (no skew-prone window sort), ranked (equal-content-first,
   *     then smallest partner id). Ranking equal-hash pairs ABOVE
   *     unverified near-dup candidates is what makes the connectivity
   *     guarantee unconditional: a sub-threshold LSH false positive can
   *     never evict an exact duplicate's pair from a cap slot (it ranks
   *     strictly below every eq pair), an exact-dup cluster is an eq-pair
   *     candidate CLIQUE, and each member's link to its immediate
   *     id-predecessor survives both side caps — so the consecutive-id
   *     chain keeps every exact-dup cluster connected under
   *     [[connectedComponents]] at any cap ≥ 1. NEAR-dup (non-equal)
   *     pairs have the weaker contract: a doc with more candidates than
   *     the cap reports only its highest-ranked partners, so recall of
   *     near-threshold pairs degrades on ids with pathological candidate
   *     fan-in. The cap is ON BY DEFAULT because the uncapped verify is
   *     the exact superlinear shape this operator exists to avoid — a
   *     boilerplate-heavy crawl routinely gives single ids 10⁴+ candidates,
   *     and 64 partners per side is far beyond any real near-dup degree
   *     while keeping the candidate shuffle O(cap × corpus). Pass 0 to
   *     opt out explicitly (exact recall on near-threshold pairs, unbounded
   *     candidate volume). Non-integral id columns are hashed to longs
   *     internally (xxhash64) for the heap's winners encoding and mapped
   *     back to the original ids on output; a 64-bit id collision (2⁻⁶⁴
   *     per pair — the same odds the eq fast path already accepts) merges
   *     the colliding ids' documents under one key for candidate purposes.
   *     NULL ids never pair (inner-join semantics, same as the integral
   *     path).
   *
   * The returned frame re-executes its (materialized-once, then released)
   * candidate DAG on every consuming action after the first — consume it
   * once, or persist it yourself before branching (same contract as
   * [[connectedComponents]]).
   */
  def jaccardPairs(
      df: DataFrame,
      idCol: String,
      contentCol: String,
      threshold: Double,
      n: Int = 3,
      numHashes: Int = 128,
      bands: Int = 16,
      shingleK: Int = 5,
      maxPairsPerId: Int = 64): DataFrame = {
    if (maxPairsPerId > 0) {
      // the cap's join-free winners encoding stores the partner id in a
      // long heap slot and reconstructs the pair from it — only lossless
      // for integral ids. Non-integral ids are hashed to longs up front
      // and mapped back on output (a plain cast would silently drop NULL
      // or corrupt "007" -> 7); integral ids skip all of that.
      val dt = df.schema(idCol).dataType
      val integral = dt.isInstanceOf[org.apache.spark.sql.types.LongType] ||
        dt.isInstanceOf[org.apache.spark.sql.types.IntegerType] ||
        dt.isInstanceOf[org.apache.spark.sql.types.ShortType] ||
        dt.isInstanceOf[org.apache.spark.sql.types.ByteType]
      if (!integral) {
        // NULL ids are dropped to match the integral path, where every
        // inner join on the id column already excludes them — without the
        // filter xxhash64(NULL) is a seed-only CONSTANT and all null-id
        // docs would merge under one key. The hashed run recurses into the
        // integral branch; the map-back join restores original ids and
        // re-canonicalizes (id_a < id_b) in the ORIGINAL type's ordering
        // (hash order is not id order). A 64-bit collision between two
        // distinct ids (2⁻⁶⁴ per pair) merges them for candidate purposes
        // and fans the map-back join out across the colliding ids —
        // documented, same budget as the eq fast path.
        val hid = "__graft_hid__"
        val base = df.filter(col(idCol).isNotNull)
          .select(col(idCol), col(contentCol))
        val hashed = base.select(xxhash64(col(idCol)).as(hid), col(contentCol))
        val inner = jaccardPairs(hashed, hid, contentCol, threshold,
          n, numHashes, bands, shingleK, maxPairsPerId)
        val mapping = base.select(xxhash64(col(idCol)).as(hid), col(idCol))
          .distinct()
        return inner
          .join(mapping.select(col(hid).as("id_a"), col(idCol).as("__graft_oa__")), "id_a")
          .join(mapping.select(col(hid).as("id_b"), col(idCol).as("__graft_ob__")), "id_b")
          .select(
            least(col("__graft_oa__"), col("__graft_ob__")).as("id_a"),
            greatest(col("__graft_oa__"), col("__graft_ob__")).as("id_b"),
            col("jaccard"))
      }
    }
    // NULL content never participates: xxhash64 skips null children (the
    // seed passes through), so without this filter every null-content doc
    // would share one content hash AND one minhash-band bucket — the eq
    // fast path below would then report all null-content pairs as exact
    // duplicates (jaccard 1.0) where the n-gram verify they bypass
    // evaluates NULL and drops them. The contract is the gram verify's:
    // a doc with no content has no n-grams and duplicates nothing.
    val docs = df.filter(col(contentCol).isNotNull)
    val cands0 =
      lshCandidatePairIds(docs, idCol, contentCol, numHashes, bands, shingleK)
    // the content identity is the SAME 128-bit double hash [[exact]] uses
    // (reseeding literal FIRST — see exact's seed-chaining note), not a
    // single xxhash64: the eq fast path emits jaccard 1.0 on this identity
    // alone, and at corpus scale a lone 64-bit hash makes a false "exact
    // duplicate" a birthday certainty from ~10⁹ docs. Struct comparison
    // and struct max keep the rest of the plan unchanged.
    val contentKey = struct(
      xxhash64(col(contentCol)).as("h1"),
      xxhash64(lit(0x9e3779b9L), col(contentCol)).as("h2"))
    val meta = docs.select(col(idCol).as("id"), contentKey.as("ch"))
    // attach content hashes BEFORE capping: the cap ranks equal-content
    // pairs first (doc bound 3), and the eq/rest split below reuses the
    // same flag. Collapse duplicate-id fan-out to the max-hash
    // representative per pair (doc bound 2b) in the same aggregation —
    // on a unique-id corpus it is a no-op over the already-narrow frame.
    val withEq = cands0
      .join(meta.select(col("id").as("id_a"), col("ch").as("ch_a")), "id_a")
      .join(meta.select(col("id").as("id_b"), col("ch").as("ch_b")), "id_b")
      .groupBy(col("id_a"), col("id_b"))
      .agg((max(col("ch_a")) === max(col("ch_b"))).as("__graft_eq__"))
    val cands = if (maxPairsPerId <= 0) withEq else {
      // join-free capping: a pair IS (key, partner), so the bounded-heap
      // winners are the capped pair set directly — capPerKey's membership
      // join would re-execute the whole LSH candidate DAG once per phase
      // (measured 4x the query at sf0.1); this is one aggregation per side
      // over narrow pairs, partial buffers bounded at 2·maxPairsPerId
      // longs per key per map task
      capPairSide(capPairSide(withEq, "id_a", "id_b", maxPairsPerId),
        "id_b", "id_a", maxPairsPerId)
    }
    // materialize the narrow (id_a, id_b, eq) pair frame ONCE: the
    // eq/rest/gram branches below consume it 4+ times, and without a
    // snapshot each branch re-executes the LSH candidate DAG (exchange
    // reuse only dedupes the shuffles, not the join stages above them —
    // measured 3x the query at sf0.1). Pairs are orders of magnitude
    // smaller than the corpus; released right after the caller's first
    // consuming action, same hygiene as [[connectedComponents]].
    val spark = df.sparkSession
    val (paired, pairedRdd) =
      org.apache.spark.sql.graft.Plans.materializeWithRdd(spark, cands)
    org.apache.spark.sql.graft.Plans.releaseAfterFirstUse(spark, pairedRdd)
    val eq = paired.filter(col("__graft_eq__"))
      .select(col("id_a"), col("id_b"), lit(1.0).as("jaccard"))
      .filter(col("jaccard") >= threshold)
    val rest = paired.filter(!col("__graft_eq__"))
      .select(col("id_a"), col("id_b"))
    val restIds = rest
      .select(explode(array(col("id_a"), col("id_b"))).as("id")).distinct()
    // semi-join BEFORE the gram projection: grams are computed only for
    // docs that actually appear in a non-equal surviving pair
    val grams = docs.select(col(idCol).as("id"), col(contentCol).as("__graft_c__"))
      .join(restIds, Seq("id"), "left_semi")
      // same representative convention as the pair frame (doc bound 2b):
      // ONE gram row per id, picked by max 128-bit content key (the SAME
      // struct ordering the pair frame's max(ch) uses — a different key
      // here could verify a different row than the one the eq flag was
      // computed from), so the verify joins below cannot fan out — the
      // groupBy runs on the post-semi-join set (≤ 2·|rest pairs| docs),
      // never the corpus
      .groupBy(col("id"))
      .agg(max_by(col("__graft_c__"),
        struct(xxhash64(col("__graft_c__")),
          xxhash64(lit(0x9e3779b9L), col("__graft_c__"))))
        .as("__graft_c__"))
      .select(col("id"),
        org.apache.spark.sql.graft.WordNgramHashes(col("__graft_c__"), n).as("g"))
    // WordNgramHashes emits DISTINCT gram hashes and at least one gram for
    // any non-null text, so |A∪B| = |A|+|B|−|A∩B| ≥ 1 — no 0/0 guard needed
    val inter = size(array_intersect(col("g_a"), col("g_b"))).cast("double")
    val union = (size(col("g_a")) + size(col("g_b"))).cast("double") - inter
    val verified = rest
      .join(grams.select(col("id").as("id_a"), col("g").as("g_a")), "id_a")
      .join(grams.select(col("id").as("id_b"), col("g").as("g_b")), "id_b")
      .select(col("id_a"), col("id_b"), (inter / union).as("jaccard"))
      .filter(col("jaccard") >= threshold)
    eq.unionByName(verified)
  }

  /** Keep each `key`'s `n` best `(eq-first, smallest partner)` pairs: one
   * bounded-heap aggregation over (ord = eq?0:1, tb = partner id) with the
   * winners exploded straight back into pairs (a pair is fully determined
   * by (key, partner), so no membership join). Ranking equal-content pairs
   * above unverified candidates is what keeps exact-dup cliques connected
   * at any cap (doc bound 3 of [[jaccardPairs]]). The partner rides the
   * heap's tiebreak slot, so the id column must be integral (validated by
   * the caller); the eq flag is reconstructed from the winning ord. */
  private def capPairSide(pairs: DataFrame, key: String, partner: String,
      n: Int): DataFrame = {
    import org.apache.spark.sql.graft.{BoundedMinN, Exprs}
    val partnerType = pairs.schema(partner).dataType
    val ord = when(col("__graft_eq__"), lit(0L)).otherwise(lit(1L))
    val keep = Exprs.column(BoundedMinN(Exprs.expression(ord),
      Exprs.expression(col(partner).cast("long")), n,
      smallest = true).toAggregateExpression())
    pairs.groupBy(col(key)).agg(keep.as("__graft_keep__"))
      .select(col(key), explode(col("__graft_keep__")).as("__graft_w__"))
      .select(col(key),
        col("__graft_w__.t").cast(partnerType).as(partner),
        (col("__graft_w__.o") === 0L).as("__graft_eq__"))
      .select(col("id_a"), col("id_b"), col("__graft_eq__"))
  }
}
