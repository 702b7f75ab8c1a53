package graft.ann

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ParamLiteral
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType}

/**
 * Similarity search over an embedding column (`array<float>`):
 *
 *  - brute-force cosine top-k (exact baseline) — a single scan with a
 *    codegen'd dot product, `O(n·d)`, the right answer up to ~10⁸ vectors
 *    per query batch on a cluster;
 *  - random-hyperplane LSH bucketing (the scale path): H sign bits from
 *    seeded hyperplanes → bucket id; queries probe their bucket plus all
 *    Hamming-1 neighbors, then re-rank candidates exactly. Index build is
 *    one narrow pass; per-query work drops by ~2^H.
 *
 * Vector math runs in fused single-pass Catalyst expressions
 * (CosineToQuery/CosineSim/HyperplaneBucket/NearestCentroid) — no UDFs, no
 * driver-side loops over vectors, no codegen blowup from per-dimension
 * lambda algebra.
 */
object Ann {

  private val log = org.slf4j.LoggerFactory.getLogger(Ann.getClass)

  /** Row shapes for the grouped pair-emit walk (Product encoders — the
   * names match the banded frame's columns so `groupBy(...).as[K, T]`
   * binds by name, no row copies beyond the required object boundary). */
  private[graft] final case class BandedIdRow(band: Int, bucket: Long,
      id: Long)
  private[graft] final case class BandedStatsRow(band: Int, bucket: Long,
      id: Long, code: Array[Byte], norm: Double, err: Double)
  private[graft] final case class IdPair(id_a: Long, id_b: Long)

  /** Lazy `i < j` pair enumeration over ids sorted ascending — strict
   * `<` (equal ids never pair, matching the join form's `id_a < id_b`),
   * lazy so an uncapped hot bucket's occ²/2 pairs stream instead of
   * buffering (the join form streams them too). `accept(i, j)` is the
   * per-pair filter hook (the ADC bound; always-true on the raw path). */
  private def pairIterator[T](n: Int, idAt: Int => Long,
      accept: (Int, Int) => Boolean): Iterator[IdPair] =
    new scala.collection.AbstractIterator[IdPair] {
      private var i = 0
      private var j = 1
      private var ready: IdPair = _
      private var has = false
      private def advance(): Unit = {
        has = false
        while (!has && i < n - 1) {
          if (j < n) {
            if (idAt(i) < idAt(j) && accept(i, j)) {
              ready = IdPair(idAt(i), idAt(j)); has = true
            }
            j += 1
          } else { i += 1; j = i + 1 }
        }
      }
      advance()
      override def hasNext: Boolean = has
      override def next(): IdPair = { val r = ready; advance(); r }
    }

  /** Grouped pair-emit, raw form: one exchange + one per-group walk in
   * place of the bucket self-join (see the policy note in
   * [[cosineDedupPairs]]). `banded` must carry (band, bucket, id: long). */
  private def groupedIdPairs(banded: DataFrame): DataFrame = {
    import org.apache.spark.sql.Encoders
    val ds = banded.filter(col("id").isNotNull)
      .select(col("band"), col("bucket"), col("id"))
      .as[BandedIdRow](Encoders.product[BandedIdRow])
    ds.groupBy(col("band"), col("bucket"))
      .as[(Int, Long), BandedIdRow](
        Encoders.tuple(Encoders.scalaInt, Encoders.scalaLong),
        Encoders.product[BandedIdRow])
      .flatMapGroups { (_: (Int, Long), it: Iterator[BandedIdRow]) =>
        val ids = it.map(_.id).toArray
        java.util.Arrays.sort(ids)
        pairIterator(ids.length, ids(_), (_, _) => true)
      }(Encoders.product[IdPair])
      .toDF()
  }

  /** Grouped pair-emit, ADC form: the per-pair cosine upper bound runs
   * INSIDE the group walk — each member's stats struct is decoded once
   * per group instead of riding every candidate pair row through a join
   * filter. Arithmetic is [[org.apache.spark.sql.graft.PqCosineUpperBound
   * .boundValue]] itself, so the kept pair set is identical to the join
   * form's by construction. */
  private def groupedAdcPairs(banded: DataFrame, gram: Array[Array[Double]],
      k: Int, threshold: Double): DataFrame = {
    import org.apache.spark.sql.Encoders
    val thr = threshold - AdcFpEps
    val ds = banded.filter(col("id").isNotNull)
      .select(col("band"), col("bucket"), col("id"),
        col("s.code").as("code"), col("s.norm").as("norm"),
        col("s.err").as("err"))
      .as[BandedStatsRow](Encoders.product[BandedStatsRow])
    ds.groupBy(col("band"), col("bucket"))
      .as[(Int, Long), BandedStatsRow](
        Encoders.tuple(Encoders.scalaInt, Encoders.scalaLong),
        Encoders.product[BandedStatsRow])
      .flatMapGroups { (_: (Int, Long), it: Iterator[BandedStatsRow]) =>
        val members = it.toArray
        java.util.Arrays.sort(members,
          Ordering.by((r: BandedStatsRow) => r.id))
        pairIterator(members.length, members(_).id, (i, j) => {
          val a = members(i); val b = members(j)
          org.apache.spark.sql.graft.PqCosineUpperBound.boundValue(
            a.code, a.norm, a.err, b.code, b.norm, b.err, gram, k) >= thr
        })
      }(Encoders.product[IdPair])
      .toDF()
  }

  /** Cosine similarity between an array<float/double> column and a literal
   * query vector, computed in double (fused-loop expression — same
   * accumulation order as the former zip_with/aggregate algebra). */
  def cosineToQuery(vec: Column, query: Array[Float]): Column =
    org.apache.spark.sql.graft.CosineToQuery(vec, query.map(_.toDouble))

  /** Cosine similarity between two vector columns (double). */
  def cosine(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.CosineSim(a, b)

  /** Exact top-k cosine neighbors of `query`. */
  def bruteForceKnn(df: DataFrame, idCol: String, vecCol: String,
      query: Array[Float], k: Int): DataFrame =
    graft.core.Fanout(df)
      .select(col(idCol), cosineToQuery(col(vecCol), query).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol))
      .limit(k)

  /** Seeded random hyperplanes (dim × numPlanes), deterministic. */
  def hyperplanes(dim: Int, numPlanes: Int, seed: Long = 7L): Array[Array[Double]] = {
    val rng = new java.util.SplittableRandom(seed)
    Array.fill(numPlanes)(Array.fill(dim)(rng.nextGaussian()))
  }

  /** Sign-bit bucket id of a vector column under the given hyperplanes
   * (one fused pass per plane — see HyperplaneBucket). */
  def lshBucket(vec: Column, planes: Array[Array[Double]]): Column =
    org.apache.spark.sql.graft.HyperplaneBucket(vec, planes)

  private def bucketOf(query: Array[Float], planes: Array[Array[Double]]): Long =
    planes.zipWithIndex.map { case (p, i) =>
      val dot = p.zip(query).map { case (a, b) => a * b.toDouble }.sum
      if (dot >= 0) 1L << i else 0L
    }.sum

  /**
   * Approximate top-k: probe the query's bucket and all Hamming-1 buckets
   * (multiprobe), re-rank candidates by exact cosine. Recall rises with
   * fewer planes / more probes; cost falls with more planes.
   */
  def lshKnn(df: DataFrame, idCol: String, vecCol: String, query: Array[Float],
      k: Int, numPlanes: Int = 8, seed: Long = 7L, probeRadius: Int = 1): DataFrame = {
    val planes = hyperplanes(query.length, numPlanes, seed)
    val qb = bucketOf(query, planes)
    val h1 = (0 until numPlanes).map(i => qb ^ (1L << i))
    val h2 = if (probeRadius >= 2) {
      for (i <- 0 until numPlanes; j <- (i + 1) until numPlanes)
        yield qb ^ (1L << i) ^ (1L << j)
    } else Seq.empty
    val probes = (qb +: (h1 ++ h2)).distinct
    val bucketed = graft.core.Fanout(df)
      .withColumn("__graft_bucket__", lshBucket(col(vecCol), planes))
    bucketed
      .filter(ParamLiteral.isIn(col("__graft_bucket__"), probes, LongType))
      .select(col(idCol), cosineToQuery(col(vecCol), query).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol))
      .limit(k)
  }

  // ---------------------------------------------------------------------------
  // IVF (inverted-file) index: coarse k-means-style quantization. Centroids
  // are hash-sampled deterministically, refined by Lloyd iterations run as
  // ordinary joins+aggregations; search probes the nprobe nearest centroids
  // and re-ranks exactly. The scale path for corpus-sized ANN: index build
  // is O(n·C) distributed work once, each query touches ~n·nprobe/C vectors.
  // ---------------------------------------------------------------------------

  /** Build an IVF index: returns (assignedDf = df + `__graft_cluster__`,
   * centroids).
   *
   * The build runs several actions over the corpus (seed-centroid collect,
   * one aggregation per Lloyd iteration, the caller's probe scans), so the
   * Fanout-widened corpus is persisted for the duration of the build and
   * the returned `assignedDf` is persisted + materialized — an index that
   * rescans 100 TB of parquet once per action is not an index. Callers
   * release it with `assignedDf.unpersist()` when the index is retired;
   * repeated builds over a plan-equal corpus reuse the cache entry. */
  def ivfIndex(df: DataFrame, idCol: String, vecCol: String, nClusters: Int,
      lloydIterations: Int = 1, seed: Long = 7L): (DataFrame, Array[Array[Double]]) = {
    // deterministic seed centroids: the nClusters rows with smallest content
    // hash (uniform pseudo-random yet reproducible)
    val src = graft.core.Fanout(df)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var centroids: Array[Array[Double]] =
      src.select(col(vecCol)).withColumn("__h__", xxhash64(col(vecCol), lit(seed)))
        .orderBy(col("__h__")).limit(nClusters)
        .collect().map(_.getSeq[Float](0).map(_.toDouble).toArray)

    // assignment is a pure map: the codebook travels inside the expression,
    // so no centroid join, no per-id window, no shuffle (see NearestCentroid)
    def assign(d: DataFrame): DataFrame =
      d.withColumn("__graft_cluster__",
        org.apache.spark.sql.graft.NearestCentroid(col(vecCol), centroids))

    (0 until lloydIterations).foreach { _ =>
      // centroid update: per-dimension means via posexplode (C × dim rows).
      // One cached-corpus scan per iteration — the assignment map fuses into
      // this aggregation, so no separate assignment pass is materialized.
      val dims = assign(src).select(col("__graft_cluster__"),
          posexplode(transform(col(vecCol), x => x.cast("double"))))
        .groupBy(col("__graft_cluster__"), col("pos"))
        .agg(avg(col("col")).as("m"))
        .collect()
      val byCluster = dims.groupBy(_.getInt(0))
      centroids = centroids.indices.map { cid =>
        byCluster.get(cid) match {
          case Some(rows) => rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toArray
          case None => centroids(cid)
        }
      }.toArray
    }
    val assigned = assign(src)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    assigned.count() // materialize the final assignment, then drop the raw corpus
    src.unpersist(blocking = false)
    (assigned, centroids)
  }

  /** Approximate top-k via an IVF index: probe the `nprobe` nearest
   * centroids, re-rank candidates exactly. */
  def ivfKnn(assigned: DataFrame, centroids: Array[Array[Double]], idCol: String,
      vecCol: String, query: Array[Float], k: Int, nprobe: Int = 4): DataFrame =
    probeClusters(assigned, centroids, query, nprobe)
      .select(col(idCol), cosineToQuery(col(vecCol), query).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol))
      .limit(k)

  /** The rows of the `nprobe` clusters whose centroids are nearest `query`
   * (squared L2). The cluster ids are [[ParamLiteral]]s, so every probe
   * shares one generated plan while parquet still pushes the `In` down and
   * a cached index still prunes its batches by it. */
  private def probeClusters(indexed: DataFrame, centroids: Array[Array[Double]],
      query: Array[Float], nprobe: Int): DataFrame = {
    require(query.length == centroids(0).length, s"query dimension " +
      s"${query.length} differs from the centroid dimension ${centroids(0).length}")
    val q = query.map(_.toDouble)
    val nearest = centroids.zipWithIndex
      .map { case (c, i) =>
        (i, c.zip(q).map { case (a, b) => (a - b) * (a - b) }.sum)
      }
      .sortBy(_._2).take(nprobe).map(_._1).toSeq
    indexed.filter(ParamLiteral.isIn(col("__graft_cluster__"), nearest, IntegerType))
  }

  // ---------------------------------------------------------------------------
  // Product quantization (Jégou et al., TPAMI 2011): the memory-compression
  // scale path. Codebooks train on a bounded hash-sampled subset
  // driver-side (standard practice — the codebook is m·k·dsub doubles and
  // sampling bounds training cost regardless of corpus size); encoding is
  // one fused distributed pass emitting m bytes per vector; search scans
  // ONLY the codes with a broadcast ADC lookup table and re-ranks the few
  // survivors exactly. At 100 TB of fp32 embeddings the candidate scan
  // touches ~1/256 of the bytes.
  // ---------------------------------------------------------------------------

  /** Per-subspace codebooks: `centroids(j)(c)` is centroid c of subspace j. */
  final case class PqCodebooks(m: Int, dsub: Int,
      centroids: Array[Array[Array[Double]]])

  /** Train PQ codebooks with per-subspace Lloyd iterations over a
   * deterministic hash-sampled training set of at most `trainN` vectors. */
  def pqTrain(df: DataFrame, vecCol: String, m: Int = 8, k: Int = 64,
      iterations: Int = 10, seed: Long = 7L, trainN: Int = 10000): PqCodebooks = {
    val sample: Array[Array[Double]] = df.select(col(vecCol))
      .withColumn("__h__", xxhash64(col(vecCol), lit(seed)))
      .orderBy(col("__h__")).limit(trainN)
      .collect().map(_.getSeq[Float](0).map(_.toDouble).toArray)
    require(sample.nonEmpty, "pqTrain: empty training set")
    val dim = sample(0).length
    require(dim % m == 0, s"pqTrain: dim $dim not divisible by m=$m")
    require(k <= 256, "pqTrain: byte codes need k <= 256")
    val dsub = dim / m
    val centroids = Array.tabulate(m) { j =>
      val subs = sample.map(v => java.util.Arrays.copyOfRange(v, j * dsub, (j + 1) * dsub))
      var cents = subs.map(_.toSeq).distinct.take(k).map(_.toArray).toArray
      (0 until iterations).foreach { _ =>
        val sums = Array.fill(cents.length)(new Array[Double](dsub))
        val counts = new Array[Long](cents.length)
        subs.foreach { s =>
          var best = 0; var bestD = Double.MaxValue
          var c = 0
          while (c < cents.length) {
            var d = 0.0; var i = 0
            while (i < dsub) { val x = s(i) - cents(c)(i); d += x * x; i += 1 }
            if (d < bestD) { bestD = d; best = c }
            c += 1
          }
          var i = 0
          while (i < dsub) { sums(best)(i) += s(i); i += 1 }
          counts(best) += 1
        }
        cents = cents.indices.map { c =>
          if (counts(c) == 0) cents(c)
          else sums(c).map(_ / counts(c))
        }.toArray
      }
      cents
    }
    PqCodebooks(m, dsub, centroids)
  }

  /** Encode vectors to m-byte PQ codes plus the stored true norm (used to
   * turn the ADC inner product into an approximate cosine). */
  def pqEncode(df: DataFrame, vecCol: String, cb: PqCodebooks): DataFrame =
    graft.core.Fanout(df)
      .withColumn("__graft_pq__",
        org.apache.spark.sql.graft.PqEncode(col(vecCol), cb.centroids))
      .withColumn("__graft_vnorm__",
        org.apache.spark.sql.graft.VecNorm(col(vecCol)))

  /** Approximate top-k over PQ codes: ADC candidate scan (codes + norms
   * only), exact cosine re-rank of the top `k × rerankFactor` survivors. */
  def pqKnn(encoded: DataFrame, cb: PqCodebooks, idCol: String, vecCol: String,
      query: Array[Float], k: Int, rerankFactor: Int = 4): DataFrame = {
    require(query.length == cb.m * cb.dsub, s"query dimension ${query.length} " +
      s"differs from the codebook dimension ${cb.m * cb.dsub}")
    val q = query.map(_.toDouble)
    val qnorm = ParamLiteral(math.sqrt(q.map(x => x * x).sum), DoubleType)
    val luts = Array.tabulate(cb.m) { j =>
      Array.tabulate(cb.centroids(j).length) { c =>
        val cent = cb.centroids(j)(c)
        var s = 0.0; var i = 0
        while (i < cb.dsub) { s += q(j * cb.dsub + i) * cent(i); i += 1 }
        s
      }
    }
    val adc = org.apache.spark.sql.graft.PqAdcDot(col("__graft_pq__"), luts)
    val approxCos = when(col("__graft_vnorm__") === 0.0 || qnorm === 0.0, -1.0)
      .otherwise(adc / (col("__graft_vnorm__") * qnorm))
    // The ADC ranking scan must stay narrow — (id, code, norm) only, never
    // the fp32 vectors PQ exists to avoid reading. At 100 TB that is the
    // difference between scanning m bytes/row and scanning the full
    // embedding column. Only the k × rerankFactor survivors (a bounded,
    // broadcast-sized set) go back to the encoded frame for exact cosine.
    val candidateIds = encoded
      .select(col(idCol), approxCos.as("__graft_adc__"))
      .orderBy(col("__graft_adc__").desc, col(idCol))
      .limit(k * rerankFactor)
      .select(col(idCol))
    encoded
      .join(broadcast(candidateIds), Seq(idCol), "left_semi")
      .select(col(idCol), cosineToQuery(col(vecCol), query).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol))
      .limit(k)
  }

  /** IVF-PQ (the standard pairing): the coarse quantizer prunes the corpus
   * to `nprobe` clusters, PQ codes rank the survivors without touching a
   * single original vector, and only the top `k × rerankFactor` are
   * re-ranked exactly. `indexed` is `pqEncode(ivfIndex(...)._1, ...)` —
   * cluster id + m-byte code + stored norm per row. At scale the probe
   * reads `~n·nprobe/C` code rows (m bytes each) and `k × rerankFactor`
   * full vectors. */
  def ivfPqKnn(indexed: DataFrame, centroids: Array[Array[Double]],
      cb: PqCodebooks, idCol: String, vecCol: String, query: Array[Float],
      k: Int, nprobe: Int = 4, rerankFactor: Int = 4): DataFrame =
    pqKnn(probeClusters(indexed, centroids, query, nprobe),
      cb, idCol, vecCol, query, k, rerankFactor)

  /** Embedding near-duplicate pairs: BANDED hyperplane-LSH candidate join +
   * exact cosine threshold (the embedding analogue of MinHash banding —
   * same OR-of-ANDs S-curve, same reason: a single sign-bit bucket has no
   * recall knob independent of its precision knob).
   *
   * One fused pass computes `bands x numPlanes` sign bits per vector
   * ([[org.apache.spark.sql.graft.HyperplaneBandBuckets]], an
   * `array<long>` of per-band words — bit-identical to the former single
   * fused 64-bit signature's bit-slices, without its 64-plane total cap);
   * band i's bucket key is element i. A pair is a
   * candidate iff it agrees on ALL planes of AT LEAST ONE band, so for
   * angle θ the recall is `1-(1-(1-θ/π)^numPlanes)^bands` while random
   * unrelated pairs collide at ~`bands·2^-numPlanes`. The fixed form's
   * reference point (16 planes x 4 bands) puts the knee where dedup
   * lives: cosine 0.999 → recall 0.999, 0.99 → 0.987, 0.95 → 0.55, with
   * 4x LESS candidate noise
   * than the previous single-band 12-plane form (6e-5 vs 2.4e-4 per random
   * pair) — whose 0.99-cosine recall was only 0.74. Exact duplicates share
   * every band at ANY setting (θ=0), and the exact-cosine verify decides
   * acceptance either way — banding changes candidate RECALL and volume,
   * never precision. `bands = 1` reproduces the single-bucket form.
   *
   * Output pairs are DISTINCT `(id_a < id_b, cosine)` rows. Ids are vector
   * KEYS: a key duplicated across rows with identical vectors collapses in
   * the output, but the vector-fetch joins still fan out quadratically in
   * the duplication factor before the collapse (bounded by distinct
   * candidate pairs x dup², measured 4.2 s on a 100x-duplicated 20M-row
   * corpus) — exact-dedup a corpus that may carry duplicate keys first.
   * A pre-fetch representative collapse was measured and rejected; see the
   * note at the fetch join.
   *
   * VERIFY is two-stage at corpus scale (input estimate > 48 MB —
   * [[pairPlan]]): ~56 B PQ stats
   * structs ride the banding shuffle (cost linear in n·bands, not in
   * candidate pairs) and only pairs whose RIGOROUS per-pair cosine upper
   * bound ([[org.apache.spark.sql.graft.PqCosineUpperBound]]) can reach
   * the threshold survive to the full-vector exact verify. Output is
   * IDENTICAL to the single-stage verify by the bound's direction
   * (AdcVerifySpec). At 20M vectors the single-stage fetch moves ~345 GB
   * of vector bytes through the pair joins (BENCH_sf1 addendum 13) — the
   * two-stage form is what makes the full operator runnable there.
   *
   * `numPlanes = 0` — THE DEFAULT — is AUTO-SIZING: the band width is set
   * to ~log₂(n/4) — random-collision bucket occupancy stays near a
   * constant ~4 as the corpus grows, so the candidate term is LINEAR in n
   * instead of a fixed width's n²/2^numPlanes (the residual 0.85 log-log
   * slope measured at sf10). Width is clamped to [8, 30] — the upper
   * clamp holds occupancy ≈ 4 to n ≈ 4·2³⁰ ≈ 4×10⁹ vectors and WARNS
   * when it binds (beyond it the n²/2³⁰ random-candidate term re-enters;
   * shard the corpus). Whenever auto picks a width ABOVE the fixed-form
   * 16, the band count grows too,
   * sized from the S-curve `recall = 1-(1-(1-θ/π)^numPlanes)^bands` to
   * keep recall at the caller's threshold ≥ what a fixed (16 × `bands`)
   * setting would give (band count capped at 16, with a logged warning
   * when the cap BINDS — thresholds below ~0.95 on 10⁸+ corpora, where
   * the explicit knobs are the honest tool). Width ≤ 16 needs no growth:
   * per-band recall only rises as width shrinks. So auto recall dominates
   * the fixed form's at every n (pinned by PipelineSpec's 100-planted-pair
   * corpus). At the occupancy-4 target the sub-crossover penalty vanishes
   * at the points measured: 200k vectors auto-picks p=16×4 — the fixed
   * form's own shape and wall time — and at 2M vectors, where the fixed
   * 16-plane form's 2^16 buckets/band saturate (~30 random rows each) and
   * its candidate join DIES in 69 GB of shuffle spill, auto (p=19, b=5)
   * finishes in 84.9 s — see BENCH_sf1 addenda 10/12. That measurement is
   * why auto is the DEFAULT: a fixed
   * width that provably dies at 2M vectors is the wrong default for an
   * engine aimed at 10⁸-row corpora. Auto's chosen parameters (hence the
   * exact candidate set) depend on n, so the candidate RECALL above the
   * guarantee point may shift between runs as the corpus grows — callers
   * needing a run-stable candidate set pass an explicit `numPlanes`.
   * Costs one extra count() pass. */
  /** Auto-sizing for [[cosineDedupPairs]] (`numPlanes = 0`): width and
   * band count for a corpus of `n` non-null vectors. Pure — pinned
   * directly by AnnAutoSizeSpec across decades, including the clamp
   * regions no local corpus can reach.
   *
   * Occupancy target ~4 random rows per band bucket (p = log2(n/4)):
   * measured against the ~8 target it replaced, 4 dominates at every
   * point — 200k vectors picks p=16 (the fixed form's own width and
   * its 10.9 s, vs 16.0 s at occupancy 8) and 2M picks p=19 b=5
   * (84.9 s vs 120.4 s at p=18) — halving bucket occupancy halves the
   * random-candidate term for one extra hyperplane dot per band, and
   * the S-curve band growth keeps the recall guarantee unchanged. */
  private[graft] def autoLshParams(n: Long, threshold: Double,
      bands: Int): (Int, Int) = {
    val p0 = math.ceil(
      math.log(math.max(n.toDouble / 4.0, 2.0)) / math.log(2.0)).toInt
    val p = math.max(8, math.min(30, p0))
    if (p0 > 30) {
      // the width clamp binds: occupancy grows ∝ n/2^30 and the random-
      // candidate term turns quadratic again — the same death class auto
      // sizing exists to remove. Symmetric honesty with the band-cap
      // warning below: never let a silent clamp masquerade as scale
      // safety.
      log.warn(
        s"cosineDedupPairs auto-sizing: width clamp binds (occupancy " +
          s"target wants $p0 planes > 30 for n=$n rows) — bucket " +
          s"occupancy grows ~${n / (4L << 30)}x past the ~4-row target " +
          "and the random-candidate term is no longer linear; shard the " +
          "corpus (dedup shards, then dedup the union of survivors) or " +
          "pass explicit numPlanes")
    }
    // match probability of one plane at the threshold angle
    val sMatch = 1.0 -
      math.acos(math.min(1.0, math.max(-1.0, threshold))) / math.Pi
    val b =
      if (p <= 16 || sMatch >= 1.0 - 1e-12) bands
      else {
        // bands needed so the (p, b) S-curve meets the default (16,
        // bands) setting's recall at this threshold
        val r0 = 1.0 - math.pow(1.0 - math.pow(sMatch, 16.0), bands.toDouble)
        val need = math.ceil(math.log1p(-r0) /
          math.log1p(-math.pow(sMatch, p.toDouble))).toInt
        if (need > 16) {
          // the cap binds: auto cannot meet the fixed form's recall at
          // this (threshold, n) and silently under-delivering would
          // contradict the documented dominance — tell the caller the
          // honest tool is the explicit knobs
          log.warn(
            s"cosineDedupPairs auto-sizing: band cap " +
              s"binds (need $need > 16 bands at width $p for threshold " +
              s"$threshold over n=$n rows) — recall falls below the fixed " +
              s"16-plane form's; pass explicit numPlanes/bands for this " +
              "corpus")
        }
        math.max(bands, math.min(16, need))
      }
    (p, b)
  }

  /** Largest divisor of `dim` that is ≤ `target` — PQ subspace count for
   * arbitrary dimensions (pqTrain requires dim % m == 0). */
  private[graft] def chooseM(dim: Int, target: Int): Int =
    (math.min(dim, math.max(1, target)) to 1 by -1).find(dim % _ == 0).get

  /** Per-subspace centroid gram tables for the SDC inner product:
   * `gram(j)(x*k + y) = ⟨cent_{j,x}, cent_{j,y}⟩`, flattened at a uniform
   * `k = max centroids per subspace` (short codebooks zero-pad; codes
   * never index the padding). m·k² doubles — ~0.5 MB at m=16, k=64. */
  private[graft] def sdcGram(cb: PqCodebooks): (Array[Array[Double]], Int) = {
    val k = cb.centroids.map(_.length).max
    val gram = cb.centroids.map { cents =>
      val t = new Array[Double](k * k)
      var x = 0
      while (x < cents.length) {
        var y = 0
        while (y < cents.length) {
          var s = 0.0; var i = 0
          while (i < cb.dsub) { s += cents(x)(i) * cents(y)(i); i += 1 }
          t(x * k + y) = s
          y += 1
        }
        x += 1
      }
      t
    }
    (gram, k)
  }

  /** Floating-point slack for the ADC pre-filter threshold: the bound
   * arithmetic is exact over the stored values up to double rounding
   * across ~m·dsub-term sums — 1e-9 dwarfs it and only ever ADDS
   * residue pairs (recall-safe by direction). */
  private[graft] val AdcFpEps = 1e-9

  /** Plan of [[cosineDedupPairs]]: two-stage ADC verify; grouped pair emit
   * in place of the bucket self-join. All four return the same pairs. */
  private[graft] final case class PairPlan(adc: Boolean, grouped: Boolean)

  /** ADC engages above this input estimate. 48 MB ≈ 180k 64-dim fp32
   * rows: measured ADC win 1.7× already at a 52.6 MB input (6.6 vs 11.1 s
   * at 200k vectors), and the wash point sits near ~30–40 MB (fixed
   * train+encode ≈ 3.5 s vs a win growing with candidate pairs ∝ rows at
   * the auto sizer's constant bucket occupancy) — 48 keeps margin above
   * the wash while the sf-gate corpora stay 60× below it. */
  private[graft] val AdcMinBytes: Long = 48L << 20

  /** Trained ADC codebook shape (residue figures at the verify); another
   * shape is a caller's `codebooks = Some(pqTrain(..., m, k))`. */
  private[graft] val AdcM = 32
  private[graft] val AdcK = 64

  /** Both plan decisions from the ONE input estimate (pure). Grouped
   * emit needs long ids (the walk's output encoder is typed) and an
   * estimate where the join form would SHUFFLE — above the broadcast
   * threshold; below it AQE broadcasts the self-join. */
  private[graft] def pairPlan(estimate: BigInt, idIsLong: Boolean,
      broadcastThreshold: Long): PairPlan =
    PairPlan(adc = estimate > BigInt(AdcMinBytes),
      grouped = idIsLong &&
        (broadcastThreshold <= 0 || estimate > BigInt(broadcastThreshold)))

  /** Input size for [[pairPlan]]: planner stats when real; for the
   * no-stats sentinel (e.g. an RDD-backed plan) the operator's own
   * `n·(4·dim + 20)`, which tracks the parquet-scan estimate (200k 64-dim
   * rows → 52.6 MB) — `n` is evaluated only then. */
  private[graft] def inputEstimate(df: DataFrame, dim: Int,
      n: => Long): BigInt = {
    val stats = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (stats < BigInt(df.sparkSession.sessionState.conf.defaultSizeInBytes))
      stats
    else BigInt(n) * (4L * dim + 20L)
  }

  def cosineDedupPairs(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, numPlanes: Int = 0, bands: Int = 4,
      seed: Long = 7L, codebooks: Option[PqCodebooks] = None): DataFrame =
    cosineDedupPairsWith(None)(df, idCol, vecCol, threshold, numPlanes,
      bands, seed, codebooks)

  /** [[cosineDedupPairs]] under a `forced` plan (test seam) instead of
   * the one [[pairPlan]] picks from the input. */
  private[graft] def cosineDedupPairsWith(forced: Option[PairPlan])(
      df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, numPlanes: Int = 0, bands: Int = 4,
      seed: Long = 7L, codebooks: Option[PqCodebooks] = None): DataFrame = {
    require(numPlanes >= 0 && numPlanes <= 64 && bands >= 1 && bands <= 64,
      s"need 0 <= numPlanes <= 64 (0 = auto) and 1 <= bands <= 64: " +
        s"$numPlanes x $bands")
    // the non-null count feeds both the auto sizer and (stats-less inputs
    // only) the input estimate — computed at most once either way
    var nCache: Option[Long] = None
    def nonNullCount(): Long = nCache.getOrElse {
      val c = df.filter(col(vecCol).isNotNull).count(); nCache = Some(c); c
    }
    // null embeddings never pair (null bucket rows drop out of the
    // candidate join) — the dim probe must not trip over one either, and
    // an all-null (or empty) input resolves to the natural empty pair set.
    // The auto sizer needs the exact n anyway (its (planes, bands) choice
    // fixes the candidate set, so an estimate is not a substitute), and
    // that count is a FULL pass over the corpus — fold the dim probe into
    // the same job (`any_value(size(v))`) instead of paying a second
    // subtree execution for take(1). Explicit-planes callers keep the
    // cheap take(1)-only probe: they scan just enough partitions to find
    // one row, and charging them a full count would be a regression.
    val dimOpt: Option[Int] = if (numPlanes > 0) {
      df.filter(col(vecCol).isNotNull)
        .select(size(col(vecCol))).take(1).headOption.map(_.getInt(0))
    } else {
      val row = df.filter(col(vecCol).isNotNull)
        .agg(count(lit(1)), first(size(col(vecCol)))).head()
      nCache = Some(row.getLong(0))
      if (row.isNullAt(1)) None else Some(row.getInt(1))
    }
    val (resolvedPlanes, resolvedBands) = if (numPlanes > 0) (numPlanes, bands)
    else autoLshParams(nonNullCount(), threshold, bands)
    if (dimOpt.isEmpty)
      return df.limit(0).select(col(idCol).as("id_a"),
        col(idCol).as("id_b"), lit(0.0).as("cosine"))
    val planes = hyperplanes(dimOpt.get, resolvedPlanes * resolvedBands, seed)
    // No cache (an operator-internal persist leaks storage past the query).
    // The candidate join is (size-conditionally, [[graft.core.CandidateJoin]])
    // forced to a shuffle join over NARROW (band, bucket, id) rows — both
    // sides' exchanges canonicalize identically, so stage reuse computes
    // the bands x numPlanes hyperplane dot products ONCE in the shared
    // shuffle map stage, and the vectors never ride the candidate shuffle.
    // Vectors are fetched afterwards for the surviving pairs only (AQE
    // broadcasts the pair set when small) to evaluate the exact cosine.
    val src = graft.core.Fanout(df)
      .select(col(idCol).as("id"), col(vecCol).as("v"))
    val hint = graft.core.CandidateJoin.maybeShuffleHash(src) _
    // ---- two-stage verify (filter on a compact fingerprint before
    // fetching full rows, for the operator that cannot use equality): at
    // corpus scale the exact-cosine verify fetch dominates everything —
    // 653M candidate pairs × ~530 B of vector bytes ≈ 345 GB of shuffle at 20M vectors
    // (BENCH_sf1 addendum 13), a single-box disk wall and a real cost at
    // any scale. When engaged, ~56 B/row PqEncodeStats structs (m-byte
    // code, true norm, exact quantization residual) RIDE THE BANDING
    // SHUFFLE — per-row cost linear in n·bands, NOT in candidate pairs
    // (at 20M vectors: 140M banded rows vs 2×653M fetch-join rows — the
    // fetch-join form was built first and rejected on that arithmetic) —
    // and the candidate join's output is bound-filtered BEFORE the
    // distinct, so the big pair set is never materialized: only pairs
    // whose RIGOROUS per-pair cosine upper bound
    // ([[org.apache.spark.sql.graft.PqCosineUpperBound]]) can still
    // reach the threshold survive to the full-vector exact verify. The
    // bound is exact over stored values, so output is IDENTICAL to the
    // single-stage verify (AdcVerifySpec pins parity). Measured at 2M
    // vectors (47.8M candidates, t=0.99): residue 1,000 pairs at the
    // default m=32 (38M at m=16 — 2-dim subspaces are what make the
    // bound bite; 500 at m=64, not worth the wider rows), exact stage
    // 74 s → 3.1 s.
    // ---- pair-emit strategy (the largest remaining cost at 20M vectors): at
    // corpus scale the bucket self-join pays the banding exchange's
    // shuffle READ twice (both sides consume the shared exchange), two
    // 140M-row sorts (SMJ above the shuffle-hash cap), and a per-pair
    // join-row materialization that copies both stats structs through
    // the bound filter — measured ~125 s of the 150.9 s candidates+bound
    // stage at 20M vectors (BENCH_sf1 addendum 15). The GROUPED emit
    // restates the same computation as ONE exchange + one per-partition
    // group walk: hash-partition the banded rows by (band, bucket), walk
    // each group's members once (flatMapGroups — sort-based, streams one
    // group at a time, spills like SMJ), and emit the `id_a < id_b`
    // survivors directly with the ADC bound evaluated inside the walk
    // (one struct decode per MEMBER, not two per candidate pair). Output
    // pairs are identical by construction (same members, same strict-<
    // canonicalization, same bound arithmetic via the shared
    // PqCosineUpperBound.boundValue). Both choices: [[pairPlan]].
    val idIsLong =
      src.schema("id").dataType == org.apache.spark.sql.types.LongType
    val plan = forced.getOrElse(pairPlan(
      inputEstimate(df, dimOpt.get, nonNullCount()), idIsLong,
      df.sparkSession.sessionState.conf.autoBroadcastJoinThreshold))
    // band i's key = element i of the per-band sign-bit array (ONE pass
    // over the vector; bit-identical to the former fused-long bit-slices
    // where bands x width <= 64, but with no cap on the total plane
    // budget). posexplode of the null-vector rows' null band array drops
    // them from both shapes.
    val bandCols = Seq(
      posexplode(org.apache.spark.sql.graft.HyperplaneBandBuckets(
        col("v"), planes, resolvedPlanes)))
    // hyperplane banding has the SAME hot-bucket pathology as MinHash
    // banding (10⁵ identical embeddings — one boilerplate page's vector
    // replicated across a crawl — share every band bucket, and the ADC
    // bound cannot cut them: identical vectors pass it at cosine 1), so
    // the same occupancy cap degrades over-cap buckets to id-neighbor
    // chains; chain pairs still pass the bound filter (ADC) and the
    // exact-cosine verify, so precision is untouched — the documented
    // trade is pair recall INSIDE an over-cap bucket
    val occCap = graft.core.HotBuckets.cap(src)
    val verifiedPairIds = if (!plan.adc) {
      val banded = src.select(col("id") +: bandCols: _*)
        .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
      def clique(rows: DataFrame): DataFrame =
        if (plan.grouped) groupedIdPairs(rows)
        else {
          val a = rows.select(col("band"), col("bucket"), col("id").as("id_a"))
          val b = rows.select(col("band"), col("bucket"), col("id").as("id_b"))
          hint(a).join(hint(b), Seq("band", "bucket"))
            .filter(col("id_a") < col("id_b"))
            .select(col("id_a"), col("id_b"))
        }
      if (occCap <= 0) clique(banded).distinct()
      else {
        val (cold, hotPairs) = graft.core.HotBuckets.chainSplit(
          banded, Seq("band", "bucket"), "id", Nil, occCap)
        clique(cold).unionByName(hotPairs).distinct()
      }
    } else {
      // a caller-supplied codebook skips the k-means training pass — the
      // threshold-sweep / corpus-slice loop trains ONCE (pqTrain is
      // public) and reuses it; the bound stays rigorous under ANY
      // codebook (the stored per-vector residual is exact against
      // whatever centroids produced it), so reuse trades only residue
      // volume, never correctness (AdcVerifySpec parity leg)
      val cb = codebooks match {
        case Some(c) =>
          require(c.m * c.dsub == dimOpt.get,
            s"cosineDedupPairs: supplied codebooks cover dimension " +
              s"${c.m * c.dsub}, corpus vectors have ${dimOpt.get}")
          c
        case None =>
          pqTrain(src.filter(col("v").isNotNull), "v",
            chooseM(dimOpt.get, AdcM), AdcK, iterations = 10, seed = seed)
      }
      val (gram, k) = sdcGram(cb)
      log.info(s"cosineDedupPairs: ADC two-stage verify engaged " +
        s"(m=${cb.m}, k=$k) — codes ride the banding shuffle and the " +
        "exact-cosine fetch runs on the bound-surviving residue only")
      val banded = src.select(col("id") +:
          org.apache.spark.sql.graft.PqEncodeStats(col("v"), cb.centroids)
            .as("s") +: bandCols: _*)
        .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
      def cliqueAdc(rows: DataFrame): DataFrame =
        if (plan.grouped) groupedAdcPairs(rows, gram, k, threshold)
        else {
          val a = rows.select(col("band"), col("bucket"),
            col("id").as("id_a"), col("s").as("sa"))
          val b = rows.select(col("band"), col("bucket"),
            col("id").as("id_b"), col("s").as("sb"))
          hint(a).join(hint(b), Seq("band", "bucket"))
            .filter(col("id_a") < col("id_b"))
            .filter(org.apache.spark.sql.graft.PqCosineUpperBound(
              col("sa"), col("sb"), gram, k) >= threshold - AdcFpEps)
            .select(col("id_a"), col("id_b"))
        }
      if (occCap <= 0) cliqueAdc(banded).distinct()
      else {
        val (cold, hotPairs) = graft.core.HotBuckets.chainSplit(
          banded, Seq("band", "bucket"), "id", Seq("s"), occCap)
        val hotSurvivors = hotPairs
          .filter(org.apache.spark.sql.graft.PqCosineUpperBound(
            col("s_a"), col("s_b"), gram, k) >= threshold - AdcFpEps)
          .select(col("id_a"), col("id_b"))
        cliqueAdc(cold).unionByName(hotSurvivors).distinct()
      }
    }
    val va = src.select(col("id").as("id_a"), col("v").as("v_a"))
    val vb = src.select(col("id").as("id_b"), col("v").as("v_b"))
    // the trailing distinct is the OUTPUT contract only (one row per pair
    // when duplicate ids carry identical vectors) and runs on the
    // post-threshold survivors — near-free on any corpus. A full
    // representative collapse before the fetch (jaccardPairs bound 2b:
    // materialize pairs, semi-join ids, max-hash row per id) was built and
    // REVERTED on measurement: it cost 1.5x at the 100x legal corpus
    // (24.2 -> 36.0 s, two extra corpus passes + three shuffles) to save
    // 1.0 s on the illegal duplicated-id one (5.3 -> 4.2 s) — key
    // uniqueness is the documented input contract, exact-dedup first if a
    // corpus may violate it.
    verifiedPairIds.join(va, "id_a").join(vb, "id_b")
      .select(col("id_a"), col("id_b"), cosine(col("v_a"), col("v_b")).as("cosine"))
      .filter(col("cosine") >= threshold)
      .distinct()
  }
}
