package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ann.Ann

/**
 * Two-stage (ADC-prefiltered) cosine verify for `cosineDedupPairs`:
 *
 *  - the PqCosineUpperBound expression is a SOUND upper bound on the
 *    exact cosine for every pair (the recall-parity guarantee is this
 *    inequality, checked exhaustively over seeded random corpora,
 *    duplicates, zero and negative vectors);
 *  - PqEncodeStats agrees with a driver-side recomputation of the code,
 *    the true norm and the quantization residual;
 *  - every [[Ann.PairPlan]] (ADC on/off × grouped/join emit), run
 *    through the operator's private plan seam, returns the same pairs;
 *  - the plan rule itself ([[Ann.pairPlan]]) at both gates, and the input
 *    estimate it reads (planner stats, or n·dim on a stats-less input).
 */
class AdcVerifySpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private def randomCorpus(n: Int, dim: Int, seed: Long): Seq[(Long, Array[Float])] = {
    val rnd = new scala.util.Random(seed)
    val base = (0 until n).map { i =>
      (i.toLong, Array.fill(dim)((rnd.nextGaussian() * (1 + i % 3)).toFloat))
    }
    // adversarial rows: an exact duplicate pair, a zero vector, a negated
    // vector (cosine -1 against its source) and a tiny-norm vector
    base ++ Seq(
      (n.toLong, base(0)._2.clone()),
      (n + 1L, Array.fill(dim)(0.0f)),
      (n + 2L, base(1)._2.map(-_)),
      (n + 3L, base(2)._2.map(x => x * 1e-6f)))
  }

  private val JoinPlan = Ann.PairPlan(adc = false, grouped = false)
  private val AllPlans = for (adc <- Seq(false, true);
      grouped <- Seq(false, true)) yield Ann.PairPlan(adc, grouped)

  /** `cosineDedupPairs` under a forced plan, pairs with cosines rounded
   * to 1e-9 (the plans agree on pairs; the cosine is the same expression). */
  private def pairsUnder(plan: Ann.PairPlan, df: org.apache.spark.sql.DataFrame,
      threshold: Double, planes: Int,
      codebooks: Option[Ann.PqCodebooks] = None): Set[(Long, Long, Double)] =
    Ann.cosineDedupPairsWith(Some(plan))(df, "id", "v", threshold,
      numPlanes = planes, bands = 4, codebooks = codebooks)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        math.round(r.getDouble(2) * 1e9) / 1e9)).toSet

  private def hasAdc(out: org.apache.spark.sql.DataFrame): Boolean =
    out.queryExecution.analyzed.collect { case p =>
      p.expressions.exists(_.exists {
        case _: org.apache.spark.sql.graft.PqCosineUpperBound => true
        case _ => false
      })
    }.exists(identity)

  private def hasGroupedEmit(out: org.apache.spark.sql.DataFrame): Boolean =
    out.queryExecution.analyzed.collect {
      case _: org.apache.spark.sql.catalyst.plans.logical.MapGroups => true
    }.nonEmpty

  test("chooseM: largest divisor of dim at or under the target") {
    assert(Ann.chooseM(64, 16) === 16)
    assert(Ann.chooseM(48, 16) === 16)
    assert(Ann.chooseM(100, 16) === 10)
    assert(Ann.chooseM(7, 16) === 7)
    assert(Ann.chooseM(13, 8) === 1) // prime above target: single subspace
    assert(Ann.chooseM(6, 16) === 6)
  }

  test("PqEncodeStats matches a driver-side recomputation") {
    val data = randomCorpus(40, 16, seed = 11L)
    val df = data.toDF("id", "v")
    val cb = Ann.pqTrain(df, "v", m = 4, k = 16, iterations = 4, seed = 3L)
    val got = df.select(col("id"),
        org.apache.spark.sql.graft.PqEncodeStats(col("v"), cb.centroids).as("s"))
      .select(col("id"), col("s.code"), col("s.norm"), col("s.err"))
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Array[Byte]](1), r.getDouble(2), r.getDouble(3))).toMap
    data.foreach { case (id, v) =>
      val vd = v.map(_.toDouble)
      val code = new Array[Byte](cb.m)
      var err2 = 0.0
      (0 until cb.m).foreach { j =>
        val sub = vd.slice(j * cb.dsub, (j + 1) * cb.dsub)
        val (bestC, bestD) = cb.centroids(j).zipWithIndex.map { case (c, ci) =>
          (ci, c.zip(sub).map { case (a, b) => (a - b) * (a - b) }.sum)
        }.minBy(_._2) match { case (ci, d) => (ci, d) }
        code(j) = bestC.toByte
        err2 += bestD
      }
      val (gc, gn, ge) = got(id)
      assert(java.util.Arrays.equals(gc, code), s"code mismatch at $id")
      assert(math.abs(gn - math.sqrt(vd.map(x => x * x).sum)) < 1e-9)
      assert(math.abs(ge - math.sqrt(err2)) < 1e-9)
    }
  }

  test("PqCosineUpperBound is a sound upper bound on the exact cosine") {
    for ((dim, seed) <- Seq((16, 1L), (64, 2L), (10, 3L))) {
      val data = randomCorpus(30, dim, seed)
      val df = data.toDF("id", "v")
      val m = Ann.chooseM(dim, 16)
      val cb = Ann.pqTrain(df, "v", m = m, k = 16, iterations = 3, seed = 5L)
      val (gram, k) = Ann.sdcGram(cb)
      val stats = df.select(col("id"),
        org.apache.spark.sql.graft.PqEncodeStats(col("v"), cb.centroids).as("s"))
      val va = df.select(col("id").as("id_a"), col("v").as("v_a"))
      val vb = df.select(col("id").as("id_b"), col("v").as("v_b"))
      val rows = stats.select(col("id").as("id_a"), col("s").as("sa"))
        .crossJoin(stats.select(col("id").as("id_b"), col("s").as("sb")))
        .filter(col("id_a") < col("id_b"))
        .join(va, "id_a").join(vb, "id_b")
        .select(col("id_a"), col("id_b"),
          org.apache.spark.sql.graft.PqCosineUpperBound(
            col("sa"), col("sb"), gram, k).as("ub"),
          Ann.cosine(col("v_a"), col("v_b")).as("exact"))
        .collect()
      assert(rows.length > 400)
      rows.foreach { r =>
        val ub = r.getDouble(2); val exact = r.getDouble(3)
        assert(ub + Ann.AdcFpEps >= exact,
          s"bound violated at dim=$dim pair (${r.getLong(0)}, " +
            s"${r.getLong(1)}): ub=$ub < exact=$exact")
      }
    }
  }

  test("operator parity: ADC-on output equals single-stage output") {
    val data = randomCorpus(200, 32, seed = 42L) ++
      // planted near-duplicates: small perturbations of shared sources
      (0 until 20).flatMap { g =>
        val rnd = new scala.util.Random(1000L + g)
        val src = Array.fill(32)(rnd.nextGaussian().toFloat)
        Seq((10000L + 2 * g, src),
          (10001L + 2 * g, src.map(x => x + (rnd.nextGaussian() * 0.01).toFloat)))
      } ++
      // null embeddings must drop out of BOTH verify shapes (pqTrain is
      // null-filtered; banding's posexplode drops null band arrays)
      Seq((20000L, null: Array[Float]), (20001L, null: Array[Float]))
    val df = data.toDF("id", "v")
    val adcOn = JoinPlan.copy(adc = true)
    val on = pairsUnder(adcOn, df, 0.95, planes = 12)
    assert(on === pairsUnder(JoinPlan, df, 0.95, planes = 12))
    assert(on.nonEmpty) // the planted pairs must be found at all
    // and at a low threshold where background pairs pass too
    val onL = pairsUnder(adcOn, df, 0.2, planes = 6)
    assert(onL === pairsUnder(JoinPlan, df, 0.2, planes = 6))
    assert(onL.size > on.size)
  }

  test("grouped pair-emit parity: grouped == join in all verify modes") {
    // all four plans, so grouped == join under both verify modes
    val data = randomCorpus(200, 32, seed = 421L) ++
      (0 until 20).flatMap { g =>
        val rnd = new scala.util.Random(4000L + g)
        val src = Array.fill(32)(rnd.nextGaussian().toFloat)
        Seq((10000L + 2 * g, src),
          (10001L + 2 * g, src.map(x => x + (rnd.nextGaussian() * 0.01).toFloat)))
      } ++
      Seq((20000L, null: Array[Float])) ++
      // a duplicated id carrying identical vectors: both emit shapes must
      // collapse it in the output and never emit a self-pair
      Seq((50000L, data0dup), (50000L, data0dup.clone()))
    val df = data.toDF("id", "v")
    for ((t, p) <- Seq((0.95, 12), (0.2, 6))) {
      val want = pairsUnder(JoinPlan, df, t, p)
      assert(want.nonEmpty, s"t=$t planes=$p found nothing")
      AllPlans.foreach { plan =>
        assert(pairsUnder(plan, df, t, p) === want, s"$plan t=$t planes=$p")
      }
    }
  }
  // a vector shared by the duplicate-id rows above (declared outside the
  // test body so the corpus builder can reference it)
  private lazy val data0dup: Array[Float] = {
    val rnd = new scala.util.Random(99L)
    Array.fill(32)(rnd.nextGaussian().toFloat)
  }

  test("grouped pair-emit respects the hot-bucket occupancy cap split") {
    // one vector replicated hot times: over-cap buckets degrade to chains
    // on BOTH emit shapes, and the outputs agree
    val rnd = new scala.util.Random(5L)
    val hotVec = Array.fill(32)(rnd.nextGaussian().toFloat)
    // the cap is a session conf read through df.sparkSession: set it on
    // a clone and build the corpus there
    val capped = spark.newSession()
    capped.conf.set(graft.core.HotBuckets.ConfKey, "20")
    import capped.implicits._
    val df = (randomCorpus(150, 32, seed = 500L) ++
      (0 until 60).map(i => (40000L + i, hotVec.clone()))).toDF("id", "v")
    val want = pairsUnder(JoinPlan, df, 0.99, planes = 12)
    assert(want.nonEmpty)
    // the clone's cap engaged: the 60 identical vectors are chained, not
    // emitted as their full 1770-pair clique
    assert(want.count(_._1 >= 40000L) < 60 * 59 / 2)
    AllPlans.foreach(plan =>
      assert(pairsUnder(plan, df, 0.99, planes = 12) === want, plan.toString))
  }

  test("grouped pair-emit falls back to the join path for non-long ids") {
    val rnd = new scala.util.Random(7L)
    val src = Array.fill(16)(rnd.nextGaussian().toFloat)
    val data = Seq(("a", src), ("b", src.clone()),
      ("c", Array.fill(16)(rnd.nextGaussian().toFloat)))
    // the plan rule never picks grouped for non-long ids, however large
    // the input or whatever the broadcast threshold
    assert(!Ann.pairPlan(BigInt(1L << 40), idIsLong = false, -1L).grouped)
    // and the operator, with broadcast disabled (where long ids would
    // take the grouped emit), keeps the join path and its answer
    val noBroadcast = spark.newSession()
    noBroadcast.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    import noBroadcast.implicits._
    val out = Ann.cosineDedupPairs(data.toDF("id", "v"), "id", "v",
      threshold = 0.99, numPlanes = 8, bands = 2)
    assert(!hasGroupedEmit(out))
    assert(out.collect().map(r => (r.getString(0), r.getString(1))).toSet
      === Set(("a", "b")))
  }

  test("a caller-supplied codebook skips training and preserves parity") {
    val data = randomCorpus(120, 32, seed = 77L) ++
      (0 until 10).flatMap { g =>
        val rnd = new scala.util.Random(2000L + g)
        val src = Array.fill(32)(rnd.nextGaussian().toFloat)
        Seq((30000L + 2 * g, src),
          (30001L + 2 * g, src.map(x => x + (rnd.nextGaussian() * 0.01).toFloat)))
      }
    val df = data.toDF("id", "v")
    // the sweep scenario: train ONCE (pqTrain is public), reuse across
    // thresholds — output parity is by the bound's rigor under ANY
    // codebook (the stored residual is exact against whatever centroids
    // produced the code), reuse only shifts residue volume
    val cb = Ann.pqTrain(df, "v", m = 8, k = 16, iterations = 4, seed = 5L)
    val adcOn = JoinPlan.copy(adc = true)
    for (t <- Seq(0.95, 0.5)) {
      val reused = pairsUnder(adcOn, df, t, 12, Some(cb))
      val trained = pairsUnder(adcOn, df, t, 12)
      assert(reused === trained, s"codebook-reuse parity broke at t=$t")
      assert(reused.nonEmpty)
    }
    // a codebook covering the wrong dimensionality must fail loudly
    val bad = Ann.pqTrain(randomCorpus(30, 16, 3L).toDF("id", "v"), "v",
      m = 4, k = 8, iterations = 2)
    val e = intercept[IllegalArgumentException] {
      pairsUnder(adcOn, df, 0.9, 12, Some(bad))
    }
    assert(e.getMessage.contains("dimension"))
  }

  test("a stats-less input is sized by the operator's own n*dim estimate") {
    // an RDD-backed plan carries the planner's no-stats sentinel; the
    // plan rule must see the operator's n·(4·dim + 20) instead, or a
    // 20M-vector RDD input would silently pay the ~345 GB pair-fetch
    // wall the two-stage verify exists to remove
    val small = spark.newSession()
    small.conf.set("spark.sql.autoBroadcastJoinThreshold", "1024")
    val rows = randomCorpus(60, 16, seed = 21L)
      .map { case (id, v) => org.apache.spark.sql.Row(id, v) }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType))))
    val rddDf = small.createDataFrame(
      small.sparkContext.parallelize(rows, 2), schema)
    assert(rddDf.queryExecution.optimizedPlan.stats.sizeInBytes >=
      BigInt(small.sessionState.conf.defaultSizeInBytes),
      "precondition: the input must carry the no-stats sentinel")
    // 64 rows x (4*16 + 20) B
    assert(Ann.inputEstimate(rddDf, 16, rddDf.count()) === BigInt(64 * 84))
    // a real planner estimate wins, and n is then never counted
    val local = randomCorpus(60, 16, seed = 21L).toDF("id", "v")
    assert(Ann.inputEstimate(local, 16, fail("n counted")) ===
      local.queryExecution.optimizedPlan.stats.sizeInBytes)
    // the operator acts on it: 5376 B is above the clone's 1 KB broadcast
    // threshold, so the grouped emit engages; ADC stays off under 48 MB
    val out = Ann.cosineDedupPairs(rddDf, "id", "v", threshold = 0.9,
      numPlanes = 8, bands = 2)
    assert(hasGroupedEmit(out), "the n*dim estimate must reach the plan rule")
    assert(!hasAdc(out))
  }

  test("pairPlan gates: ADC above 48 MB, grouped emit above the broadcast threshold") {
    val gate = BigInt(Ann.AdcMinBytes)
    assert(Ann.AdcMinBytes === (48L << 20))
    assert(!Ann.pairPlan(gate, idIsLong = true, 10L << 20).adc)
    assert(Ann.pairPlan(gate + 1, idIsLong = true, 10L << 20).adc)
    // ADC does not depend on the id type
    assert(Ann.pairPlan(gate + 1, idIsLong = false, 10L << 20).adc)
    val thr = 10L << 20
    assert(!Ann.pairPlan(BigInt(thr), idIsLong = true, thr).grouped)
    assert(Ann.pairPlan(BigInt(thr) + 1, idIsLong = true, thr).grouped)
    assert(!Ann.pairPlan(BigInt(thr) + 1, idIsLong = false, thr).grouped)
    // broadcast disabled: every long-id input takes the grouped emit
    assert(Ann.pairPlan(BigInt(1), idIsLong = true, -1L).grouped)
    assert(Ann.pairPlan(BigInt(1), idIsLong = true, 0L).grouped)
    // the default-session plan of a small corpus: join emit, one stage
    assert(Ann.pairPlan(BigInt(1) << 20, idIsLong = true, thr) === JoinPlan)
  }

  test("auto mode stays single-stage on small inputs") {
    // gate-sized corpora sit far below the 48 MB gate: the plan must
    // not contain the PqEncodeStats projection (no train/encode passes)
    val df = randomCorpus(50, 16, seed = 9L).toDF("id", "v")
    assert(!hasAdc(Ann.cosineDedupPairs(df, "id", "v", threshold = 0.9,
      numPlanes = 8, bands = 2)))
  }
}
