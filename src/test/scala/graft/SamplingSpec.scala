package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions._
import graft.sampling.StratifiedSampler

object TestSpark {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  spark.sparkContext.setLogLevel("ERROR")
  // events.parquet has shipped as BOTH timestamp[ns] (read as long nanos
  // under this flag) and timestamp[us] (read as TIMESTAMP_NTZ, which the
  // flag does not touch) — keep the flag for the ns vintage and normalize
  // through eventsLongNs for specs that do integer epoch arithmetic
  spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
  val sf: String = "/root/testdata/sf0.001"

  /** events with `ts` normalized to LONG NANOS whatever the parquet
   * vintage, so specs exercising integer-epoch arithmetic (the reference's
   * long-typed time columns) stay valid; timestamp-typed ingestion has its
   * own coverage in TimeColSpec/TopKSpec. */
  def eventsLongNs(s: SparkSession, dir: String = sf): org.apache.spark.sql.DataFrame = {
    val raw = s.read.parquet(s"$dir/events.parquet")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => raw
      case dt => raw.withColumn("ts",
        expr(s"${TimeCol.epochMicrosSql("ts", Some(dt))} * 1000L"))
    }
  }
}

class SamplingSpec extends AnyFunSuite {
  import TestSpark._

  private lazy val li = spark.read.parquet(s"$sf/lineitem.parquet")

  test("weighted percentile: exact at full fraction, near-truth on a real sample") {
    import graft.functions._
    val truth = li.groupBy(col("l_returnflag"))
      .agg(expr("percentile(l_extendedprice, 0.5)").as("p"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val full = StratifiedSampler.sample(li, Seq("l_returnflag"), fraction = 1.0)
    full.groupBy(col("l_returnflag"))
      .agg(weighted_percentile(col("l_extendedprice"), 0.5).as("p"))
      .collect().foreach { r =>
        assert(math.abs(r.getDouble(1) - truth(r.getString(0))) < 1e-6)
      }
    val part = StratifiedSampler.sample(li, Seq("l_returnflag"), fraction = 0.3)
    part.groupBy(col("l_returnflag"))
      .agg(weighted_percentile(col("l_extendedprice"), 0.5).as("p"))
      .collect().foreach { r =>
        val t = truth(r.getString(0))
        assert(math.abs(r.getDouble(1) - t) / t < 0.25,
          s"${r.getString(0)}: ${r.getDouble(1)} vs $t")
      }
  }

  test("full-fraction sample keeps all rows with weight 1") {
    val s = StratifiedSampler.sample(li, Seq("l_returnflag"), fraction = 1.0)
    assert(s.count() === li.count())
    val w = s.select(sample_weight).distinct().collect().map(_.getDouble(0))
    assert(w.toSeq === Seq(1.0))
  }

  test("fraction sampling: per-stratum kept = max(reservoir, ceil(f*total))") {
    val s = StratifiedSampler.sample(li, Seq("l_returnflag"),
      fraction = 0.1, reservoirSize = 10)
    val got = s.groupBy("l_returnflag").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = li.groupBy("l_returnflag").count().collect()
      .map(r => r.getString(0) -> math.max(10L, math.ceil(r.getLong(1) * 0.1).toLong))
      .toMap
    assert(got === want)
  }

  test("reservoir mode caps each stratum at reservoirSize") {
    val s = StratifiedSampler.sample(li, Seq("l_returnflag", "l_linestatus"),
      fraction = 0.0, reservoirSize = 7)
    val counts = s.groupBy("l_returnflag", "l_linestatus").count()
      .collect().map(_.getLong(2))
    assert(counts.forall(_ <= 7))
  }

  test("BASELINE parity: |kept − fraction·N| < 2 per stratum; exact reproducibility") {
    // the reference's headline sampling metrics (BASELINE.md):
    //  - SamplingAccuracySuite: abs(countB − fraction·N) < 2 rows at
    //    fraction 0.03 — ours is < 1 BY CONSTRUCTION (kept =
    //    max(reservoir, ceil(fraction·N))) wherever fraction·N clears the
    //    reservoir floor;
    //  - SamplingPerformanceDUnitTest: count reproducible ± 2 at fraction
    //    0.8 — ours reproduces EXACTLY (content-hash rank-select).
    val totals = li.groupBy(col("l_returnflag")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val s03 = StratifiedSampler.sample(li, Seq("l_returnflag"),
      fraction = 0.03, reservoirSize = 10)
    s03.groupBy(col("l_returnflag")).count().collect().foreach { r =>
      val n = totals(r.getString(0))
      if (0.03 * n > 10) {
        assert(math.abs(r.getLong(1) - 0.03 * n) < 2.0,
          s"${r.getString(0)}: kept ${r.getLong(1)} of $n at 0.03")
      }
    }
    val c1 = StratifiedSampler.sample(li, Seq("l_returnflag"), 0.8).count()
    val c2 = StratifiedSampler.sample(li, Seq("l_returnflag"), 0.8).count()
    assert(c1 === c2, "fixed-seed sample counts must reproduce exactly")
  }

  test("sampling is deterministic for a fixed seed") {
    val a = StratifiedSampler.sample(li, Seq("l_returnflag"), fraction = 0.05)
      .agg(sum(hash(col("l_orderkey"), col("l_linenumber")).cast("long"))).collect()(0).getLong(0)
    val b = StratifiedSampler.sample(li, Seq("l_returnflag"), fraction = 0.05)
      .agg(sum(hash(col("l_orderkey"), col("l_linenumber")).cast("long"))).collect()(0).getLong(0)
    assert(a === b)
  }

  /** The sampler picks the sharded rank from the input alone: a frame
    * above max(8 × broadcast threshold, 64 MB) shards, one below does not.
    * An RDD-backed copy of a frame has no size statistics (Spark assumes
    * the default size, far above the gate), so it reaches the sharded path
    * with the same rows. */
  private def shardGate: BigInt = BigInt(math.max(
    8L * spark.sessionState.conf.autoBroadcastJoinThreshold, 64L * 1024 * 1024))
  private def rddBacked(df: org.apache.spark.sql.DataFrame) =
    spark.createDataFrame(df.rdd, df.schema)

  /** Sample `df` at fraction 0.1 / reservoir 10, asserting from the input's
    * statistics and the plan marker which rank path ran. */
  private def sampleOnPath(df: org.apache.spark.sql.DataFrame, qcs: String,
      sharded: Boolean): org.apache.spark.sql.DataFrame = {
    assert((df.queryExecution.optimizedPlan.stats.sizeInBytes > shardGate) === sharded)
    val s = StratifiedSampler.sample(df, Seq(qcs), fraction = 0.1, reservoirSize = 10)
    val plan = s.queryExecution.executedPlan.toString
    assert(plan.contains("__graft_shard__") === sharded,
      s"sharded=$sharded: the rank window must partition by " +
        s"${if (sharded) "(stratum, shard)" else "stratum alone"}:\n$plan")
    s
  }

  test("shard-ranked selection: identical multiset to the classic rank, parallel rank partitions") {
    // at scale the rank-select shards each stratum across 64 hash ranges;
    // the parquet input stays under the size gate (classic rank), its
    // RDD-backed copy goes over it (sharded rank) — both must pick the
    // oracle's sample: the target smallest hashes per stratum, total/kept
    val classic = sampleOnPath(li, "l_returnflag", sharded = false)
    val sharded = sampleOnPath(rddBacked(li), "l_returnflag", sharded = true)
    val want = SamplerOracle.expected(li, Seq("l_returnflag"))(
      SamplerOracle.fractionTarget(0.1, 10))
    assert(SamplerOracle.actual(classic) === want, "classic rank vs oracle")
    assert(SamplerOracle.actual(sharded) === want, "sharded rank vs oracle")
  }

  test("shard-ranked selection with NULL stratum keys matches the classic rank") {
    // the literal per-stratum pre-cut compares each key field with
    // Literal.create(value, type) under null-safe equality — a NULL
    // stratum must select the identical multiset on both paths (and not
    // vanish from, or flood, the pre-cut)
    import spark.implicits._
    val rnd = new scala.util.Random(7L)
    val base = (1 to 30000).map { i =>
      val g = i % 4 match {
        case 0 => null
        case k => s"g$k"
      }
      (i.toLong, g, rnd.nextDouble())
    }.toDF("id", "grp", "v")
    val classic = SamplerOracle.actual(sampleOnPath(base, "grp", sharded = false))
    val sharded = sampleOnPath(rddBacked(base), "grp", sharded = true)
    assert(SamplerOracle.actual(sharded) === classic,
      "null-keyed strata must survive the literal pre-cut identically")
    assert(classic === SamplerOracle.expected(base, Seq("grp"))(
      SamplerOracle.fractionTarget(0.1, 10)))
    // and the null stratum is represented with its exact target
    val nulls = sharded.filter(col("grp").isNull).count()
    assert(nulls === 750L, s"null stratum kept $nulls of 7500 at 0.1")
  }

  test("rankCols: pruned rank hash keeps counts exact, layout-independent, narrow scan") {
    import spark.implicits._
    // a synthetic frame with a genuine row key: id distinguishes rows
    val base = (1 to 3000).map { i =>
      (i.toLong, s"g${i % 5}", i * 1.5, "payload" * 20 + i)
    }.toDF("id", "grp", "meas", "blob")
    def multiset(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      StratifiedSampler.sample(df, Seq("grp"), fraction = 0.1,
        reservoirSize = 10, rankCols = Seq("id"))
        .select("id").collect().map(_.getLong(0)).sorted.toSeq
    val a = multiset(base.repartition(3))
    val b = multiset(base.repartition(11, col("grp")))
    assert(a === b, "key-ranked sample must be layout-independent")
    // counts equal the full-hash path's (targets are content-independent)
    val full = StratifiedSampler.sample(base, Seq("grp"), fraction = 0.1,
      reservoirSize = 10)
    val fullCounts = full.groupBy("grp").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val keyCounts = StratifiedSampler.sample(base, Seq("grp"), fraction = 0.1,
      reservoirSize = 10, rankCols = Seq("id"))
      .groupBy("grp").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(keyCounts === fullCounts)

    // the scale property: on a parquet source, a query that only touches
    // the QCS and key columns must NOT read the wide payload column — the
    // full-row hash forces it into ReadSchema, rankCols keeps it out
    val dir = java.nio.file.Files.createTempDirectory("graft_rankcols").toString
    base.write.mode("overwrite").parquet(dir)
    val pq = spark.read.parquet(dir)
    def readSchema(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.executedPlan.toString.split("\n")
        .filter(_.contains("ReadSchema")).mkString("\n")
    val narrow = StratifiedSampler.sample(pq, Seq("grp"), fraction = 0.1,
      reservoirSize = 10, rankCols = Seq("id"))
      .groupBy("grp").count()
    val narrowSchema = readSchema(narrow)
    assert(!narrowSchema.contains("blob"),
      s"rankCols scan must prune the payload column:\n$narrowSchema")
    val wide = StratifiedSampler.sample(pq, Seq("grp"), fraction = 0.1,
      reservoirSize = 10).groupBy("grp").count()
    assert(readSchema(wide).contains("blob"),
      "control: the full-row hash forces the payload into the scan")
  }

  test("randomized sweep: kept counts and weight sums exact for any config") {
    // SURVEY §5: reservoir size bounds + weight sum ≈ N as properties.
    // Deterministic config sweep over fractions × reservoirs × QCS choices.
    val rng = new java.util.SplittableRandom(0xdecafL)
    val qcsChoices = Seq(Seq("l_returnflag"), Seq("l_returnflag", "l_linestatus"),
      Seq("l_linestatus"))
    (1 to 8).foreach { _ =>
      val fraction = Seq(0.0, 0.02, 0.1, 0.33)(rng.nextInt(4))
      val reservoir = Seq(5, 25, 80)(rng.nextInt(3))
      val qcs = qcsChoices(rng.nextInt(qcsChoices.size))
      if (fraction > 0.0 || reservoir > 0) {
        val sampled = StratifiedSampler.sample(li, qcs, fraction, reservoir)
        val kept = sampled.groupBy(qcs.map(col): _*)
          .agg(count(lit(1)).as("k"),
            sum(sample_weight(col(weightColumn))).as("wsum"))
          .collect()
        val totals = li.groupBy(qcs.map(col): _*).agg(count(lit(1)).as("n"))
          .collect().map(r => qcs.indices.map(r.getString) -> r.getLong(qcs.size)).toMap
        kept.foreach { r =>
          val keyVals = qcs.indices.map(r.getString)
          val n = totals(keyVals)
          val expect =
            if (fraction > 0.0) math.min(math.max(reservoir, math.ceil(n * fraction).toLong), n)
            else math.min(reservoir.toLong, n)
          assert(r.getLong(qcs.size) === expect,
            s"kept for $keyVals at f=$fraction r=$reservoir")
          // Horvitz–Thompson invariant: per-stratum weight sum reproduces n
          assert(math.abs(r.getDouble(qcs.size + 1) - n) / n < 1e-6,
            s"weight sum for $keyVals at f=$fraction r=$reservoir")
        }
      }
    }
  }

  test("weight decodes to stratumTotal/kept") {
    val s = StratifiedSampler.sample(li, Seq("l_linestatus"),
      fraction = 0.2, reservoirSize = 10)
    val rows = s.groupBy("l_linestatus")
      .agg(count(lit(1)).as("kept"), first(sample_weight).as("w")).collect()
    val totals = li.groupBy("l_linestatus").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      val kept = r.getLong(1)
      val w = r.getDouble(2)
      assert(math.abs(w - totals(r.getString(0)).toDouble / kept) < 1e-12)
    }
  }

  test("weighted estimators approximate exact aggregates on a 20% sample") {
    val s = StratifiedSampler.sample(li, Seq("l_returnflag"), fraction = 0.2)
    val est = s.agg(
      weighted_sum(col("l_quantity")).as("s"),
      weighted_count(col("l_quantity")).as("c")).collect()(0)
    val exact = li.agg(sum("l_quantity"), count(lit(1))).collect()(0)
    assert(math.abs(est.getDouble(0) / exact.getDouble(0) - 1.0) < 0.05)
    assert(math.abs(est.getDouble(1) / exact.getLong(1) - 1.0) < 0.05)
  }

  test("time-slot strata: new slots start debt-free, old slots age out") {
    // reference `StratifiedSamplerCached.scala:96-120`: with a
    // timeSeriesColumn each time slot is its own stratum epoch — a new
    // slot's reservoir starts WITHOUT the shortfall debt of earlier slots
    // (an undersampled past must not inflate a fresh slot's kept count),
    // and slots no longer receiving rows keep their reservoir untouched.
    import spark.implicits._
    val gs = new GraftSession(spark)
    gs.sql("CREATE SAMPLE TABLE ag_slots (id bigint, etype string, ts_ms bigint) " +
      "OPTIONS(qcs 'etype', timeSeriesColumn 'ts_ms', timeInterval '10000', " +
      "timeUnit 'ms', fraction '0.0', strataReservoirSize '20')")
    try {
      def slotProfile(): Map[Long, (Long, Double)] = spark.table("ag_slots")
        .groupBy(expr("ts_ms div 10000").as("slot"))
        .agg(count(lit(1)).as("kept"), weighted_count(col("id")).as("est"))
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap

      // interval 1: slot 0 overflows its reservoir (500 rows), slot 1 is a
      // brand-new sparse slot (8 rows) arriving in the same batch
      val batch1 =
        (1L to 500L).map(i => (i, "a", (i % 10000))) ++
          (501L to 508L).map(i => (i, "a", 10000L + (i - 501)))
      gs.appendToSample("ag_slots", batch1.toDF("id", "etype", "ts_ms"))
      val p1 = slotProfile()
      assert(p1(0L)._1 === 20L, s"slot 0 kept ${p1(0L)._1}, want reservoir 20")
      assert(p1(1L)._1 === 8L,
        "new sparse slot must keep its own 8 rows — slot 0's shortfall must " +
          "not backfill it to the reservoir size")
      assert(p1(0L)._2 === 500.0 && p1(1L)._2 === 8.0,
        s"per-slot weighted totals wrong: $p1")
      val slot01RowsAfterB1 = spark.table("ag_slots")
        .filter(expr("ts_ms div 10000") <= 1)
        .collect().map(_.toSeq.mkString("|")).sorted.toSeq

      // interval 2: only slot 2 receives rows — older slots must age out
      // untouched (no re-sampling, no weight rewrite of their reservoirs)
      val batch2 = (601L to 630L).map(i => (i, "a", 20000L + (i - 601)))
      gs.appendToSample("ag_slots", batch2.toDF("id", "etype", "ts_ms"))
      val p2 = slotProfile()
      assert(p2(2L)._1 === 20L && p2(2L)._2 === 30.0,
        s"slot 2 profile wrong: ${p2(2L)}")
      assert(p2(0L) === p1(0L) && p2(1L) === p1(1L),
        "append to a new slot changed an old slot's profile")
      val slot01RowsAfterB2 = spark.table("ag_slots")
        .filter(expr("ts_ms div 10000") <= 1)
        .collect().map(_.toSeq.mkString("|")).sorted.toSeq
      assert(slot01RowsAfterB2 === slot01RowsAfterB1,
        "old slots' reservoir rows must be byte-identical after aging")
    } finally gs.dropSampleTable("ag_slots")
  }
}

class ClosedFormSpec extends AnyFunSuite {
  import TestSpark._

  private lazy val li = spark.read.parquet(s"$sf/lineitem.parquet")

  test("full-fraction closed form: exact estimate, zero error") {
    val s = StratifiedSampler.sample(li, Seq("l_returnflag"), fraction = 1.0)
    val r = s.groupBy("l_returnflag")
      .agg(approx_sum(col("l_quantity"), col(weightColumn)).as("x"))
      .select(col("l_returnflag"), estimate(col("x")).as("est"),
        absolute_error(col("x")).as("abs"), relative_error(col("x")).as("rel"))
      .collect().map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2), r.getDouble(3)))).toMap
    val exact = li.groupBy("l_returnflag").agg(sum("l_quantity")).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    exact.foreach { case (k, v) =>
      val (est, abs, rel) = r(k)
      assert(math.abs(est - v) < 1e-6, s"estimate for $k")
      assert(abs === 0.0); assert(rel === 0.0)
    }
  }

  test("sampled closed form: truth inside CI, bounds sane") {
    val s = StratifiedSampler.sample(li, Seq("l_returnflag"), fraction = 0.1)
    val r = s.groupBy("l_returnflag")
      .agg(approx_sum(col("l_quantity"), col(weightColumn)).as("x"))
      .select(col("l_returnflag"), estimate(col("x")),
        lower_bound(col("x")), upper_bound(col("x")), relative_error(col("x")))
      .collect()
    val exact = li.groupBy("l_returnflag").agg(sum("l_quantity")).collect()
      .map(x => x.getString(0) -> x.getDouble(1)).toMap
    r.foreach { row =>
      val k = row.getString(0)
      val (est, lb, ub) = (row.getDouble(1), row.getDouble(2), row.getDouble(3))
      assert(lb <= est && est <= ub)
      // 95% CI should usually contain the truth; allow slack via 3x interval
      val half = (ub - lb) / 2
      assert(math.abs(est - exact(k)) < 3 * half + 1e-9, s"$k: est=$est truth=${exact(k)}")
    }
  }

  test("avg and count closed form against exact") {
    val s = StratifiedSampler.sample(li, Seq("l_returnflag"), fraction = 0.15)
    val r = s.agg(
      approx_avg(col("l_extendedprice"), col(weightColumn)).as("a"),
      approx_count(col("l_quantity"), col(weightColumn)).as("c"))
      .select(estimate(col("a")), estimate(col("c"))).collect()(0)
    val exact = li.agg(avg("l_extendedprice"), count(lit(1))).collect()(0)
    assert(math.abs(r.getDouble(0) / exact.getDouble(0) - 1.0) < 0.05)
    assert(math.abs(r.getDouble(1) / exact.getLong(1) - 1.0) < 0.05)
  }

  test("local_omit nulls groups whose relative error exceeds the limit") {
    val s = StratifiedSampler.sample(li, Seq("l_returnflag"), fraction = 0.05)
    // absurdly tight error limit → every group omitted
    val r = s.groupBy("l_returnflag")
      .agg(approx_sum(col("l_quantity"), col(weightColumn),
        confidence = 0.95, error = 1e-9, behavior = "local_omit").as("x"))
      .select(estimate(col("x"))).collect()
    assert(r.forall(_.isNullAt(0)))
  }

  test("small-sample bound uses Student-t(n-1), formulas reproduced exactly") {
    import spark.implicits._
    // one stratum, 20 rows, keep 10 -> totalN = 10 < 30 -> t(9) quantile
    val vals = (1 to 20).map(i => ("g", i * 1.5)).toDF("g", "v")
    val kept = StratifiedSampler.sample(vals, Seq("g"), fraction = 0.5,
      reservoirSize = 5)
    val rows = kept.select(col("v"), col(weightColumn)).collect()
    assert(rows.length === 10)
    val vs = rows.map(_.getDouble(0))
    val (l, r2) = (10.0, 20.0)
    val mulFactor = r2 * (r2 - l) / (l - 1.0)
    val mean = vs.sum / l
    val strataVar = vs.map(x => x * x).sum / l - mean * mean
    val stdDev = math.sqrt(mulFactor * strataVar)
    val t9 = new org.apache.commons.math3.distribution.TDistribution(9.0)
      .inverseCumulativeProbability(0.975)
    val want = stdDev * t9
    val got = kept.groupBy("g")
      .agg(approx_sum(col("v"), col(weightColumn)).as("x"))
      .select(absolute_error(col("x"))).collect()(0).getDouble(0)
    assert(math.abs(got - want) < 1e-9, s"bound $got vs hand-computed $want")
    // and the t quantile is strictly wider than z at the same confidence
    val z = org.apache.spark.sql.graft.ClosedFormAggregate.zFactor(0.95)
    assert(got > stdDev * z)
  }

  test("relative error clamps to |bound/(|est|+1)| when |estimate| <= 1") {
    import spark.implicits._
    // values average near zero so the weighted sum lands inside [-1, 1]
    val vals = (1 to 40).map { i =>
      ("g", if (i % 2 == 0) 0.011 else -0.01)
    }.toDF("g", "v")
    val kept = StratifiedSampler.sample(vals, Seq("g"), fraction = 0.5,
      reservoirSize = 5)
    val row = kept.groupBy("g")
      .agg(approx_sum(col("v"), col(weightColumn)).as("x"))
      .select(estimate(col("x")), absolute_error(col("x")),
        relative_error(col("x"))).collect()(0)
    val (est, abs, rel) = (row.getDouble(0), row.getDouble(1), row.getDouble(2))
    assert(math.abs(est) <= 1.0, s"test premise: |estimate| <= 1, got $est")
    assert(math.abs(rel - abs / (math.abs(est) + 1)) < 1e-12,
      "clamped denominator must be |est|+1")
  }

  test("all-null group: Sum yields NULL estimate and NULL stats, Count yields 0") {
    import spark.implicits._
    val df = Seq(("a", Some(1.0)), ("a", Some(2.0)),
      ("b", None: Option[Double])).toDF("g", "v")
    val kept = StratifiedSampler.sample(df, Seq("g"), fraction = 1.0)
    // group b has a ROW whose value is null — the struct itself is non-null
    // with NULL fields (reference SNAP-823: NULL error stats; a truly EMPTY
    // group would be a NULL struct instead)
    val bySum = kept.groupBy("g")
      .agg(approx_sum(col("v"), col(weightColumn)).as("x"))
      .select(col("g"), estimate(col("x")), absolute_error(col("x"))).collect()
      .map(r => r.getString(0) -> (r.isNullAt(1), r.isNullAt(2))).toMap
    assert(bySum("a") === ((false, false)))
    assert(bySum("b") === ((true, true)),
      "all-null group: NULL estimate and NULL error stats")
    val byCount = kept.groupBy("g")
      .agg(approx_count(col("v"), col(weightColumn)).as("x"))
      .select(col("g"), estimate(col("x"))).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(byCount("a") === 2.0 && byCount("b") === 0.0)
  }
}
