package graft

import org.scalatest.funsuite.AnyFunSuite

/**
 * Statistical-accuracy suites mirroring the reference's core harness
 * (SURVEY.md §5.1: `ClosedFormAccuracySuite`, `BootStrapAccuracySuite`,
 * `CompareBootstrapClosedFormSuite`, `ClosedFormGoldenSDSuite`). The sampler
 * is content-hash seeded, so every estimate here is deterministic across
 * runs and partition layouts — assertions are exact-by-replay rather than
 * flaky-statistical.
 */
trait AccuracyHelpers { this: AnyFunSuite =>
  import TestSpark._

  lazy val gs: GraftSession = {
    val g = new GraftSession(spark)
    spark.read.parquet(s"$sf/lineitem.parquet").createOrReplaceTempView("li_acc")
    g
  }

  case class Est(flag: String, est: Double, absErr: Double, relErr: Double,
      lb: Double, ub: Double)

  def runSum(fraction: Double, estimator: String,
      reservoir: Int = 50): Map[String, Est] = {
    val name = s"li_acc_s_${estimator}_${(fraction * 1000).toInt}_$reservoir"
    gs.sql(s"CREATE SAMPLE TABLE $name ON li_acc OPTIONS(qcs 'l_returnflag', " +
      s"fraction '$fraction', strataReservoirSize '$reservoir')")
    spark.conf.set("spark.sql.aqp.estimator", estimator)
    try {
      gs.sql(
        """SELECT l_returnflag, sum(l_extendedprice) AS s,
          |       absolute_error(s) AS ae, relative_error(s) AS re,
          |       lower_bound(s) AS lb, upper_bound(s) AS ub
          |FROM li_acc GROUP BY l_returnflag WITH ERROR 0.9""".stripMargin)
        .collect().map { r =>
          r.getString(0) -> Est(r.getString(0), r.getDouble(1), r.getDouble(2),
            r.getDouble(3), r.getDouble(4), r.getDouble(5))
        }.toMap
    } finally {
      spark.conf.set("spark.sql.aqp.estimator", "closedform")
      gs.dropSampleTable(name)
    }
  }

  lazy val truthSum: Map[String, Double] =
    spark.sql("SELECT l_returnflag, sum(l_extendedprice) FROM li_acc GROUP BY 1")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
}

/** Estimates within CLT bounds at multiple fractions; t-branch coverage
 * (reference `ClosedFormAccuracySuite`). */
class ClosedFormAccuracySpec extends AnyFunSuite with AccuracyHelpers {
  import TestSpark._

  test("closed-form CI frames the truth at fractions 0.01 / 0.05 / 0.1") {
    for (f <- Seq(0.01, 0.05, 0.1)) {
      val ests = runSum(f, "closedform")
      assert(ests.size === truthSum.size)
      var covered = 0
      ests.foreach { case (flag, e) =>
        val t = truthSum(flag)
        assert(e.absErr > 0.0, s"f=$f $flag: zero error on a real sample")
        assert(e.lb <= e.est && e.est <= e.ub)
        assert(e.lb < t && t < e.ub + 2 * e.absErr,
          s"f=$f $flag: truth $t far outside CI [${e.lb}, ${e.ub}]")
        if (e.lb <= t && t <= e.ub) covered += 1
        // point estimate within 3 half-widths of truth (CLT sanity)
        assert(math.abs(e.est - t) <= 3 * e.absErr,
          s"f=$f $flag: |est-truth| ${math.abs(e.est - t)} > 3·${e.absErr}")
      }
      // 95% CIs over 3 groups: deterministic replay covers all groups here
      assert(covered >= 2, s"f=$f: only $covered/3 CIs cover the truth")
    }
  }

  test("error shrinks as the sampling fraction grows") {
    val rel01 = runSum(0.01, "closedform").values.map(_.relErr).sum
    val rel10 = runSum(0.1, "closedform").values.map(_.relErr).sum
    assert(rel10 < rel01,
      s"relative error did not shrink: f=0.1 → $rel10 vs f=0.01 → $rel01")
  }

  test("t-distribution branch: strata below 30 rows give finite, wider bounds") {
    // reservoir-only sampling with 20 rows per stratum: n = 20 < 30 ⇒ the
    // finalizer must take the Student-t path (reference
    // `closedFormError.scala:129-138`: n ≥ 30 → z else t)
    val ests = runSum(0.0, "closedform", reservoir = 20)
    ests.foreach { case (flag, e) =>
      val t = truthSum(flag)
      assert(e.absErr > 0.0 && java.lang.Double.isFinite(e.absErr))
      assert(e.lb < e.est && e.est < e.ub)
      // t-quantile at n=20, conf 0.95 is ≥ 2.09 — the CI must be at least
      // that many standard errors wide; sanity: truth within 3 half-widths
      assert(math.abs(e.est - t) <= 3 * e.absErr,
        s"$flag: est ${e.est} vs truth $t with absErr ${e.absErr}")
    }
    // same stats, larger reservoir (z branch): relative error must shrink
    val zEsts = runSum(0.0, "closedform", reservoir = 200)
    val tRel = ests.values.map(_.relErr).sum
    val zRel = zEsts.values.map(_.relErr).sum
    assert(zRel < tRel, s"z-branch rel $zRel not below t-branch rel $tRel")
  }
}

/** Bootstrap CI behavior (reference `BootStrapAccuracySuite`). */
class BootstrapAccuracySpec extends AnyFunSuite with AccuracyHelpers {
  import TestSpark._

  test("bootstrap point estimate equals the weighted HT estimate exactly") {
    // trial 0 is the unperturbed weighted aggregate — identical to the
    // closed-form point estimate on the same (deterministic) sample
    val cf = runSum(0.05, "closedform")
    val bs = runSum(0.05, "bootstrap")
    cf.foreach { case (flag, e) =>
      assert(math.abs(bs(flag).est - e.est) <= math.ulp(e.est) * 64,
        s"$flag: bootstrap ${bs(flag).est} != closed-form ${e.est}")
    }
  }

  test("bootstrap CI frames the estimate and covers the truth") {
    for (f <- Seq(0.05, 0.1)) {
      val ests = runSum(f, "bootstrap")
      var covered = 0
      ests.foreach { case (flag, e) =>
        val t = truthSum(flag)
        assert(e.lb <= e.est && e.est <= e.ub, s"f=$f $flag: CI excludes estimate")
        assert(e.absErr > 0.0)
        if (e.lb <= t && t <= e.ub) covered += 1
        assert(math.abs(e.est - t) <= 4 * e.absErr + 1e-6,
          s"f=$f $flag: |est-truth| beyond 4 quantile half-widths")
      }
      assert(covered >= 2, s"f=$f: only $covered/3 bootstrap CIs cover truth")
    }
  }

  test("numBootstrapTrials knob is honored") {
    spark.conf.set("spark.sql.aqp.numBootstrapTrials", "32")
    try {
      val ests = runSum(0.05, "bootstrap")
      ests.values.foreach(e => assert(e.absErr > 0.0 && e.lb < e.ub))
    } finally spark.conf.set("spark.sql.aqp.numBootstrapTrials", "100")
  }
}

/** Closed-form vs bootstrap agreement + fixed-seed golden values
 * (reference `CompareBootstrapClosedFormSuite`, `ClosedFormGoldenSDSuite`). */
class EstimatorAgreementSpec extends AnyFunSuite with AccuracyHelpers {
  import TestSpark._

  test("closed-form and bootstrap error estimates agree within a small factor") {
    val cf = runSum(0.1, "closedform")
    val bs = runSum(0.1, "bootstrap")
    cf.foreach { case (flag, e) =>
      val ratio = bs(flag).absErr / e.absErr
      assert(ratio > 0.2 && ratio < 5.0,
        s"$flag: bootstrap/closed-form error ratio $ratio out of band " +
          s"(${bs(flag).absErr} vs ${e.absErr})")
    }
  }

  test("golden fixed-seed closed-form values are bit-stable") {
    // content-hash sampler + fixed seed ⇒ these exact numbers must
    // reproduce on every run, on any partitioning (golden-SD-suite role:
    // catches silent numeric drift in sampler/aggregate/finalizer)
    val ests = runSum(0.05, "closedform")
    val golden = EstimatorAgreementSpec.golden
    info("observed: " + ests.toSeq.sortBy(_._1).map { case (f, e) =>
      f"$f -> (${e.est}%.6f, ${e.absErr}%.6f)" }.mkString("; "))
    assert(ests.keySet === golden.keySet)
    ests.foreach { case (flag, e) =>
      val (gEst, gAe) = golden(flag)
      assert(math.abs(e.est - gEst) < 1e-4,
        s"$flag estimate drifted: ${e.est} vs golden $gEst")
      assert(math.abs(e.absErr - gAe) < 1e-4,
        s"$flag abs_err drifted: ${e.absErr} vs golden $gAe")
    }
  }
}

object EstimatorAgreementSpec {
  // filled from a pinned run (seed 42, fraction 0.05, qcs l_returnflag,
  // sf0.001 lineitem) — see the golden test above
  val golden: Map[String, (Double, Double)] = Map(
    "A" -> (99140622.801818, 11715726.778617),
    "N" -> (110404730.812500, 11751521.808875),
    "R" -> (109698099.151515, 11740079.209003))
}

/** Join-query accuracy (reference `JoinQueryTest`: "correctness of sum
 * formula for closedform error estimate of join query", bootstrap variant,
 * and the dataframe-API join path). */
class JoinAccuracySpec extends AnyFunSuite with AccuracyHelpers {
  import TestSpark._
  import org.apache.spark.sql.functions._

  private lazy val ord: Unit =
    spark.read.parquet(s"$sf/orders.parquet").createOrReplaceTempView("ord_acc")

  private def withJoinSample(fraction: Double)(body: => Unit): Unit = {
    ord
    gs.sql("CREATE SAMPLE TABLE li_acc_js ON li_acc " +
      s"OPTIONS(qcs 'l_returnflag', fraction '$fraction')")
    try body finally gs.dropSampleTable("li_acc_js")
  }

  test("closed-form CI of a sampled join frames the truth per group") {
    withJoinSample(0.1) {
      val truth = spark.sql(
        """SELECT o_orderpriority, sum(l_extendedprice) s
          |FROM li_acc JOIN ord_acc ON l_orderkey = o_orderkey
          |GROUP BY 1""".stripMargin)
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      val rows = gs.sql(
        """SELECT o_orderpriority, sum(l_extendedprice) AS s,
          |       absolute_error(s) AS ae, lower_bound(s) AS lb,
          |       upper_bound(s) AS ub
          |FROM li_acc JOIN ord_acc ON l_orderkey = o_orderkey
          |GROUP BY 1 WITH ERROR 0.9 CONFIDENCE 0.95""".stripMargin).collect()
      assert(rows.length === truth.size)
      var covered = 0
      rows.foreach { r =>
        val t = truth(r.getString(0))
        assert(r.getDouble(2) > 0.0, "a 0.1 sampled join must carry error")
        assert(r.getDouble(3) <= r.getDouble(1) && r.getDouble(1) <= r.getDouble(4),
          "estimate outside its own bounds")
        if (r.getDouble(3) <= t && t <= r.getDouble(4)) covered += 1
      }
      // deterministic sampler: coverage is replayable, expect ≥ 4 of 5 at 95%
      assert(covered >= truth.size - 1, s"only $covered/${truth.size} CIs cover truth")
    }
  }

  test("join-query error equals the same aggregate via the DataFrame API") {
    // reference 'correctness of sum formula for closedform error estimate of
    // join query' + 'Join & single query using dataframe apis': the SQL
    // join query and the DataFrame-API join over the base (both routed
    // through the same registered sample) must produce identical estimates
    // AND identical errors — routing through the join must not perturb the
    // error formula
    withJoinSample(0.1) {
      val viaSql = gs.sql(
        """SELECT o_orderpriority, sum(l_extendedprice) AS s,
          |       absolute_error(s) AS ae
          |FROM li_acc JOIN ord_acc ON l_orderkey = o_orderkey
          |GROUP BY 1 ORDER BY 1 WITH ERROR 0.9""".stripMargin)
        .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
      val joined = spark.table("li_acc")
        .join(spark.table("ord_acc"), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(sum(col("l_extendedprice")).as("s"),
          graft.aqp.functions.absolute_error(col("s")).as("ae"))
        .orderBy(col("o_orderpriority"))
      val viaDf = gs.withError(joined, error = 0.9, confidence = 0.95)
        .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
      assert(viaSql.length === viaDf.length)
      viaSql.zip(viaDf).foreach { case ((k1, e1, a1), (k2, e2, a2)) =>
        assert(k1 === k2)
        assert(math.abs(e1 - e2) < 1e-6, s"$k1 estimate differs: $e1 vs $e2")
        assert(math.abs(a1 - a2) < 1e-6, s"$k1 abs_err differs: $a1 vs $a2")
      }
    }
  }

  test("bootstrap error estimate on a join query is sane and deterministic") {
    withJoinSample(0.1) {
      spark.conf.set("spark.sql.aqp.estimator", "bootstrap")
      try {
        def run() = gs.sql(
          """SELECT o_orderpriority, sum(l_extendedprice) AS s,
            |       absolute_error(s) AS ae
            |FROM li_acc JOIN ord_acc ON l_orderkey = o_orderkey
            |GROUP BY 1 ORDER BY 1 WITH ERROR 0.9""".stripMargin)
          .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
        val a = run(); val b = run()
        a.foreach { case (_, est, ae) =>
          assert(est > 0 && ae > 0, "bootstrap join must carry positive error")
        }
        // content-hash seeding: bit-identical across runs
        assert(a.toSeq === b.toSeq)
      } finally spark.conf.set("spark.sql.aqp.estimator", "closedform")
    }
  }

  // --- reference "test for conditional count/sum queries - Month/Year":
  // a filter BELOW the aggregate changes every stratum's effective n; the
  // closed-form CI must still frame the (filtered) truth slice by slice ---
  test("conditional count/sum: CI covers the truth across time-slice filters") {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    eventsLongNs(spark).createOrReplaceTempView("ev_acc")
    gs.sql("CREATE SAMPLE TABLE ev_acc_s ON ev_acc " +
      "OPTIONS(qcs 'event_type', fraction '0.1')")
    try {
      val dayNs = 86400000000000L
      val t0 = spark.sql("SELECT min(ts) FROM ev_acc").collect()(0).getLong(0)
      val slices = (2 to 13).map(d => t0 + d * dayNs)
      var coveredCnt = 0
      var coveredSum = 0
      slices.foreach { cut =>
        val truth = spark.sql(
          s"SELECT count(*), sum(value) FROM ev_acc WHERE ts < ${cut}L")
          .collect()(0)
        val r = gs.sql(
          s"""SELECT count(*) AS c, lower_bound(c) AS clb, upper_bound(c) AS cub,
             |       sum(value) AS s, lower_bound(s) AS slb, upper_bound(s) AS sub
             |FROM ev_acc WHERE ts < ${cut}L
             |WITH ERROR 0.9 CONFIDENCE 0.95""".stripMargin).collect()(0)
        if (r.getDouble(1) <= truth.getLong(0) &&
          truth.getLong(0) <= r.getDouble(2)) coveredCnt += 1
        if (r.getDouble(4) <= truth.getDouble(1) &&
          truth.getDouble(1) <= r.getDouble(5)) coveredSum += 1
      }
      // deterministic sampler: replayable coverage, expect ~95% of 12 slices
      assert(coveredCnt >= 10,
        s"conditional count CI covered only $coveredCnt/12 slices")
      assert(coveredSum >= 10,
        s"conditional sum CI covered only $coveredSum/12 slices")
    } finally gs.dropSampleTable("ev_acc_s")
  }
}

/**
 * Calibration of the PARTIAL-ROUTING union (reference
 * `PartialQueryRoutingTestSuite` + the accuracy harness): the one HAC shape
 * with no coverage gate until now. Groups failing the error limit come back
 * from the base EXACT (NULL bounds, zero errors); surviving sampled groups
 * must still carry calibrated CIs — the union, not just the pure-sample
 * path, is what a user reads. Swept under both estimators.
 */
class PartialRoutingAccuracySpec extends AnyFunSuite with AccuracyHelpers {
  import TestSpark._

  test("partial-routing union: rerouted groups exact, sampled groups' CIs cover truth (both estimators)") {
    gs // registers li_acc
    spark.sql("SELECT l_orderkey % 32 AS gk, l_extendedprice FROM li_acc")
      .createOrReplaceTempView("li_part")
    gs.sql("CREATE SAMPLE TABLE li_part_s ON li_part OPTIONS(" +
      "qcs 'gk', fraction '0.08', strataReservoirSize '10')")
    val truth = spark.sql(
      "SELECT gk, sum(l_extendedprice) AS s FROM li_part GROUP BY gk")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    try {
      for (estimator <- Seq("closedform", "bootstrap")) {
        spark.conf.set("spark.sql.aqp.estimator", estimator)
        var sawRerouted = false
        var sawSampled = false
        for (limit <- Seq(0.01, 0.08, 0.5)) {
          val rows = gs.sql(
            s"""SELECT gk, sum(l_extendedprice) AS s, absolute_error(s) AS ae,
               |       lower_bound(s) AS lb, upper_bound(s) AS ub
               |FROM li_part GROUP BY gk
               |WITH ERROR $limit CONFIDENCE 0.95
               |BEHAVIOR 'partial_run_on_base_table'""".stripMargin).collect()
          assert(rows.map(_.getLong(0)).toSet === truth.keySet,
            s"$estimator/$limit: the union must contain every group exactly once")
          assert(rows.length === truth.size,
            s"$estimator/$limit: no duplicated groups across the union")
          // base-routed groups: NULL bounds + zero error + exact estimate
          val (rerouted, sampled) = rows.partition(_.isNullAt(3))
          rerouted.foreach { r =>
            assert(math.abs(r.getDouble(1) - truth(r.getLong(0))) <= 1e-6,
              s"$estimator/$limit: rerouted group ${r.getLong(0)} must be exact")
            assert(r.getDouble(2) === 0.0,
              s"$estimator/$limit: rerouted group carries zero error")
          }
          // surviving sampled groups: calibrated CI at 95% confidence; the
          // content-hash-seeded sampler makes this replayable, not flaky
          if (sampled.nonEmpty) {
            sawSampled = true
            val covered = sampled.count { r =>
              r.getDouble(3) <= truth(r.getLong(0)) &&
                truth(r.getLong(0)) <= r.getDouble(4)
            }
            assert(covered >= math.ceil(sampled.length * 0.8).toInt,
              s"$estimator/$limit: CI covered only $covered/${sampled.length} " +
                "surviving sampled groups")
          }
          if (rerouted.nonEmpty) sawRerouted = true
        }
        // the sweep must actually exercise BOTH sides of the union
        assert(sawRerouted, s"$estimator: no limit produced a rerouted group")
        assert(sawSampled, s"$estimator: no limit left a sampled group")
      }
    } finally {
      spark.conf.set("spark.sql.aqp.estimator", "closedform")
      gs.dropSampleTable("li_part_s")
    }
  }
}

/** Error functions over a sample READ BACK FROM DISK through the
 * DataSource API (reference `CFEEFunctionWithDatasourceAPITest` /
 * `BSAFunctionWithDatasourceAPITest`): the weight column alone makes the
 * frame a sample (AQP-211), and the full error spread works on it. */
class DatasourceErrorFunctionSpec extends AnyFunSuite {
  import TestSpark._

  test("error functions over a graft-sample read from disk (closed-form and bootstrap)") {
    import graft.aqp.functions._
    import graft.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_dsef_").toString + "/s"
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    li.write.format("graft-sample")
      .option("qcs", "l_returnflag").option("fraction", "0.2")
      .option("path", dir).mode("overwrite").save()
    val sampled = spark.read.format("graft-sample").option("path", dir).load()
    val truth = li.groupBy("l_returnflag")
      .agg(org.apache.spark.sql.functions.sum("l_quantity")).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    Seq("closedform", "bootstrap").foreach { estimator =>
      spark.conf.set("spark.sql.aqp.estimator", estimator)
      if (estimator == "bootstrap") {
        spark.conf.set("spark.sql.aqp.fixedSeed", "true")
      }
      try {
        val agg = sampled.groupBy("l_returnflag")
          .agg(org.apache.spark.sql.functions.sum("l_quantity").alias("s"),
            absolute_error("s"), lower_bound("s"), upper_bound("s"))
        // the frame itself, and a frame derived from it after its analysis
        Seq(agg, agg.orderBy("l_returnflag")).foreach { df =>
          val rows = df.withError(0.9, 0.95, "do_nothing").collect()
          assert(rows.length === truth.size)
          rows.foreach { r =>
            val t = truth(r.getString(0))
            assert(!r.isNullAt(2) && !r.isNullAt(3) && !r.isNullAt(4),
              s"$estimator: error columns must be live on a disk-read sample")
            assert(r.getDouble(3) <= r.getDouble(1) && r.getDouble(1) <= r.getDouble(4),
              s"$estimator: estimate outside its own bounds")
            assert(math.abs(r.getDouble(1) - t) <= 4 * math.max(r.getDouble(2), 1.0),
              s"$estimator: estimate ${r.getDouble(1)} too far from truth $t")
          }
        }
      } finally {
        spark.conf.set("spark.sql.aqp.estimator", "closedform")
        spark.conf.unset("spark.sql.aqp.fixedSeed")
      }
    }
  }
}
