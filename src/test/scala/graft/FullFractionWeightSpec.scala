package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions._
import graft.sampling.StratifiedSampler

/**
 * The full-fraction (fraction >= 1.0) sampler's sentinel weight
 * (pack(1, 1, keyHash) instead of pack(total, total, keyHash)): every
 * consumer of the packed weight is invariant when kept == total — the
 * decoded HT ratio is exactly 1.0 either way, the closed-form FPC factor
 * contributes exactly 0 either way — so the sample needs no per-stratum
 * totals pass (a full extra scan of the base per query). These legs pin
 * that end to end against the exact unweighted answers: weighted
 * estimates equal plain aggregates and every error is exactly 0.
 */
class FullFractionWeightSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  private lazy val li = spark.read.parquet(s"$sf/lineitem.parquet")

  private def full: DataFrame =
    StratifiedSampler.sample(li, Seq("l_returnflag"), fraction = 1.0)

  private def assertClose(got: Double, want: Double, what: String): Unit =
    assert(math.abs(got - want) <= 1e-9 * math.max(1.0, math.abs(want)),
      s"$what: $got vs exact $want")

  /** Exact per-flag sum / avg / count of lineitem, unweighted. */
  private lazy val exact: Map[String, (Double, Double, Long)] =
    li.groupBy(col("l_returnflag"))
      .agg(sum(col("l_quantity")), avg(col("l_extendedprice")), count(lit(1)))
      .collect().map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2),
        r.getLong(3)))).toMap

  test("decoded weight is exactly 1.0 for every full-fraction row") {
    val s = full
    val ws = s.select(sample_weight).distinct().collect().map(_.getDouble(0))
    assert(ws.toSeq === Seq(1.0))
    assert(s.count() === li.count())
    // every row, once, at total/kept = 1
    assert(SamplerOracle.actual(s) ===
      SamplerOracle.expected(li, Seq("l_returnflag"))((_, total) => total))
  }

  test("weighted aggregates equal the exact unweighted aggregates") {
    val rows = full.groupBy(col("l_returnflag"))
      .agg(weighted_sum(col("l_quantity")), weighted_avg(col("l_extendedprice")),
        weighted_count(col("l_quantity")))
      .collect()
    assert(rows.map(_.getString(0)).toSet === exact.keySet)
    rows.foreach { r =>
      val (s, a, c) = exact(r.getString(0))
      assertClose(r.getDouble(1), s, "weighted_sum")
      assertClose(r.getDouble(2), a, "weighted_avg")
      assert(r.getDouble(3) === c.toDouble)
    }
  }

  test("closed-form struct identical: estimates, bounds, errors, sample_count") {
    val rows = full.groupBy(col("l_returnflag"))
      .agg(approx_sum(col("l_quantity"), col(weightColumn)).as("s"),
        approx_avg(col("l_extendedprice"), col(weightColumn)).as("a"),
        approx_count(col("l_quantity"), col(weightColumn)).as("c"))
      .select(col("l_returnflag"), col("s.*"), col("a.estimate"),
        col("c.estimate"), col("c.sample_count"))
      .collect()
    assert(rows.map(_.getString(0)).toSet === exact.keySet)
    rows.foreach { r =>
      val (s, a, c) = exact(r.getString(0))
      assertClose(r.getDouble(1), s, "sum estimate")
      // full fraction: FPC zeroes the variance — the bounds collapse on
      // the estimate and the errors are exactly 0
      assert(r.getDouble(2) === r.getDouble(1) && r.getDouble(3) === r.getDouble(1),
        s"bounds must equal the estimate: $r")
      assert(r.getDouble(4) === 0.0, s"absolute_error must be exactly 0: $r")
      assert(r.getDouble(5) === 0.0, s"relative_error must be exactly 0: $r")
      assert(r.getLong(6) === c, s"sum sample_count: $r")
      assertClose(r.getDouble(7), a, "avg estimate")
      assert(r.getDouble(8) === c.toDouble, s"count estimate: $r")
      assert(r.getLong(9) === c, s"count sample_count: $r")
    }
  }

  test("single-row strata (L == R == 1): NaN-skip edge matches the classic 0") {
    // every stratum has exactly one row — mulFactor is 0/0 = NaN at R = 1,
    // and the estimator skips it as the same 0 contribution a multi-row
    // full stratum makes
    val one = (1 to 8).map(i => (s"k$i", i.toDouble)).toDF("k", "v")
    val r = StratifiedSampler.sample(one, Seq("k"), fraction = 1.0)
      .agg(approx_sum(col("v"), col(weightColumn)).as("s"))
      .select(col("s.estimate"), col("s.absolute_error"), col("s.sample_count"))
      .collect().head
    assert(r.getDouble(0) === (1 to 8).map(_.toDouble).sum)
    assert(r.getDouble(1) === 0.0)
    assert(r.getLong(2) === 8L)
  }

  test("bootstrap point estimates exact and CI frames them under the sentinel") {
    // the pinned contract is the DECLARED one (q30): trial 0 (the point
    // estimate) is exact at full fraction, and the quantile CI frames it
    val k = "spark.sql.aqp.estimator"
    val prev = spark.conf.getOption(k)
    spark.conf.set(k, "bootstrap")
    val gs = GraftSession(spark)
    val rows = try {
      li.createOrReplaceTempView("li_ffw_bs")
      gs.sql("DROP SAMPLE TABLE IF EXISTS li_ffw_bs_sample")
      gs.sql("CREATE SAMPLE TABLE li_ffw_bs_sample ON li_ffw_bs " +
        "OPTIONS(qcs 'l_returnflag', fraction '1.0')")
      gs.sql(
        """SELECT l_returnflag, round(sum(l_quantity), 4) AS s,
          |  (lower_bound(s) <= s AND s <= upper_bound(s)) AS ci_ok
          |FROM li_ffw_bs GROUP BY l_returnflag ORDER BY l_returnflag
          |WITH ERROR 0.9 CONFIDENCE 0.95""".stripMargin).collect().toSeq
    } finally {
      // a leaked full-fraction sample would outrank the fractional samples
      // later suites register on the same base
      gs.sql("DROP SAMPLE TABLE IF EXISTS li_ffw_bs_sample")
      prev match {
        case Some(p) => spark.conf.set(k, p)
        case None => spark.conf.unset(k)
      }
    }
    assert(rows.map(_.getString(0)).toSet === exact.keySet)
    rows.foreach { r =>
      assert(math.abs(r.getDouble(1) - exact(r.getString(0))._1) < 1e-4, r.toString)
      assert(r.getBoolean(2), r.toString)
    }
  }

  test("full-fraction sample plan has no extra scan, no join, no exchange") {
    val plan = full.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"sentinel plan must not join:\n$plan")
    assert(!plan.contains("Exchange"),
      s"sentinel plan must not shuffle or broadcast:\n$plan")
    val scans = plan.linesIterator.count(_.contains("Scan parquet"))
    assert(scans === 1, s"sentinel plan must scan the base exactly once:\n$plan")
  }
}
