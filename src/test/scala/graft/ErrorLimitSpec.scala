package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions._
import graft.sampling.StratifiedSampler

class ErrorLimitSpec extends AnyFunSuite {
  import TestSpark._

  private lazy val li = spark.read.parquet(s"$sf/lineitem.parquet")

  /** The reference's per-stratum error-limit size at 95% confidence,
    * keyed by the stratum's QCS values:
    * clamp(ceil((z·σ / (limit·|μ|))², rounded to 6 dp), reservoir, n). */
  private def zSigmaTargets(df: DataFrame, qcs: Seq[String], errCol: String,
      limitPercent: Double, reservoir: Long): Map[Row, Long] = {
    val z = org.apache.spark.sql.graft.ClosedFormAggregate.zFactor(0.95)
    df.groupBy(struct(qcs.map(col): _*).as("k"))
      .agg(count(lit(1)), avg(errCol), stddev_pop(errCol)).collect()
      .map { r =>
        val (n, mu, sigma) = (r.getLong(1), r.getDouble(2), r.getDouble(3))
        val needed = math.ceil(BigDecimal(math.pow(
          z * sigma / (limitPercent / 100 * math.max(math.abs(mu), 1e-12)), 2))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble).toLong
        r.getStruct(0) -> math.min(n, math.max(reservoir, needed))
      }.toMap
  }

  test("error-limit sampler: achieved closed-form error within the limit") {
    val s = StratifiedSampler.sampleWithErrorLimit(li,
      Seq(col("l_returnflag")), col("l_extendedprice"),
      errorLimitPercent = 5.0, confidence = 0.95, reservoirSize = 30)
    // per-stratum achieved relative error of the mean must be ≤ ~limit
    val r = s.groupBy("l_returnflag")
      .agg(approx_avg(col("l_extendedprice"), col(weightColumn)).as("x"))
      .select(relative_error(col("x"))).collect()
    r.foreach(row => assert(row.getDouble(0) <= 0.06,
      s"achieved error ${row.getDouble(0)} over limit"))
  }

  test("error-limit sampler: per-stratum sizes follow the z-sigma formula") {
    val s = StratifiedSampler.sampleWithErrorLimit(li,
      Seq(col("l_returnflag")), col("l_extendedprice"),
      errorLimitPercent = 5.0, confidence = 0.95, reservoirSize = 30)
    val got = s.groupBy("l_returnflag").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = zSigmaTargets(li, Seq("l_returnflag"), "l_extendedprice", 5.0, 30L)
      .map { case (k, n) => k.getString(0) -> n }
    assert(got === want)
  }

  test("error-limit sampler: keeps the smallest-hash prefix of each stratum (oracle)") {
    def check(df: DataFrame, qcs: Seq[String], errCol: String,
        limitPercent: Double, reservoir: Int): Unit = {
      val s = StratifiedSampler.sampleWithErrorLimit(df, qcs.map(col), col(errCol),
        errorLimitPercent = limitPercent, confidence = 0.95, reservoirSize = reservoir)
      val targets = zSigmaTargets(df, qcs, errCol, limitPercent, reservoir)
      assert(SamplerOracle.actual(s) ===
        SamplerOracle.expected(df, qcs)((key, _) => targets(key)))
    }
    check(li, Seq("l_returnflag"), "l_extendedprice", 5.0, 30)
    // a NULL stratum key (40 distinct rows, target 5), a stratum of 3
    // values x 7 duplicates whose target 5 splits a tie group at the cut,
    // and a 2-row stratum under the reservoir (kept whole at weight 1)
    import spark.implicits._
    val nullKey = (1 to 40).map(v => (null.asInstanceOf[String], v.toDouble))
    val dups = (10 to 12).flatMap(v => Seq.fill(7)(("d", v.toDouble)))
    val small = Seq(("s", 1.0), ("s", 2.0))
    val df = (nullKey ++ dups ++ small).toDF("k", "v").repartition(3)
    val targets = zSigmaTargets(df, Seq("k"), "v", 50.0, 5L)
    assert(targets === Map(Row(null) -> 5L, Row("d") -> 5L, Row("s") -> 2L))
    check(df, Seq("k"), "v", 50.0, 5)
  }

  test("time-series strata: CREATE SAMPLE TABLE with timeSeriesColumn") {
    eventsLongNs(spark).createOrReplaceTempView("events_el")
    val gs = new GraftSession(spark)
    gs.sql("CREATE SAMPLE TABLE ev_sample ON events_el OPTIONS(" +
      "qcs 'event_type', timeSeriesColumn 'ts', timeInterval '86400000', " +
      "timeUnit 'ns', fraction '0.3', strataReservoirSize '5')")
    val sampled = spark.table("ev_sample")
    // strata = (event_type, day): each stratum's kept = max(5, ceil(0.3*n))
    val got = sampled
      .withColumn("day", floor(col("ts") / lit(86400000L * 1000000L)))
      .groupBy("event_type", "day").count().collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val want = spark.table("events_el")
      .withColumn("day", floor(col("ts") / lit(86400000L * 1000000L)))
      .groupBy("event_type", "day").count().collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        math.min(r.getLong(2), math.max(5L, math.ceil(r.getLong(2) * 0.3).toLong))).toMap
    assert(got === want)
    gs.dropSampleTable("ev_sample")
  }

  test("error functions usable in ORDER BY and HAVING") {
    val gs = new GraftSession(spark)
    spark.read.parquet(s"$sf/lineitem.parquet").createOrReplaceTempView("li_ob")
    gs.sql("CREATE SAMPLE TABLE li_ob_sample ON li_ob OPTIONS(qcs 'l_returnflag', fraction '0.2')")
    val rows = gs.sql(
      """SELECT l_returnflag, sum(l_quantity) AS s, absolute_error(s) AS e
        |FROM li_ob GROUP BY l_returnflag
        |ORDER BY e DESC
        |WITH ERROR 0.9""".stripMargin).collect()
    assert(rows.length === 3)
    val errs = rows.map(_.getDouble(2))
    assert(errs.sliding(2).forall(p => p(0) >= p(1)))
    gs.dropSampleTable("li_ob_sample")
  }
}
