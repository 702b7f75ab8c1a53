package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sampling.StratifiedSampler

/** The one-pass bounded-reservoir plan (fraction == 0) against the
 * selection rule it implements ([[SamplerOracle]]: the reservoirSize
 * smallest full-width content hashes per stratum, weighted total/kept):
 * the sampled multiset and every decoded weight must match exactly —
 * including under duplicate rows (hash ties straddling the reservoir
 * boundary), NULL stratum keys, and strata smaller than the reservoir. */
class OnePassReservoirSpec extends AnyFunSuite {
  import TestSpark._

  private def reservoir(df: DataFrame, qcs: Seq[String], n: Int): DataFrame =
    StratifiedSampler.sample(df, qcs, fraction = 0.0, reservoirSize = n)

  private def assertOracle(df: DataFrame, qcs: Seq[String], n: Int): DataFrame = {
    val s = reservoir(df, qcs, n)
    assert(SamplerOracle.actual(s) ===
      SamplerOracle.expected(df, qcs)(SamplerOracle.fractionTarget(0.0, n)))
    s
  }

  test("one-pass == oracle on a distinct-row corpus (multiset + weights)") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    assertOracle(li, Seq("l_returnflag", "l_linestatus"), 25)
  }

  test("plan shape: one-pass has no window and one exchange") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val plan = reservoir(li, Seq("l_returnflag"), 10).queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"one-pass plan must not sort-window:\n$plan")
    assert(plan.linesIterator.count(_.contains("Exchange")) === 1,
      s"one-pass plan must shuffle once:\n$plan")
  }

  test("duplicate rows: ties at the reservoir boundary keep the same multiset") {
    import spark.implicits._
    // 3 distinct values, each replicated 7x, in a single stratum with
    // reservoir 10: the kept set MUST contain a tie group split at the
    // boundary (10 = 7 + 3 of the next tie group)
    val df = (0 until 3).flatMap(v => Seq.fill(7)(("s", v))).toDF("k", "v")
      .repartition(4)
    assert(assertOracle(df, Seq("k"), 10).count() == 10)
  }

  test("NULL stratum keys and sub-reservoir strata match the oracle") {
    import spark.implicits._
    val df = Seq(
      (null.asInstanceOf[String], 1L), (null.asInstanceOf[String], 2L),
      ("a", 1L), ("a", 2L), ("a", 3L), ("a", 4L), ("a", 5L),
      ("b", 10L)).toDF("k", "v").repartition(3)
    val s = assertOracle(df, Seq("k"), 3)
    // sub-reservoir strata keep everything with weight 1
    val w = s.filter(col("k") === "b")
      .select(graft.functions.weighted_count(col("v")).as("w"))
    assert(w.collect().head.getDouble(0) == 1.0)
  }

  test("weights decode to total/kept") {
    // kept · (total/kept) = total: the weighted count of every stratum is
    // its exact row count
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val est = reservoir(li, Seq("l_returnflag"), 25)
      .groupBy("l_returnflag")
      .agg(round(graft.functions.weighted_count(col("l_returnflag")), 6).as("est"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val exact = li.groupBy("l_returnflag").count()
      .collect().map(r => r.getString(0) -> r.getLong(1).toDouble).toMap
    assert(est === exact)
  }
}
