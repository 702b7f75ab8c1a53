package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sampling.StratifiedSampler

/**
 * Partition-layout invariance — the locally-testable core of the reference's
 * dunit suites (`AQPRoutingDUnitTest`, `AQPCatalogConsistencyDUnitTest`,
 * which re-run the same queries across cluster members and assert identical
 * results): for a fixed seed, sampling decisions, weighted estimates, error
 * bars, and HAC routing must not depend on how the input happens to be
 * partitioned. On a 1000-executor cluster the layout is an accident of file
 * splits and executor count, so any layout-sensitivity is a correctness bug
 * at scale, not a perf detail.
 */
class LayoutInvarianceSpec extends AnyFunSuite {
  import TestSpark._

  private lazy val li = spark.read.parquet(s"$sf/lineitem.parquet")

  private def layouts(df: DataFrame): Seq[(String, DataFrame)] = Seq(
    "asread" -> df,
    "rep2" -> df.repartition(2),
    "rep8" -> df.repartition(8),
    "rep64" -> df.repartition(64),
    "coal1" -> df.coalesce(1))

  private def assertAllEqual[K](byLayout: Seq[(String, Map[K, Seq[Double]])],
      tol: Double): Unit = {
    val (refName, ref) = byLayout.head
    byLayout.tail.foreach { case (name, got) =>
      assert(got.keySet === ref.keySet, s"$name vs $refName: key sets differ")
      ref.foreach { case (k, vs) =>
        vs.zip(got(k)).zipWithIndex.foreach { case ((a, b), i) =>
          val scale = math.max(1.0, math.abs(a))
          assert(math.abs(a - b) <= tol * scale,
            s"$name vs $refName, key $k, col $i: $b != $a")
        }
      }
    }
  }

  test("stratified sampler keeps the identical row multiset under any layout") {
    // content-seeded ranking: the kept rows (and their packed weights) are a
    // pure function of row content + seed, never of partition boundaries
    val kept = layouts(li).map { case (name, df) =>
      name -> StratifiedSampler.sample(df, Seq(col("l_returnflag")),
          fraction = 0.1, reservoirSize = 50, seed = 42L, rankCols = Nil)
        .collect().map(_.toSeq.mkString("|")).sorted.toSeq
    }
    val (refName, ref) = kept.head
    kept.tail.foreach { case (name, got) =>
      assert(got === ref, s"sampler output differs: $name vs $refName")
    }
  }

  test("closed-form estimates and error bars are layout-invariant") {
    val results = layouts(li).map { case (name, df) =>
      val gs = new GraftSession(spark)
      df.createOrReplaceTempView(s"li_lay_$name")
      gs.sql(s"CREATE SAMPLE TABLE li_lay_${name}_s ON li_lay_$name " +
        "OPTIONS(qcs 'l_returnflag', fraction '0.2')")
      try {
        name -> gs.sql(
          s"""SELECT l_returnflag, sum(l_quantity) AS s,
             |       absolute_error(s) AS ae, lower_bound(s) AS lb,
             |       upper_bound(s) AS ub
             |FROM li_lay_$name GROUP BY 1 WITH ERROR 0.9""".stripMargin)
          .collect().map(r => r.getString(0) ->
            Seq(r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
      } finally gs.dropSampleTable(s"li_lay_${name}_s")
    }
    // the sampled rows are identical (test above); only double-sum
    // reassociation across partition boundaries may differ → ulp tolerance
    assertAllEqual(results, tol = 1e-9)
  }

  test("bootstrap estimates and CI bounds are layout-invariant") {
    // per-row Poisson multiplicities are content-hash seeded
    // (BootstrapAggregate), so the trial vectors are layout-independent too
    spark.conf.set("spark.sql.aqp.estimator", "bootstrap")
    try {
      val results = layouts(li).map { case (name, df) =>
        val gs = new GraftSession(spark)
        df.createOrReplaceTempView(s"li_boot_$name")
        gs.sql(s"CREATE SAMPLE TABLE li_boot_${name}_s ON li_boot_$name " +
          "OPTIONS(qcs 'l_returnflag', fraction '0.2')")
        try {
          name -> gs.sql(
            s"""SELECT l_returnflag, sum(l_quantity) AS s,
               |       lower_bound(s) AS lb, upper_bound(s) AS ub
               |FROM li_boot_$name GROUP BY 1 WITH ERROR 0.9""".stripMargin)
            .collect().map(r => r.getString(0) ->
              Seq(r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
        } finally gs.dropSampleTable(s"li_boot_${name}_s")
      }
      assertAllEqual(results, tol = 1e-9)
    } finally spark.conf.set("spark.sql.aqp.estimator", "closedform")
  }

  test("unigram LM two-tier scores are layout-invariant") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val byLayout = layouts(docs).map { case (name, df) =>
      name -> graft.pipeline.Pipeline
        // headSize below the corpus vocabulary keeps this on the TWO-TIER
        // path (adaptive tiering would otherwise collapse it to one join)
        .unigramLogProb(df, "doc_id", "text", headSize = 8)
        .collect()
        .map(r => r.getLong(0) -> Seq(r.getLong(1).toDouble, r.getDouble(2)))
        .toMap
    }
    assertAllEqual(byLayout, tol = 1e-12)
  }

  test("TopK answers are layout-invariant, including through the spill store") {
    val events = eventsLongNs(spark)
    val byLayout = layouts(events).map { case (name, df) =>
      // small guard forces most buckets through the spill path; Space-Saving
      // below capacity is exact, so every layout must agree exactly
      val opts = graft.topk.TopKOptions(key = "event_type",
        timeSeriesColumn = Some("ts"), timeIntervalMs = 86400000L,
        size = 5, streamSummary = true, capacity = 16, maxInterval = 100,
        timeUnit = "ns", maxDriverEntries = 16L)
      val st = new graft.topk.TopKState(s"li_$name", opts,
        org.apache.spark.sql.types.StringType)
      st.append(df)
      val res = st.topKRows(Long.MinValue, Long.MaxValue, 5)._1
        .map { case (k, est, lb, _) =>
          k.toString -> Seq(est.toDouble, lb.toDouble)
        }.toMap
      st.spillDirOption.foreach { d =>
        val p = new org.apache.hadoop.fs.Path(d)
        val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
        if (fs.exists(p)) fs.delete(p, true)
      }
      name -> res
    }
    assertAllEqual(byLayout, tol = 0.0)
  }

  test("HAC partial routing picks the same groups under any layout") {
    // choose an error limit strictly between the per-group relative errors,
    // so partial_run_on_base_table genuinely mixes sample-estimated and
    // base-rerouted groups — then the mix must be layout-independent
    val gs0 = new GraftSession(spark)
    li.createOrReplaceTempView("li_hac_probe")
    gs0.sql("CREATE SAMPLE TABLE li_hac_probe_s ON li_hac_probe " +
      "OPTIONS(qcs 'l_returnflag', fraction '0.05')")
    val (errs, sampleEst) = try {
      val rows = gs0.sql(
        """SELECT l_returnflag, sum(l_extendedprice) AS s,
          |       relative_error(s) AS re
          |FROM li_hac_probe GROUP BY 1 WITH ERROR 0.9""".stripMargin).collect()
      (rows.map(_.getDouble(2)).sorted.toSeq,
        rows.map(r => r.getString(0) -> r.getDouble(1)).toMap)
    } finally gs0.dropSampleTable("li_hac_probe_s")
    assume(errs.distinct.size >= 2, "need distinct per-group errors to split on")
    val threshold = (errs(0) + errs(1)) / 2.0
    val exact = li.groupBy("l_returnflag").agg(sum("l_extendedprice"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap

    val results = layouts(li).map { case (name, df) =>
      val gs = new GraftSession(spark)
      df.createOrReplaceTempView(s"li_hac_$name")
      gs.sql(s"CREATE SAMPLE TABLE li_hac_${name}_s ON li_hac_$name " +
        "OPTIONS(qcs 'l_returnflag', fraction '0.05')")
      try {
        name -> gs.sql(
          s"""SELECT l_returnflag, sum(l_extendedprice) AS s
             |FROM li_hac_$name GROUP BY 1
             |WITH ERROR $threshold BEHAVIOR 'partial_run_on_base_table'"""
            .stripMargin)
          .collect().map(r => r.getString(0) -> Seq(r.getDouble(1))).toMap
      } finally gs.dropSampleTable(s"li_hac_${name}_s")
    }
    assertAllEqual(results, tol = 1e-9)
    // and the baseline really is a mix: at least one group exact (rerouted),
    // at least one carrying the sample estimate
    val base = results.head._2
    val rerouted = base.count { case (k, v) => math.abs(v.head - exact(k)) < 1e-6 }
    assert(rerouted >= 1, "no group was rerouted to the base table")
    assert(rerouted < base.size,
      s"all ${base.size} groups rerouted — threshold $threshold split nothing")
  }
}
