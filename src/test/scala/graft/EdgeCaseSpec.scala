package graft

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/**
 * Degenerate-input edge cases in the spirit of the reference's
 * `CommonBugTest` regressions: global (ungrouped) approximate aggregates,
 * filters that eliminate every row, empty base tables, and all-null
 * aggregation columns.
 */
class EdgeCaseSpec extends AnyFunSuite with BeforeAndAfterAll {
  import TestSpark._

  override def afterAll(): Unit = {
    GraftState.of(TestSpark.spark).samples.keys
      .filter(_.startsWith("li_ec") ).toSeq
      .foreach(new GraftSession(TestSpark.spark).dropSampleTable)
    super.afterAll()
  }

  private lazy val gs: GraftSession = {
    val g = new GraftSession(spark)
    spark.read.parquet(s"$sf/lineitem.parquet").createOrReplaceTempView("li_ec")
    g.sql("CREATE SAMPLE TABLE li_ec_s ON li_ec OPTIONS(qcs 'l_returnflag', fraction '0.3')")
    g
  }

  test("global (ungrouped) approximate aggregate with error functions") {
    gs
    val truth = spark.sql("SELECT sum(l_quantity) FROM li_ec").collect()(0).getDouble(0)
    val r = gs.sql(
      """SELECT sum(l_quantity) AS s, absolute_error(s) AS ae,
        |       lower_bound(s) AS lb, upper_bound(s) AS ub
        |FROM li_ec WITH ERROR 0.9""".stripMargin).collect()(0)
    assert(r.getDouble(1) > 0)
    assert(r.getDouble(2) <= r.getDouble(0) && r.getDouble(0) <= r.getDouble(3))
    assert(math.abs(r.getDouble(0) - truth) <= 5 * r.getDouble(1))
  }

  test("filter eliminating every row yields an empty grouped result") {
    val rows = gs.sql(
      """SELECT l_returnflag, sum(l_quantity) AS s, absolute_error(s) AS ae
        |FROM li_ec WHERE l_quantity < -1
        |GROUP BY l_returnflag WITH ERROR 0.9""".stripMargin).collect()
    assert(rows.isEmpty)
  }

  test("filter eliminating every row on a GLOBAL aggregate yields null sum") {
    val r = gs.sql(
      """SELECT sum(l_quantity) AS s FROM li_ec WHERE l_quantity < -1
        |WITH ERROR 0.9""".stripMargin).collect()(0)
    assert(r.isNullAt(0)) // SQL semantics: SUM over zero rows is NULL
  }

  test("sample over an empty base table answers (emptily) without error") {
    spark.sql("SELECT * FROM li_ec WHERE 1=0").createOrReplaceTempView("li_ec_empty")
    gs.sql("CREATE SAMPLE TABLE li_ec_es ON li_ec_empty " +
      "OPTIONS(qcs 'l_returnflag', fraction '0.5')")
    try {
      val rows = gs.sql(
        """SELECT l_returnflag, sum(l_quantity) AS s
          |FROM li_ec_empty GROUP BY l_returnflag WITH ERROR 0.9""".stripMargin)
        .collect()
      assert(rows.isEmpty)
    } finally gs.dropSampleTable("li_ec_es")
  }

  test("all-null aggregation column: estimate is null, count skips nulls") {
    spark.sql("SELECT l_returnflag, CAST(NULL AS DOUBLE) AS nv FROM li_ec")
      .createOrReplaceTempView("li_ec_nulls")
    gs.sql("CREATE SAMPLE TABLE li_ec_ns ON li_ec_nulls " +
      "OPTIONS(qcs 'l_returnflag', fraction '1.0')")
    try {
      val rows = gs.sql(
        """SELECT l_returnflag, sum(nv) AS s, count(nv) AS c
          |FROM li_ec_nulls GROUP BY l_returnflag WITH ERROR 0.9""".stripMargin)
        .collect()
      assert(rows.nonEmpty)
      rows.foreach { r =>
        assert(r.isNullAt(1), "sum of all-null column must be NULL")
        assert(r.getLong(2) === 0L, "count(col) must skip nulls")
      }
    } finally gs.dropSampleTable("li_ec_ns")
  }

  test("LIMIT over an approximate grouped query") {
    val rows = gs.sql(
      """SELECT l_returnflag, sum(l_quantity) AS s
        |FROM li_ec GROUP BY l_returnflag ORDER BY l_returnflag
        |LIMIT 2 WITH ERROR 0.9""".stripMargin).collect()
    assert(rows.length === 2)
  }

  test("zero-valued groups: error bounds stay finite, no division errors") {
    // reference 'NPE in bootstrap error bounds when sum or avg is 0': a
    // group whose measure is identically zero must yield finite (0) error
    // and a defined relative error, under BOTH estimators, ANSI mode on
    import spark.implicits._
    (1 to 200).map(i => (if (i % 2 == 0) "z" else "p",
      if (i % 2 == 0) 0.0 else i.toDouble))
      .toDF("g", "v").createOrReplaceTempView("zero_ec")
    gs.sql("CREATE SAMPLE TABLE zero_ec_s ON zero_ec OPTIONS(qcs 'g', fraction '0.5')")
    try {
      for (est <- Seq("closedform", "bootstrap")) {
        spark.conf.set("spark.sql.aqp.estimator", est)
        val rows = gs.sql(
          """SELECT g, sum(v) AS s, absolute_error(s) AS ae,
            |       relative_error(s) AS re
            |FROM zero_ec GROUP BY g ORDER BY g WITH ERROR 0.9""".stripMargin)
          .collect()
        val z = rows.find(_.getString(0) == "z").get
        assert(z.getDouble(1) === 0.0, s"[$est] zero-group sum")
        assert(!z.isNullAt(2) && !z.getDouble(2).isNaN, s"[$est] abs err NaN")
        assert(z.isNullAt(3) || !z.getDouble(3).isNaN,
          s"[$est] relative error of a zero estimate must be NULL or finite")
      }
    } finally {
      spark.conf.set("spark.sql.aqp.estimator", "closedform")
      gs.dropSampleTable("zero_ec_s")
      spark.catalog.dropTempView("zero_ec")
    }
  }

  test("ENT-57: min/max on literals don't block AQP; literal values exact") {
    // reference `ErrorEstimateFunctionTest` "Max Min functions on literal
    // should allow aqp to be used": literal min/max aggregates are exact
    // regardless of sampling and must not force a route to base
    val df = gs.sql(
      """SELECT l_returnflag AS rf, sum(l_quantity) AS x,
        |       lower_bound(x) AS lb, upper_bound(x) AS ub,
        |       absolute_error(x) AS ae, relative_error(x) AS re,
        |       max(100) AS m1, max(true) AS m2, min(true) AS m3,
        |       min(101) AS m4, max(100 + 123) AS m5,
        |       max(CAST(1 AS BOOLEAN)) AS m6
        |FROM li_ec GROUP BY 1 WITH ERROR 0.9 CONFIDENCE .95""".stripMargin)
    assert(org.apache.spark.sql.graft.AqpInfo.usesSample(df),
      "literal min/max must not push the query off the sample")
    val rows = df.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getInt(6) === 100)
      assert(r.getBoolean(7) === true)
      assert(r.getBoolean(8) === true)
      assert(r.getInt(9) === 101)
      assert(r.getInt(10) === 223)
      assert(r.getBoolean(11) === true)
      assert(r.getDouble(4) > 0.0, "0.3 sample must carry error")
      assert(r.getDouble(2) <= r.getDouble(1) && r.getDouble(1) <= r.getDouble(3))
    }
  }

  test("ENT-57: a query containing ONLY max/min (on QCS) rides the sample") {
    // reference "aqp query only containing max function should use sample
    // table if possible": no sum/count/avg present at all
    val df = gs.sql(
      "SELECT max(l_returnflag) AS m, min(l_returnflag) AS n FROM li_ec WITH ERROR 0.9")
    val r = df.collect()(0)
    val base = spark.sql(
      "SELECT max(l_returnflag), min(l_returnflag) FROM li_ec").collect()(0)
    // QCS stratification keeps >=1 row per distinct value: exact min/max
    assert(r.getString(0) === base.getString(0))
    assert(r.getString(1) === base.getString(1))
  }

  test("direct sample query without error clause: raw aggregates, error fns inert") {
    // reference `ErrorEstimateFunctionTest` "query directly fired on sample
    // table should not compute error estimates if no error clause present":
    // the estimate is the raw (unweighted) sum over the sample's rows and
    // error functions neither fail nor re-weight
    gs
    val raw = spark.sql("SELECT sum(l_quantity) FROM li_ec_s").collect()(0).getDouble(0)
    val r = gs.sql(
      """SELECT sum(l_quantity) AS x, relative_error(x) AS re,
        |       absolute_error(x) AS ae, lower_bound(x) AS lb
        |FROM li_ec_s""".stripMargin).collect()(0)
    assert(r.getDouble(0) === raw, "no error clause -> raw unweighted sum")
    assert(r.getDouble(1) === 0.0)
    assert(r.getDouble(2) === 0.0)
    // exactly-answered queries report NULL bounds with zero errors — the
    // reference's shape on every query that never touched an estimate
    // (`QueryRoutingTestSuite` "test query on base table without
    // sampletable should route" pins isNullAt(LB) with 0 errors)
    assert(r.isNullAt(3))
    // on a plan with NO sample scan the stubs still raise
    intercept[Exception] {
      gs.sql("SELECT sum(l_quantity) AS x, relative_error(x) AS re FROM li_ec")
        .collect()
    }
  }

  test("empty base table under routing behaviors: empty results, no errors") {
    // reference `QueryRoutingTestSuite` "test empty table with behaviour
    // involving routing" / "... do nothing"
    spark.sql("SELECT * FROM li_ec WHERE 1=0").createOrReplaceTempView("li_ec_empty_b")
    gs.sql("CREATE SAMPLE TABLE li_ec_ebs ON li_ec_empty_b " +
      "OPTIONS(qcs 'l_returnflag', fraction '0.5')")
    try {
      for (b <- Seq("do_nothing", "local_omit", "strict", "run_on_full_table",
          "partial_run_on_base_table")) {
        val rows = gs.sql(
          s"""SELECT l_returnflag, sum(l_quantity) AS s, absolute_error(s) AS ae
             |FROM li_ec_empty_b GROUP BY 1 WITH ERROR 0.5 BEHAVIOR '$b'"""
            .stripMargin).collect()
        assert(rows.isEmpty, s"behavior $b over empty base must yield 0 groups")
        val global = gs.sql(
          s"""SELECT sum(l_quantity) AS s FROM li_ec_empty_b
             |WITH ERROR 0.5 BEHAVIOR '$b'""".stripMargin).collect()
        assert(global.length === 1 && global(0).isNullAt(0),
          s"behavior $b global sum over empty base must be a single NULL")
      }
    } finally gs.dropSampleTable("li_ec_ebs")
  }

  test("SNAP-806: DECIMAL measures through sum/avg/count with error functions") {
    // reference CommonBugTest "decimal column not handled correctly": the
    // estimator buffers in double but the query-visible results must agree
    // with the exact decimal aggregate at full fraction, and error functions
    // must bind
    spark.sql(
      """SELECT l_returnflag, CAST(l_quantity AS DECIMAL(12,2)) AS dq,
        |       CAST(l_extendedprice AS DECIMAL(14,2)) AS dp
        |FROM li_ec""".stripMargin).createOrReplaceTempView("li_ec_dec")
    gs.sql("CREATE SAMPLE TABLE li_ec_decs ON li_ec_dec " +
      "OPTIONS(qcs 'l_returnflag', fraction '1.0')")
    try {
      val exact = spark.sql(
        """SELECT l_returnflag, sum(dq), avg(dp), count(dq)
          |FROM li_ec_dec GROUP BY 1""".stripMargin).collect()
        .map(r => r.getString(0) -> (r.getDecimal(1), r.getDecimal(2), r.getLong(3))).toMap
      val got = gs.sql(
        """SELECT l_returnflag, sum(dq) AS s, avg(dp) AS a, count(dq) AS c,
          |       absolute_error(s) AS ae
          |FROM li_ec_dec GROUP BY 1 WITH ERROR 0.9""".stripMargin).collect()
      assert(got.length === exact.size)
      got.foreach { r =>
        // the rewrite preserves the exact query's DECIMAL result types
        val (es, ea, ec) = exact(r.getString(0))
        assert(math.abs(r.getDecimal(1).doubleValue() - es.doubleValue()) < 1e-6,
          s"sum ${r.getDecimal(1)} vs $es")
        assert(math.abs(r.getDecimal(2).doubleValue() - ea.doubleValue()) < 1e-6,
          s"avg ${r.getDecimal(2)} vs $ea")
        assert(r.getLong(3) === ec)
        assert(r.getDouble(4) === 0.0, "full fraction: zero error")
      }
      // non-full fraction: decimal measures still estimate and carry error
      // (drop the full-fraction sample first — QCS-tied ranking prefers the
      // larger fraction, which would zero the error)
      gs.dropSampleTable("li_ec_decs")
      gs.sql("CREATE SAMPLE TABLE li_ec_decp ON li_ec_dec " +
        "OPTIONS(qcs 'l_returnflag', fraction '0.3')")
      try {
        val approx = gs.sql(
          """SELECT l_returnflag, sum(dq) AS s, absolute_error(s) AS ae
            |FROM li_ec_dec GROUP BY 1 WITH ERROR 0.9""".stripMargin).collect()
        approx.foreach { r =>
          val truth = exact(r.getString(0))._1.doubleValue()
          assert(r.getDouble(2) > 0.0)
          assert(math.abs(r.getDecimal(1).doubleValue() - truth) / truth < 0.35)
        }
      } finally gs.dropSampleTable("li_ec_decp")
    } finally {
      if (gs.state.samples.contains("li_ec_decs")) gs.dropSampleTable("li_ec_decs")
      spark.catalog.dropTempView("li_ec_dec")
    }
  }

  test("AQP-229/239/246/230: GROUP BY expr with CASE projection, mixed-case alias") {
    // reference CommonBugTest bundle: group by a scalar-function expression,
    // project a CASE over the same expression (the group key never appears
    // verbatim in the select list), reference the aggregate alias from an
    // error function with DIFFERENT case, order by the grouping expression
    spark.sql("SELECT * FROM li_ec").createOrReplaceTempView("li_ec_case")
    gs.sql("CREATE SAMPLE TABLE li_ec_cases ON li_ec_case " +
      "OPTIONS(qcs 'l_returnflag', fraction '1.0')")
    try {
      val body =
        """SELECT round(sum(l_extendedprice), 4) AS numOfRides,
          |       relative_error(numOFRides) AS re,
          |       CASE WHEN l_quantity % 3 = 0 THEN 'zero'
          |            WHEN l_quantity % 3 = 1 THEN 'one'
          |            ELSE 'two' END AS bucket
          |FROM li_ec_case GROUP BY l_quantity % 3 ORDER BY l_quantity % 3"""
          .stripMargin
      for (b <- Seq("do_nothing", "strict")) {
        val rows = gs.sql(s"$body WITH ERROR 0.9 BEHAVIOR '$b'").collect()
        assert(rows.length === 3, s"[$b] expected 3 modulo buckets")
        assert(rows.map(_.getString(2)).toSet === Set("zero", "one", "two"))
        rows.foreach(r => assert(r.getDouble(1) === 0.0,
          s"[$b] full fraction must report zero relative error"))
      }
      val exact = spark.sql(
        """SELECT round(sum(l_extendedprice), 4) FROM li_ec_case
          |GROUP BY l_quantity % 3 ORDER BY l_quantity % 3""".stripMargin)
        .collect().map(_.getDouble(0)).toSeq
      val got = gs.sql(s"$body WITH ERROR 0.9").collect().map(_.getDouble(0)).toSeq
      assert(got === exact)
    } finally {
      gs.dropSampleTable("li_ec_cases")
      spark.catalog.dropTempView("li_ec_case")
    }
  }

  test("GROUP BY CUBE under WITH ERROR: weight threads through every grouping set") {
    // q18 pins ROLLUP; CUBE emits a different Expand projection set. Full
    // fraction -> every grouping-set row must equal the exact query.
    spark.sql("SELECT * FROM li_ec").createOrReplaceTempView("li_ec_cube")
    gs.sql("CREATE SAMPLE TABLE li_ec_cubes ON li_ec_cube " +
      "OPTIONS(qcs 'l_returnflag', fraction '1.0')")
    try {
      val q =
        """SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 4) AS s
          |FROM li_ec_cube GROUP BY CUBE(l_returnflag, l_linestatus)
          |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST"""
          .stripMargin
      val want = spark.sql(q).collect()
      val got = gs.sql(s"$q WITH ERROR 0.9").collect()
      assert(got.length === want.length)
      got.zip(want).foreach { case (g, w) =>
        assert(g.getString(0) == w.getString(0) || (g.isNullAt(0) && w.isNullAt(0)))
        assert(g.getDouble(2) === w.getDouble(2),
          s"(${g.get(0)},${g.get(1)}): ${g.getDouble(2)} vs ${w.getDouble(2)}")
      }
    } finally {
      gs.dropSampleTable("li_ec_cubes")
      spark.catalog.dropTempView("li_ec_cube")
    }
  }

  test("repeated aggregates: same agg twice with separate error functions") {
    // reference 'Test repeat aggregates': sum(x) aliased twice — each alias
    // binds its own error function and both estimates agree
    val rows = gs.sql(
      """SELECT l_returnflag, sum(l_quantity) AS s1, sum(l_quantity) AS s2,
        |       absolute_error(s1) AS ae1, absolute_error(s2) AS ae2
        |FROM li_ec GROUP BY 1 ORDER BY 1 WITH ERROR 0.9""".stripMargin).collect()
    rows.foreach { r =>
      assert(r.getDouble(1) === r.getDouble(2))
      assert(r.getDouble(3) === r.getDouble(4))
      assert(r.getDouble(3) > 0.0)
    }
  }

  test("CASE-wrapped aggregates keep weights and error binding (AQP-223)") {
    val exact = spark.sql(
      """SELECT l_returnflag,
        |       sum(CASE WHEN l_quantity > 25 THEN l_quantity ELSE 0 END) s
        |FROM li_ec GROUP BY 1 ORDER BY 1""".stripMargin)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val rows = gs.sql(
      """SELECT l_returnflag,
        |       sum(CASE WHEN l_quantity > 25 THEN l_quantity ELSE 0 END) AS s,
        |       absolute_error(s) AS ae
        |FROM li_ec GROUP BY 1 ORDER BY 1 WITH ERROR 0.9""".stripMargin).collect()
    rows.foreach { r =>
      val t = exact(r.getString(0))
      assert(math.abs(r.getDouble(1) - t) / t < 0.35,
        s"${r.getString(0)}: ${r.getDouble(1)} vs $t")
      assert(r.getDouble(2) > 0.0)
    }
  }

  test("sum / count / avg consistency on one sample (reference consistency test)") {
    // the weighted estimators must be internally consistent:
    // avg_est == sum_est / count_est on the same sample rows
    val rows = gs.sql(
      """SELECT l_returnflag, sum(l_quantity) AS s, count(l_quantity) AS c,
        |       avg(l_quantity) AS a
        |FROM li_ec GROUP BY 1 ORDER BY 1 WITH ERROR 0.9""".stripMargin).collect()
    rows.foreach { r =>
      val (s, c, a) = (r.getDouble(1), r.getLong(2), r.getDouble(3))
      assert(math.abs(a - s / c) / a < 1e-2,
        s"${r.getString(0)}: avg $a vs sum/count ${s / c}")
    }
  }

  test("view with WHERE + conditional projection routes like its derived table (SNAP-3204)") {
    // reference AbstractViewTest SNAP-3204: a view whose body filters and
    // projects conditional expressions must route through the sample exactly
    // like the equivalent inline derived table
    spark.sql("CREATE OR REPLACE TEMPORARY VIEW li_ec_v4 AS " +
      "SELECT IF(l_returnflag = 'R', l_quantity, NULL) AS rq, " +
      "       CAST(substr(l_shipdate, 1, 4) AS INT) AS yr, l_returnflag " +
      "FROM li_ec WHERE l_returnflag IN ('R', 'A')")
    val viaView = gs.sql(
      "SELECT count(*) AS x, count(*) AS sample_, absolute_error(x) AS ae " +
        "FROM li_ec_v4 WITH ERROR 0.5").collect()(0)
    val viaDerived = gs.sql(
      "SELECT count(*) AS x, count(*) AS sample_ FROM (" +
        "SELECT IF(l_returnflag = 'R', l_quantity, NULL) AS rq, " +
        "       CAST(substr(l_shipdate, 1, 4) AS INT) AS yr, l_returnflag " +
        "FROM li_ec WHERE l_returnflag IN ('R', 'A')) WITH ERROR 0.5")
      .collect()(0)
    assert(viaView.getLong(1) === viaDerived.getLong(1))
    // both are estimates of the same filtered count from the same sample
    assert(viaView.getLong(0) === viaDerived.getLong(0))
    spark.sql("DROP VIEW IF EXISTS li_ec_v4")
  }

  test("query on a VIEW over the base table still uses AQP (SNAP-3131)") {
    spark.sql("CREATE OR REPLACE TEMPORARY VIEW li_ec_view AS " +
      "SELECT * FROM li_ec WHERE l_quantity IS NOT NULL")
    try {
      val df = gs.sql(
        """SELECT l_returnflag, sum(l_quantity) AS s, absolute_error(s) AS ae
          |FROM li_ec_view GROUP BY 1 ORDER BY 1 WITH ERROR 0.9""".stripMargin)
      // the view body is base + filter — not plan-equal to the bare base.
      // The sample substitutes the base SCAN under the view's filter and the
      // weight column threads through the View to the closed-form aggregate.
      assert(df.queryExecution.analyzed.treeString
        .contains(org.apache.spark.sql.graft.Weightage.WeightColumn),
        "view over the sampled base must still route via the sample")
      assert(df.collect().forall(_.getDouble(2) > 0.0))
    } finally spark.catalog.dropTempView("li_ec_view")
  }

  test("AQP-211: an unregistered table carrying the weight column is a sample") {
    // write a sample to parquet, read it back in with NO registration —
    // the presence of the hidden weightage column alone makes WITH ERROR
    // queries weight it (reference BootStrapBugTest AQP-211)
    gs // force base-view registration
    val dir = java.nio.file.Files.createTempDirectory("graft_aqp211").toString + "/s"
    graft.sampling.StratifiedSampler
      .sample(spark.table("li_ec"), Seq(org.apache.spark.sql.functions.col("l_returnflag")),
        fraction = 0.3, reservoirSize = 50, seed = 42L, rankCols = Nil)
      .write.parquet(dir)
    spark.read.parquet(dir).createOrReplaceTempView("li_raw_weighted")
    try {
      assert(!GraftState.of(spark).samples.keys.exists(_.contains("raw_weighted")))
      val df = gs.sql(
        """SELECT l_returnflag, sum(l_quantity) AS s, absolute_error(s) AS ae
          |FROM li_raw_weighted GROUP BY 1 ORDER BY 1 WITH ERROR 0.9""".stripMargin)
      val rows = df.collect()
      assert(org.apache.spark.sql.graft.AqpInfo.usesSample(df))
      // weighted estimates land near the full-table truth, errors bound them
      val truth = spark.sql(
        "SELECT l_returnflag, sum(l_quantity) s FROM li_ec GROUP BY 1")
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      rows.foreach { r =>
        val t = truth(r.getString(0))
        assert(math.abs(r.getDouble(1) - t) / t < 0.35,
          s"${r.getString(0)}: ${r.getDouble(1)} vs $t (unweighted would be ~0.3x)")
        assert(r.getDouble(2) > 0.0)
      }
      // min/max over unknown QCS must NOT ride the inline sample
      val mm = gs.sql(
        """SELECT l_returnflag, min(l_quantity) AS m, sum(l_quantity) AS s
          |FROM li_raw_weighted GROUP BY 1 WITH ERROR 0.9""".stripMargin)
      assert(!org.apache.spark.sql.graft.AqpInfo.usesSample(mm))
    } finally spark.catalog.dropTempView("li_raw_weighted")
  }

  test("AQP-211 literal scenario: ungrouped count/sum/avg on a copied sample table") {
    // the reference's exact Bug-AQP211 sequence (ClosedFormBugTest.scala:51):
    // copy a sample's rows INCLUDING the weight column into a plain table,
    // then run ungrouped count(*)/sum/avg WITH an error function on the
    // copy — estimates must equal the Horvitz-Thompson values the weights
    // encode, count lands on the base total, sum/avg report positive error
    gs
    val dir = java.nio.file.Files.createTempDirectory("graft_aqp211b").toString + "/s"
    graft.sampling.StratifiedSampler
      .sample(spark.table("li_ec"), Seq(org.apache.spark.sql.functions.col("l_returnflag")),
        fraction = 0.3, reservoirSize = 50, seed = 42L, rankCols = Nil)
      .write.parquet(dir)
    spark.read.parquet(dir).createOrReplaceTempView("li_copy_w")
    try {
      import graft.functions._
      import org.apache.spark.sql.functions.{col, sum}
      def num(r: org.apache.spark.sql.Row, i: Int): Double = r.get(i) match {
        case l: java.lang.Long => l.toDouble
        case d: java.lang.Double => d
        case x => fail(s"non-numeric cell $x")
      }
      // manual HT values from the copy's own rows + decoded weights
      val w = sample_weight(col(weightColumn))
      val Array(htCount, htSum) = spark.table("li_copy_w")
        .agg(sum(w), sum(col("l_quantity") * w)).collect()(0)
        .toSeq.map(_.asInstanceOf[Double]).toArray
      val baseCount = spark.table("li_ec").count().toDouble

      val r1 = gs.sql(
        "SELECT count(*) AS x, absolute_error(x) FROM li_copy_w WITH ERROR 0.9")
        .collect()(0)
      assert(math.abs(num(r1, 0) - htCount) < 2, s"count ${num(r1, 0)} vs $htCount")
      assert(math.abs(num(r1, 0) - baseCount) < 2,
        "the weighted count must land on the base total")

      val r2 = gs.sql(
        "SELECT sum(l_quantity) AS x, absolute_error(x) FROM li_copy_w WITH ERROR 0.9")
        .collect()(0)
      assert(math.abs(num(r2, 0) - htSum) <= 1e-6 * math.abs(htSum))
      assert(r2.getDouble(1) > 0.0, "sum on a 30% sample must report error")

      val r3 = gs.sql(
        "SELECT avg(l_quantity) AS x, absolute_error(x) FROM li_copy_w WITH ERROR 0.9")
        .collect()(0)
      assert(math.abs(num(r3, 0) - htSum / htCount) <= 1e-6 * (htSum / htCount))
      assert(r3.getDouble(1) > 0.0, "avg on a 30% sample must report error")

      // DOCUMENTED DELTA from the reference: it forces BOOTSTRAP here
      // because its closed-form stats require a stratum to be seen whole
      // by one aggregator, and a copied table loses that guarantee. Our
      // struct aggregate keys per-stratum moments by the weight's embedded
      // key hash, so strata recombine correctly across any partition
      // layout and closed form stays valid (SURVEY §4's aggregate design).
      val df = gs.sql(
        "SELECT sum(l_quantity) AS x, absolute_error(x) FROM li_copy_w WITH ERROR 0.9")
      assert(org.apache.spark.sql.graft.AqpInfo.analysisOf(df) === "closedform")
    } finally spark.catalog.dropTempView("li_copy_w")
  }

  test("mixed aggregates in one query equal each aggregate queried alone") {
    // reference 'Test sample table query on mixed aggregates with group by':
    // sharing one sample scan across sum/avg/count must not change any of
    // them vs single-aggregate queries
    def one(agg: String) = gs.sql(
      s"""SELECT l_returnflag, $agg AS x, absolute_error(x) AS ae
         |FROM li_ec GROUP BY 1 ORDER BY 1 WITH ERROR 0.9""".stripMargin)
      .collect().map(r => r.getString(0) -> r.get(1)).toMap
    val mixed = gs.sql(
      """SELECT l_returnflag, sum(l_quantity) AS x, avg(l_quantity) AS y,
        |       count(l_quantity) AS z, absolute_error(x) AS ae
        |FROM li_ec GROUP BY 1 ORDER BY 1 WITH ERROR 0.9""".stripMargin).collect()
    val (s1, a1, c1) = (one("sum(l_quantity)"), one("avg(l_quantity)"),
      one("count(l_quantity)"))
    mixed.foreach { r =>
      val k = r.getString(0)
      assert(r.get(1) === s1(k), s"$k sum differs")
      assert(r.get(2) === a1(k), s"$k avg differs")
      assert(r.get(3) === c1(k), s"$k count differs")
    }
  }

  test("HAVING with partial routing (AQP-217)") {
    val rows = gs.sql(
      """SELECT l_returnflag, sum(l_extendedprice) AS s
        |FROM li_ec GROUP BY 1 HAVING sum(l_extendedprice) > 0
        |ORDER BY 1
        |WITH ERROR 0.0000001 BEHAVIOR 'partial_run_on_base_table'""".stripMargin)
      .collect()
    val truth = spark.sql(
      """SELECT l_returnflag, sum(l_extendedprice) s FROM li_ec
        |GROUP BY 1 HAVING sum(l_extendedprice) > 0 ORDER BY 1""".stripMargin)
      .collect()
    assert(rows.length === truth.length)
    rows.zip(truth).foreach { case (a, x) =>
      assert(a.getString(0) === x.getString(0))
      assert(math.abs(a.getDouble(1) - x.getDouble(1)) < 1e-6)
    }
  }

  test("AQP-128/96/206/77: function-name aliases, case-insensitive error-fn refs") {
    // the reference aliases aggregates as COUNT/COUNT1 and references them
    // from error functions in a different case — alias binding must be
    // case-insensitive and reserved-ish alias names must not confuse the
    // rewrite; the duplicated aggregate must come back identical
    val rows = gs.sql(
      """SELECT l_returnflag, avg(l_quantity) AS COUNT, avg(l_quantity) AS COUNT1,
        |       absolute_error(count1) AS ae
        |FROM li_ec GROUP BY l_returnflag ORDER BY l_returnflag DESC
        |WITH ERROR 0.9""".stripMargin).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(math.abs(r.getDouble(1) - r.getDouble(2)) < 1e-9,
        "identical aggregates under different aliases must agree")
      assert(r.getDouble(3) >= 0.0)
    }
    // descending order actually applied
    val flags = rows.map(_.getString(0))
    assert(flags === flags.sorted.reverse)
  }

  test("BEHAVIOR-only clause with HAVING on a plain aggregate (AQP-128 rs2 shape)") {
    val df = gs.sql(
      """SELECT l_returnflag, avg(l_quantity) AS a
        |FROM li_ec GROUP BY l_returnflag
        |HAVING avg(l_quantity) > 20 BEHAVIOR 'do_nothing'""".stripMargin)
    assert(org.apache.spark.sql.graft.AqpInfo.usesSample(df),
      "BEHAVIOR-only clause must still route through the sample")
    val rows = df.collect()
    rows.foreach(r => assert(r.getDouble(1) > 20,
      "HAVING must filter on the weighted estimate"))
  }

  test("AQP-225: join of two aggregated+limited subqueries under implicit AQP") {
    spark.read.parquet(s"$sf/orders.parquet").createOrReplaceTempView("ord_ec")
    // the exact oracle runs before the session property makes spark.sql
    // approximate
    val exact = spark.sql(
      "SELECT l_linestatus, count(l_quantity) FROM li_ec GROUP BY 1")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    spark.conf.set("spark.sql.aqp.error", "0.9")
    try {
      // sampled side: top groups of lineitem by estimated count; exact side:
      // top orders customers — one sample per query, the join stays sane
      // l_linestatus (O/F) overlaps o_orderstatus (O/F/P)
      val df = gs.sql(
        """SELECT t.l_linestatus, t.trips, e.earn FROM
          | (SELECT l_linestatus, count(l_quantity) AS trips
          |  FROM li_ec GROUP BY l_linestatus ORDER BY trips DESC LIMIT 10) t
          |JOIN
          | (SELECT o_orderstatus, sum(o_totalprice) AS earn
          |  FROM ord_ec GROUP BY o_orderstatus ORDER BY earn DESC LIMIT 10) e
          |ON t.l_linestatus = e.o_orderstatus
          |ORDER BY e.earn DESC""".stripMargin)
      val rows = df.collect()
      assert(rows.nonEmpty)
      // estimated trip counts are near the exact ones (implicit AQP applied)
      rows.foreach { r =>
        val rel = math.abs(r.getLong(1).toDouble / exact(r.getString(0)) - 1)
        assert(rel < 0.2, s"${r.getString(0)} estimate off by $rel")
      }
    } finally spark.conf.unset("spark.sql.aqp.error")
  }
}
