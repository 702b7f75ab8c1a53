package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * The one wiring: `GraftExtensions` comes with the jar, so every session
 * supports the whole AQP SQL surface through plain `spark.sql(...)` —
 * parser, DDL commands, post-hoc rewrite, error functions, HAC strategy —
 * and `GraftSession.sql` is the same route. `ext` also names the
 * extensions explicitly, so it holds them twice over.
 */
class ExtensionsSpec extends AnyFunSuite {
  import org.apache.spark.sql.graft.{AqpInfo, ErrorConfidence}

  private def errorConfidences(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Int =
    plan.collect { case e: ErrorConfidence => e }.size

  private lazy val ext: SparkSession = {
    // force TestSpark's context into existence first so we attach to it
    val base = TestSpark.spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master("local[4]")
      .withExtensions(new org.apache.spark.sql.graft.GraftExtensions)
      .getOrCreate()
    SparkSession.setDefaultSession(base)
    SparkSession.setActiveSession(base)
    assert(s ne base, "must be a fresh session with extensions applied")
    s
  }

  test("full AQP flow through plain spark.sql on an extensions session") {
    val prev = SparkSession.getActiveSession
    SparkSession.setActiveSession(ext)
    try {
      ext.read.parquet(s"${TestSpark.sf}/lineitem.parquet")
        .createOrReplaceTempView("li_ext")
      ext.sql("CREATE SAMPLE TABLE li_ext_sample ON li_ext " +
        "OPTIONS(qcs 'l_returnflag', fraction '1.0')")

      val rows = ext.sql(
        """SELECT l_returnflag, round(sum(l_quantity), 4) AS s,
          |       round(absolute_error(s), 6) AS abs_err
          |FROM li_ext GROUP BY l_returnflag ORDER BY l_returnflag
          |WITH ERROR 0.9""".stripMargin).collect()
      assert(rows.length === 3)
      // full-fraction sample + rewrite: errors exactly zero, estimate exact
      val exact = ext.sql(
        "SELECT l_returnflag, round(sum(l_quantity), 4) FROM li_ext GROUP BY 1 ORDER BY 1")
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      rows.foreach { r =>
        assert(r.getDouble(1) === exact(r.getString(0)))
        assert(r.getDouble(2) === 0.0)
      }

      ext.sql("DROP SAMPLE TABLE li_ext_sample")
      assert(!GraftState.of(ext).samples.contains("li_ext_sample"))
    } finally {
      SparkSession.setActiveSession(prev.orNull)
    }
  }

  test("TopK INSERT and path re-attach run once through plain spark.sql") {
    val prev = SparkSession.getActiveSession
    SparkSession.setActiveSession(ext)
    try {
      ext.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      TestSpark.eventsLongNs(ext, TestSpark.sf)
        .createOrReplaceTempView("ev_ext")
      val dir = java.nio.file.Files.createTempDirectory("graft_exttk_").toString + "/tk"
      ext.sql("CREATE TOPK TABLE tk_ext ON ev_ext OPTIONS(key 'event_type', " +
        s"size '5', streamSummary 'true', capacity '100000', path '$dir')")
      val gs = new GraftSession(ext)
      val base = gs.queryTopK("tk_ext", k = 3).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      // the command must execute exactly once per statement: counts double,
      // never triple (the double-wrapped-Dataset hazard)
      ext.sql("INSERT INTO tk_ext SELECT * FROM ev_ext")
      val doubled = gs.queryTopK("tk_ext", k = 3).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      base.foreach { case (k, v) => assert(doubled(k) === 2 * v, s"$k") }
      // restart: registry forgotten, IF NOT EXISTS re-attaches the
      // post-insert snapshot (no base replay)
      GraftState.of(ext).topks.remove("tk_ext")
      GraftState.of(ext).topkPaths.remove("tk_ext")
      ext.catalog.dropTempView("tk_ext")
      ext.sql("CREATE TOPK TABLE IF NOT EXISTS tk_ext ON ev_ext OPTIONS(" +
        s"key 'event_type', size '5', streamSummary 'true', capacity '100000', path '$dir')")
      val attached = gs.queryTopK("tk_ext", k = 3).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(attached === doubled)
      ext.sql("DROP TOPK TABLE tk_ext")
    } finally {
      SparkSession.setActiveSession(prev.orNull)
    }
  }

  test("new grammar surface through plain spark.sql: standalone clause, INSERT, implicit AQP") {
    val prev = SparkSession.getActiveSession
    SparkSession.setActiveSession(ext)
    try {
      ext.read.parquet(s"${TestSpark.sf}/lineitem.parquet")
        .createOrReplaceTempView("li_ext2")
      ext.sql("CREATE SAMPLE TABLE li_ext2_s OPTIONS(qcs 'l_returnflag', " +
        "fraction '1.0', baseTable 'li_ext2')") // baseTable form, no ON
      try {
        // standalone CONFIDENCE clause (no WITH ERROR)
        val viaConf = ext.sql(
          """SELECT l_returnflag, round(sum(l_quantity), 4) AS s
            |FROM li_ext2 GROUP BY 1 CONFIDENCE .95""".stripMargin)
          .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
        val exact = ext.sql(
          "SELECT l_returnflag, round(sum(l_quantity), 4) FROM li_ext2 GROUP BY 1")
          .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
        assert(viaConf === exact)

        // INSERT INTO a schema-form sample through the injected parser
        ext.sql("CREATE SAMPLE TABLE li_ext2_ins (l_returnflag string, " +
          "l_quantity double) OPTIONS(qcs 'l_returnflag', fraction '1.0')")
        try {
          ext.sql("INSERT INTO li_ext2_ins " +
            "SELECT l_returnflag, l_quantity FROM li_ext2")
          val got = ext.sql(
            "SELECT round(sum(l_quantity), 4) AS s FROM li_ext2_ins WITH ERROR 0.9")
            .collect()(0).getDouble(0)
          val want = ext.sql("SELECT round(sum(l_quantity), 4) FROM li_ext2")
            .collect()(0).getDouble(0)
          assert(got === want)
        } finally ext.sql("DROP SAMPLE TABLE li_ext2_ins")

        // implicit session-wide AQP under the extensions wiring
        ext.conf.set("spark.sql.aqp.error", "0.9")
        try {
          val df = ext.sql(
            "SELECT l_returnflag, sum(l_quantity) AS s FROM li_ext2 GROUP BY 1")
          assert(org.apache.spark.sql.graft.AqpInfo.usesSample(df))
        } finally ext.conf.unset("spark.sql.aqp.error")
      } finally ext.sql("DROP SAMPLE TABLE li_ext2_s")
    } finally {
      SparkSession.setActiveSession(prev.orNull)
    }
  }

  test("streaming DDL runs through plain spark.sql on an extensions session") {
    val prev = SparkSession.getActiveSession
    SparkSession.setActiveSession(ext)
    try {
      import ext.implicits._
      val srcDir = java.nio.file.Files.createTempDirectory("graft_ext_stream").toString
      (1L to 100L).map(i => (i % 4, if (i % 2 == 0) "a" else "b"))
        .toDF("user_id", "grp").coalesce(1)
        .write.mode("append").parquet(s"$srcDir/in")

      ext.sql("STREAMING INIT 0 MS")
      ext.sql("CREATE STREAM TABLE ev_ext_stream (user_id long, grp string) " +
        s"USING parquet OPTIONS(path '$srcDir/in', historypath '$srcDir/hist')")
      ext.sql("CREATE TOPK TABLE ev_ext_topk ON ev_ext_stream " +
        "OPTIONS(key 'user_id', streamSummary 'true', capacity '1000', size '2')")
      ext.sql("STREAMING START")
      try {
        GraftState.of(ext).activeStreams("ev_ext_stream").processAllAvailable()
        assert(ext.sql("SELECT count(*) FROM ev_ext_stream").collect()(0).getLong(0) === 100)
        // TopK populated from the stream, queryable as a table via SQL
        val top = ext.sql(
          "SELECT user_id, estimated_value FROM ev_ext_topk ORDER BY estimated_value DESC")
          .collect()
        assert(top.nonEmpty && top(0).getLong(1) === 25L) // 100 rows over 4 keys
      } finally {
        ext.sql("STREAMING STOP")
        ext.sql("DROP TOPK TABLE IF EXISTS ev_ext_topk")
        ext.sql("DROP STREAM TABLE IF EXISTS ev_ext_stream")
      }
    } finally {
      SparkSession.setActiveSession(prev.orNull)
    }
  }

  test("explicit registration on top of the provider's: one set of hooks, same answers") {
    // ext got GraftExtensions from the provider and from withExtensions
    assert(ext.sessionState.analyzer.postHocResolutionRules
      .count(_.isInstanceOf[org.apache.spark.sql.graft.AqpRewrite]) === 1)
    val spark = TestSpark.spark
    val gs = GraftSession(spark)
    spark.read.parquet(s"${TestSpark.sf}/lineitem.parquet")
      .createOrReplaceTempView("li_twice")
    gs.sql("CREATE SAMPLE TABLE li_twice_s ON li_twice " +
      "OPTIONS(qcs 'l_returnflag', fraction '0.3', seed '7')")
    val prev = SparkSession.getActiveSession
    SparkSession.setActiveSession(ext)
    try {
      ext.read.parquet(s"${TestSpark.sf}/lineitem.parquet")
        .createOrReplaceTempView("li_twice")
      ext.sql("CREATE SAMPLE TABLE li_twice_s ON li_twice " +
        "OPTIONS(qcs 'l_returnflag', fraction '0.3', seed '7')")
      val q = "SELECT l_returnflag, round(sum(l_quantity), 4) AS s, " +
        "round(absolute_error(s), 4) AS ae FROM li_twice GROUP BY 1 ORDER BY 1"
      spark.conf.set("spark.sql.aqp.error", "0.9")
      ext.conf.set("spark.sql.aqp.error", "0.9")
      try {
        // implicit, and an explicit clause under the session property
        Seq(q, q + " WITH ERROR 0.5").foreach { text =>
          val viaExt = ext.sql(text)
          assert(errorConfidences(viaExt.queryExecution.logical) === 1, text)
          assert(AqpInfo.usesSample(viaExt), text)
          assert(viaExt.collect().toSeq === gs.sql(text).collect().toSeq, text)
        }
      } finally {
        spark.conf.unset("spark.sql.aqp.error")
        ext.conf.unset("spark.sql.aqp.error")
        ext.sql("DROP SAMPLE TABLE li_twice_s")
      }
    } finally {
      SparkSession.setActiveSession(prev.orNull)
      gs.sql("DROP SAMPLE TABLE li_twice_s")
    }
  }

  test("GraftSession.sql is spark.sql: a WITH ERROR query is rewritten inside its one analysis") {
    val spark = TestSpark.spark
    val gs = GraftSession(spark)
    spark.read.parquet(s"${TestSpark.sf}/lineitem.parquet")
      .createOrReplaceTempView("li_route")
    gs.sql("CREATE SAMPLE TABLE li_route_s ON li_route " +
      "OPTIONS(qcs 'l_returnflag', fraction '0.3')")
    try {
      val df = gs.sql("SELECT l_returnflag, sum(l_quantity) AS s FROM li_route " +
        "GROUP BY 1 WITH ERROR 0.9")
      // the parsed plan, clause and all
      assert(errorConfidences(df.queryExecution.logical) === 1)
      assert(df.queryExecution.logical.collectFirst {
        case e: ErrorConfidence => e.error
      } === Some(Some(0.9)))
      // the analysis consumed the clause and routed to the sample
      assert(errorConfidences(df.queryExecution.analyzed) === 0)
      assert(AqpInfo.usesSample(df))
      // SHOW is a command like any other: its rows come back as its result
      assert(gs.sql("SHOW SAMPLE TABLES").collect()
        .exists(_.getString(0) == "li_route_s"))
    } finally gs.sql("DROP SAMPLE TABLE li_route_s")
  }

  test("TopK INSERT through GraftSession.sql counts double, never triple") {
    val spark = TestSpark.spark
    val gs = GraftSession(spark)
    TestSpark.eventsLongNs(spark).createOrReplaceTempView("ev_route")
    gs.sql("CREATE TOPK TABLE tk_route ON ev_route OPTIONS(key 'event_type', " +
      "size '5', streamSummary 'true', capacity '100000')")
    try {
      val base = gs.queryTopK("tk_route", k = 3).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      gs.sql("INSERT INTO tk_route SELECT * FROM ev_route")
      val doubled = gs.queryTopK("tk_route", k = 3).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      base.foreach { case (k, v) => assert(doubled(k) === 2 * v, s"$k") }
    } finally gs.sql("DROP TOPK TABLE tk_route")
  }
}
