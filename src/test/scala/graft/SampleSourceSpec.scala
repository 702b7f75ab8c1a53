package graft

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** DataSource-format surface for sample tables (reference
 * `SnappyContext.SAMPLE_SOURCE` / `SamplingDataSourceAPITest`). */
class SampleSourceSpec extends AnyFunSuite {
  import TestSpark._

  private lazy val li = spark.read.parquet(s"$sf/lineitem.parquet")

  test("write.format(graft-sample) samples and persists; read restores with pushdown") {
    val dir = java.nio.file.Files.createTempDirectory("graft_src_").toString + "/s1"
    li.write.format("graft-sample")
      .option("qcs", "l_returnflag").option("fraction", "0.2")
      .option("baseTable", "lineitem")
      .mode(SaveMode.Overwrite).save(dir)
    val back = spark.read.format("graft-sample").option("path", dir).load()
    assert(back.columns.contains(graft.functions.weightColumn))
    val n = back.count()
    assert(n > 0 && n < li.count(), s"sampled $n of ${li.count()}")
    // the read path must be the real parquet relation: filters push down
    val plan = back.filter(col("l_quantity") > 25)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") &&
      plan.contains("GreaterThan(l_quantity,25"), s"no pushdown:\n$plan")
    // weighted count estimates the base total
    val est = back.agg(graft.functions.weighted_count(col("l_returnflag")))
      .collect()(0).getDouble(0)
    assert(math.abs(est / li.count() - 1.0) < 0.05, s"estimate $est")
  }

  test("save modes: ErrorIfExists throws, Ignore no-ops, Append re-samples the batch") {
    val dir = java.nio.file.Files.createTempDirectory("graft_src_").toString + "/s2"
    def write(mode: SaveMode) = li.write.format("graft-sample")
      .option("qcs", "l_returnflag").option("fraction", "0.1")
      .mode(mode).save(dir)
    write(SaveMode.Overwrite)
    val n1 = spark.read.parquet(dir).count()
    intercept[IllegalArgumentException] { write(SaveMode.ErrorIfExists) }
    write(SaveMode.Ignore)
    assert(spark.read.parquet(dir).count() === n1, "Ignore must not rewrite")
    write(SaveMode.Append)
    val n2 = spark.read.parquet(dir).count()
    assert(n2 > n1, "Append must add a re-sampled batch")
  }

  test("Append inherits the stored stratification; conflicting options fail fast") {
    val dir = java.nio.file.Files.createTempDirectory("graft_src_").toString + "/s4"
    li.write.format("graft-sample")
      .option("qcs", "l_returnflag").option("fraction", "0.1")
      .option("baseTable", "lineitem")
      .mode(SaveMode.Overwrite).save(dir)
    // optionless append inherits qcs/fraction from the stored meta (it must
    // NOT degrade to the qcs-less defaults) and preserves the baseName
    li.write.format("graft-sample").mode(SaveMode.Append).save(dir)
    val conf = spark.sessionState.newHadoopConf()
    val Some((base, qcs, fraction, _)) = GraftSession.readSampleMeta(dir, conf)
    assert(base === "lineitem", "append must not clobber the stored baseName")
    assert(qcs === Seq("l_returnflag") && fraction === 0.1,
      s"append must keep the stored scheme, got qcs=$qcs fraction=$fraction")
    // a conflicting scheme is an error, not a silent mix
    val e = intercept[IllegalArgumentException] {
      li.write.format("graft-sample")
        .option("qcs", "l_shipmode").option("fraction", "0.1")
        .mode(SaveMode.Append).save(dir)
    }
    assert(e.getMessage.contains("was created with"))
    intercept[IllegalArgumentException] {
      li.write.format("graft-sample").option("fraction", "0.5")
        .mode(SaveMode.Append).save(dir)
    }
    // matching options are accepted
    li.write.format("graft-sample")
      .option("qcs", "l_returnflag").option("fraction", "0.1")
      .mode(SaveMode.Append).save(dir)
  }

  test("Append with timeSeriesColumn: restating the original options neither conflicts nor duplicates the time stratum") {
    val dir = java.nio.file.Files.createTempDirectory("graft_src_").toString + "/s5"
    val withTs = li.withColumn("ts_ms", (col("l_orderkey") % 30) * 86400000L)
    def write(mode: SaveMode) = withTs.write.format("graft-sample")
      .option("qcs", "l_returnflag").option("fraction", "0.2")
      .option("timeSeriesColumn", "ts_ms").option("timeInterval", "86400000")
      .option("timeUnit", "ms")
      .mode(mode).save(dir)
    write(SaveMode.Overwrite)
    val conf = spark.sessionState.newHadoopConf()
    val qcsAfterCreate = GraftSession.readSampleMeta(dir, conf).get._2
    assert(qcsAfterCreate.size === 2,
      s"combined qcs = declared + one derived time slot, got $qcsAfterCreate")
    // restating the SAME options must not be flagged as drift (the stored
    // combined qcs embeds the derived slot; the check compares declared)
    write(SaveMode.Append)
    val qcsAfterAppend = GraftSession.readSampleMeta(dir, conf).get._2
    assert(qcsAfterAppend === qcsAfterCreate,
      s"append must not grow the stratification: $qcsAfterAppend")
    // optionless append inherits everything — still no duplicate slot
    withTs.write.format("graft-sample").mode(SaveMode.Append).save(dir)
    assert(GraftSession.readSampleMeta(dir, conf).get._2 === qcsAfterCreate)
    // an actually different time interval is drift
    val e = intercept[IllegalArgumentException] {
      withTs.write.format("graft-sample")
        .option("timeSeriesColumn", "ts_ms").option("timeInterval", "3600000")
        .mode(SaveMode.Append).save(dir)
    }
    assert(e.getMessage.contains("timeinterval"))
  }

  test("splitTopLevel handles quoted commas, '' and backslash escapes, rejects unbalanced input") {
    import GraftSession.{splitTopLevel => split}
    assert(split("a, substr(b, 1, 3)") === Seq("a", "substr(b, 1, 3)"))
    assert(split("concat(region, ', ', nation)") ===
      Seq("concat(region, ', ', nation)"))
    assert(split("concat(a, 'it''s, fine'), b") ===
      Seq("concat(a, 'it''s, fine')", "b"))
    assert(split("concat(a, 'don\\'t, stop'), b") ===
      Seq("concat(a, 'don\\'t, stop')", "b"))
    assert(split("'(', b") === Seq("'('", "b"))
    intercept[IllegalArgumentException] { split("f(a, b") }
    intercept[IllegalArgumentException] { split("f(a)) , b") }
    intercept[IllegalArgumentException] { split("a, 'unterminated") }
  }

  test("the written path re-attaches as a registered sample (meta round-trip)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_src_").toString + "/s3"
    li.createOrReplaceTempView("li_src_base")
    li.write.format("graft-sample")
      .option("qcs", "l_returnflag").option("fraction", "0.2")
      .option("baseTable", "li_src_base")
      .mode(SaveMode.Overwrite).save(dir)
    val gs = new GraftSession(spark)
    gs.attachSampleTable("li_src_attached", dir)
    try {
      val info = GraftState.of(spark).samples("li_src_attached")
      assert(info.qcs === Seq("l_returnflag") && info.fraction === 0.2)
      val rows = gs.sql(
        """SELECT l_returnflag, sum(l_quantity) AS s, absolute_error(s) AS ae
          |FROM li_src_base GROUP BY 1 WITH ERROR 0.5""".stripMargin).collect()
      assert(rows.nonEmpty)
      rows.foreach(r => assert(r.getDouble(2) > 0.0))
    } finally gs.dropSampleTable("li_src_attached")
  }

  test("a graft-sample append keeps the stream watermarks: a replayed batch stays fenced") {
    import spark.implicits._
    val gs = GraftSession(spark)
    val dir = java.nio.file.Files.createTempDirectory("graft_src_").toString + "/s6"
    Seq("seed").toDF("event_type").createOrReplaceTempView("ss_wm_base")
    gs.sql("CREATE SAMPLE TABLE ss_wm ON ss_wm_base OPTIONS(" +
      s"qcs 'event_type', fraction '1.0', path '$dir')")
    try {
      gs.appendToSampleForBatch("ss_wm", Seq.fill(10)("b0").toDF("event_type"), "ss_wm_stream", 0L)
      gs.appendToSampleForBatch("ss_wm", Seq.fill(10)("b1").toDF("event_type"), "ss_wm_stream", 1L)
      Seq.fill(5)("adhoc").toDF("event_type").write.format("graft-sample")
        .mode(SaveMode.Append).save(dir)
      val conf = spark.sessionState.newHadoopConf()
      def rows() = {
        spark.catalog.refreshByPath(dir)
        spark.read.parquet(dir).groupBy("event_type").count().collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
      }
      val before = rows()
      assert(before.get("adhoc") === Some(5L) && before.get("b1") === Some(10L))
      assert(GraftSession.readSampleMetaProp(dir, "__streambatch.ss_wm_stream", conf) === Some("1"),
        "the append must keep the stream watermark")
      gs.appendToSampleForBatch("ss_wm", Seq.fill(3)("replay").toDF("event_type"), "ss_wm_stream", 1L)
      assert(rows() === before, "a replay of batch 1 must be fenced")
    } finally gs.dropSampleTable("ss_wm")
  }
}
