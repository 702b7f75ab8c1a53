package graft

import org.apache.spark.sql.functions.{col, sum}
import org.apache.spark.sql.graft.ErrorLimitExceededException
import org.scalatest.funsuite.AnyFunSuite

class AqpSqlSpec extends AnyFunSuite {
  import TestSpark._

  private lazy val gs: GraftSession = {
    val g = new GraftSession(spark)
    spark.read.parquet(s"$sf/lineitem.parquet").createOrReplaceTempView("lineitem")
    spark.read.parquet(s"$sf/orders.parquet").createOrReplaceTempView("orders")
    g
  }

  private def exactByFlag: Map[String, Double] =
    spark.sql("SELECT l_returnflag, sum(l_quantity) s FROM lineitem GROUP BY 1")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap

  test("CREATE SAMPLE TABLE + WITH ERROR: estimates near truth, error fns bound") {
    gs.sql("CREATE SAMPLE TABLE li_sample ON lineitem OPTIONS(qcs 'l_returnflag', fraction '0.2')")
    try {
      val df = gs.sql(
        """SELECT l_returnflag, sum(l_quantity) AS sum_qty,
          |       absolute_error(sum_qty) AS abs_err,
          |       relative_error(sum_qty) AS rel_err,
          |       lower_bound(sum_qty) AS lb, upper_bound(sum_qty) AS ub
          |FROM lineitem GROUP BY l_returnflag
          |WITH ERROR 0.5 CONFIDENCE 0.95""".stripMargin)
      val rows = df.collect()
      assert(rows.nonEmpty)
      val exact = exactByFlag
      rows.foreach { r =>
        val (flag, est, abs, rel, lb, ub) = (r.getString(0), r.getDouble(1),
          r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))
        assert(abs > 0.0 && rel > 0.0)
        assert(lb <= est && est <= ub)
        assert(math.abs(est - exact(flag)) / exact(flag) < 0.2, s"$flag off: $est vs ${exact(flag)}")
      }
    } finally gs.dropSampleTable("li_sample")
  }

  test("full-fraction sample through SQL gives exact estimates, zero error") {
    gs.sql("CREATE SAMPLE TABLE li_full ON lineitem OPTIONS(qcs 'l_returnflag', fraction '1.0')")
    val rows = gs.sql(
      """SELECT l_returnflag, sum(l_quantity) AS sum_qty, avg(l_quantity) AS avg_qty,
        |       count(*) AS cnt, absolute_error(sum_qty) AS abs_err
        |FROM lineitem GROUP BY l_returnflag WITH ERROR""".stripMargin).collect()
    val exact = exactByFlag
    val exactCnt = spark.sql("SELECT l_returnflag, count(*) c FROM lineitem GROUP BY 1")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      assert(math.abs(r.getDouble(1) - exact(r.getString(0))) < 1e-6)
      assert(r.getLong(3) === exactCnt(r.getString(0)))
      assert(r.getDouble(4) === 0.0)
    }
    gs.dropSampleTable("li_full")
  }

  test("no registered sample: query routes to base, error fns are 0") {
    gs.state.samples.keys.toSeq.foreach(gs.dropSampleTable) // isolate from other suites
    val rows = gs.sql(
      """SELECT l_returnflag, sum(l_quantity) AS s, absolute_error(s) AS e
        |FROM lineitem GROUP BY l_returnflag WITH ERROR 0.1""".stripMargin).collect()
    val exact = exactByFlag
    rows.foreach { r =>
      assert(r.getDouble(1) === exact(r.getString(0)))
      assert(r.getDouble(2) === 0.0)
    }
  }

  test("distinct aggregate routes to base") {
    gs.sql("CREATE SAMPLE TABLE li_s2 ON lineitem OPTIONS(qcs 'l_returnflag', fraction '0.1')")
    val got = gs.sql(
      "SELECT count(DISTINCT l_orderkey) AS c FROM lineitem WITH ERROR 0.1")
      .collect()(0).getLong(0)
    val want = spark.sql("SELECT count(DISTINCT l_orderkey) FROM lineitem")
      .collect()(0).getLong(0)
    assert(got === want)
    gs.dropSampleTable("li_s2")
  }

  test("behavior strict: throws when error exceeds limit, passes when loose") {
    gs.sql("CREATE SAMPLE TABLE li_s3 ON lineitem OPTIONS(qcs 'l_returnflag', fraction '0.05')")
    val tight = gs.sql(
      """SELECT l_returnflag, sum(l_quantity) AS s FROM lineitem
        |GROUP BY l_returnflag WITH ERROR 0.000001 BEHAVIOR 'strict'""".stripMargin)
    val ex = intercept[Exception] { tight.collect() }
    def rootCause(t: Throwable): Throwable =
      if (t.getCause == null || t.getCause == t) t else rootCause(t.getCause)
    assert(ex.isInstanceOf[ErrorLimitExceededException] ||
      rootCause(ex).isInstanceOf[ErrorLimitExceededException] ||
      ex.getMessage.contains("relative error"))

    val loose = gs.sql(
      """SELECT l_returnflag, sum(l_quantity) AS s FROM lineitem
        |GROUP BY l_returnflag WITH ERROR 0.99 BEHAVIOR 'strict'""".stripMargin)
    assert(loose.collect().length === 3)
    gs.dropSampleTable("li_s3")
  }

  test("behavior run_on_full_table: tight limit returns exact base results") {
    gs.sql("CREATE SAMPLE TABLE li_s4 ON lineitem OPTIONS(qcs 'l_returnflag', fraction '0.05')")
    val rows = gs.sql(
      """SELECT l_returnflag, sum(l_quantity) AS s FROM lineitem
        |GROUP BY l_returnflag WITH ERROR 0.0000001 BEHAVIOR 'run_on_full_table'""".stripMargin)
      .collect()
    val exact = exactByFlag
    assert(rows.length === exact.size)
    rows.foreach(r => assert(r.getDouble(1) === exact(r.getString(0))))
    gs.dropSampleTable("li_s4")
  }

  test("behavior partial_run_on_base_table: failing groups exact, all groups present") {
    gs.sql("CREATE SAMPLE TABLE li_s5 ON lineitem OPTIONS(qcs 'l_returnflag', fraction '0.05')")
    val rows = gs.sql(
      """SELECT l_returnflag, sum(l_quantity) AS s FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag
        |WITH ERROR 0.0000001 BEHAVIOR 'partial_run_on_base_table'""".stripMargin)
      .collect()
    val exact = exactByFlag
    assert(rows.length === exact.size)
    // with an impossible limit every group fails → all exact
    rows.foreach(r => assert(r.getDouble(1) === exact(r.getString(0))))
    // ordered output preserved
    assert(rows.map(_.getString(0)).toSeq === rows.map(_.getString(0)).toSeq.sorted)
    gs.dropSampleTable("li_s5")
  }

  test("partial routing with high-cardinality keys and a mixed pass/fail split") {
    // thousands of groups (l_orderkey) with a limit only some groups miss:
    // exercises the distributed pass/fail filters + failing-key semi-join in
    // HacExec — no driver-side materialization of group rows — and checks
    // every group is present exactly once with a value matching either the
    // estimate-or-exact contract
    // stratify by the group key itself so every group retains rows (the
    // strata floor), with small reservoirs so weights exceed 1 and per-group
    // errors split into genuine pass and fail subsets at the 0.5 limit
    gs.sql("CREATE SAMPLE TABLE li_s6 ON lineitem OPTIONS(qcs 'l_orderkey', " +
      "fraction '0.3', strataReservoirSize '2')")
    val rows = gs.sql(
      """SELECT l_orderkey, sum(l_quantity) AS s FROM lineitem
        |GROUP BY l_orderkey
        |ORDER BY l_orderkey
        |WITH ERROR 0.5 BEHAVIOR 'partial_run_on_base_table'""".stripMargin)
      .collect()
    val exact = spark.sql(
      "SELECT l_orderkey, sum(l_quantity) s FROM lineitem GROUP BY 1")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(rows.length === exact.size)
    assert(rows.map(_.getLong(0)).distinct.length === rows.length)
    assert(rows.map(_.getLong(0)).toSeq === rows.map(_.getLong(0)).toSeq.sorted)
    // every group is within 3x of truth or exactly the base value — sampled
    // estimates vary, rerouted groups must be exact; just sanity-bound all
    rows.foreach { r =>
      val t = exact(r.getLong(0))
      assert(r.getDouble(1) > 0 && r.getDouble(1) <= t * 4 + 1e-6,
        s"orderkey ${r.getLong(0)}: ${r.getDouble(1)} vs exact $t")
    }
    gs.dropSampleTable("li_s6")
  }

  test("CREATE SAMPLE TABLE IF NOT EXISTS skips rebuild; plain CREATE replaces") {
    gs.sql("CREATE SAMPLE TABLE li_ine ON lineitem OPTIONS(qcs 'l_returnflag', fraction '0.1')")
    val frac1 = gs.state.samples("li_ine").fraction
    gs.sql("CREATE SAMPLE TABLE IF NOT EXISTS li_ine ON lineitem " +
      "OPTIONS(qcs 'l_returnflag', fraction '0.7')")
    assert(gs.state.samples("li_ine").fraction === frac1) // untouched
    gs.sql("CREATE SAMPLE TABLE li_ine ON lineitem OPTIONS(qcs 'l_returnflag', fraction '0.7')")
    assert(gs.state.samples("li_ine").fraction === 0.7) // replaced
    gs.dropSampleTable("li_ine")
  }

  test("QCS-based sample selection picks the matching sample") {
    gs.sql("CREATE SAMPLE TABLE s_flag ON lineitem OPTIONS(qcs 'l_returnflag', fraction '0.3')")
    gs.sql("CREATE SAMPLE TABLE s_stat ON lineitem OPTIONS(qcs 'l_linestatus', fraction '0.3')")
    val picked = gs.state.pickSample("lineitem", Seq("l_linestatus"))
    assert(picked.map(_.name) === Some("s_stat"))
    val picked2 = gs.state.pickSample("lineitem", Seq("l_returnflag"))
    assert(picked2.map(_.name) === Some("s_flag"))
    gs.dropSampleTable("s_flag"); gs.dropSampleTable("s_stat")
  }

  test("CREATE SAMPLE TABLE ... AS SELECT samples a query result") {
    gs.sql("CREATE SAMPLE TABLE big_orders OPTIONS(qcs 'o_orderpriority', " +
      "fraction '1.0') AS SELECT * FROM orders WHERE o_totalprice > 100000")
    val n = spark.table("big_orders").count()
    val exact = spark.sql(
      "SELECT count(*) FROM orders WHERE o_totalprice > 100000")
      .collect()(0).getLong(0)
    assert(n === exact) // fraction 1.0 keeps every qualifying row
    assert(spark.table("big_orders").columns.contains(functions.weightColumn))
    gs.sql("DROP SAMPLE TABLE big_orders")
  }

  test("DROP SAMPLE TABLE removes the registration; IF EXISTS tolerant") {
    gs.sql("CREATE SAMPLE TABLE li_drop ON lineitem OPTIONS(qcs 'l_returnflag', fraction '0.1')")
    assert(gs.state.samples.contains("li_drop"))
    gs.sql("DROP SAMPLE TABLE li_drop")
    assert(!gs.state.samples.contains("li_drop"))
    gs.sql("DROP SAMPLE TABLE IF EXISTS li_drop") // no-op, no throw
    intercept[IllegalArgumentException] { gs.sql("DROP SAMPLE TABLE li_drop") }
  }

  test("CREATE SAMPLE TABLE with baseTable in OPTIONS (no ON clause)") {
    // the form the reference's own suites use most:
    // CREATE SAMPLE TABLE s OPTIONS(qcs ..., fraction ..., baseTable 't')
    gs.sql("CREATE SAMPLE TABLE li_optbase OPTIONS(qcs 'l_returnflag', " +
      "fraction '1.0', baseTable 'lineitem')")
    try {
      val info = gs.state.samples("li_optbase")
      assert(info.baseName === "lineitem")
      val rows = gs.sql(
        """SELECT l_returnflag, sum(l_quantity) AS s FROM lineitem
          |GROUP BY 1 WITH ERROR 0.9""".stripMargin).collect()
      val exact = exactByFlag
      rows.foreach(r => assert(math.abs(r.getDouble(1) - exact(r.getString(0))) < 1e-6))
    } finally gs.dropSampleTable("li_optbase")
  }

  test("schema-form standalone sample populated via INSERT INTO ... SELECT") {
    // reference `snappyAQPParsers` tableSchema arm + SamplingDataSourceAPITest
    // `df.write.insertInto(SAMPLE_TABLE)`: the sample starts empty and every
    // inserted batch is re-sampled per stratum; queries name the sample
    // directly. fraction 1.0 -> weights are 1, estimates exact over the
    // inserted rows.
    gs.sql("CREATE SAMPLE TABLE li_schema_s " +
      "(l_returnflag string, l_quantity double) " +
      "OPTIONS(qcs 'l_returnflag', fraction '1.0')")
    try {
      assert(gs.sql("SELECT count(*) AS c FROM li_schema_s").collect()(0).getLong(0) === 0L)
      gs.sql("INSERT INTO li_schema_s " +
        "SELECT l_returnflag, l_quantity FROM lineitem WHERE l_orderkey % 2 = 0")
      val half = gs.sql(
        """SELECT sum(l_quantity) AS s FROM li_schema_s
          |WITH ERROR 0.9""".stripMargin).collect()(0).getDouble(0)
      val exactHalf = spark.sql(
        "SELECT sum(l_quantity) FROM lineitem WHERE l_orderkey % 2 = 0")
        .collect()(0).getDouble(0)
      assert(math.abs(half - exactHalf) < 1e-6, s"$half vs $exactHalf")
      // second insert appends; estimates now cover both batches
      gs.sql("INSERT INTO li_schema_s " +
        "SELECT l_returnflag, l_quantity FROM lineitem WHERE l_orderkey % 2 = 1")
      val full = gs.sql(
        """SELECT sum(l_quantity) AS s FROM li_schema_s
          |WITH ERROR 0.9""".stripMargin).collect()(0).getDouble(0)
      val exactFull = spark.sql("SELECT sum(l_quantity) FROM lineitem")
        .collect()(0).getDouble(0)
      assert(math.abs(full - exactFull) < 1e-6, s"$full vs $exactFull")
    } finally gs.dropSampleTable("li_schema_s")
  }

  test("INSERT INTO a non-sample target still delegates to Spark") {
    // interception is keyed on the registered-sample set; a plain temp view
    // keeps Spark's own behavior (error for non-insertable view)
    intercept[Exception] {
      gs.sql("INSERT INTO lineitem SELECT * FROM lineitem LIMIT 1")
    }
  }

  test("INSERT INTO matches the registered sample case-insensitively") {
    // temp-view semantics: the target resolves to the registered key, so a
    // differently-cased INSERT appends instead of failing the exact-case
    // registry lookup
    gs.sql("CREATE SAMPLE TABLE li_ci_s (l_returnflag string, l_quantity double) " +
      "OPTIONS(qcs 'l_returnflag', fraction '1.0')")
    try {
      gs.sql("INSERT INTO LI_CI_S " +
        "SELECT l_returnflag, l_quantity FROM lineitem WHERE l_orderkey % 100 = 0")
      val got = gs.sql("SELECT count(*) AS c FROM li_ci_s").collect()(0).getLong(0)
      val want = spark.sql(
        "SELECT count(*) FROM lineitem WHERE l_orderkey % 100 = 0")
        .collect()(0).getLong(0)
      assert(got === want, s"case-insensitive INSERT appended $got of $want")
    } finally gs.dropSampleTable("li_ci_s")
  }

  test("function-expression QCS keeps its argument commas (AQP-282 family)") {
    // `substr(l_shipdate, 1, 7)` is ONE stratum expression — the option
    // parser must split the QCS list at top-level commas only (the
    // reference strata on `hour(col)`/`year(col)` function expressions)
    gs.sql("CREATE SAMPLE TABLE li_fq_s ON lineitem " +
      "OPTIONS(qcs 'l_returnflag, substr(l_shipdate, 1, 7)', fraction '1.0')")
    try {
      val info = GraftState.of(spark).samples("li_fq_s")
      assert(info.qcs === Seq("l_returnflag", "substr(l_shipdate, 1, 7)"))
      // full fraction ⇒ weighted counts per function-derived stratum exact
      val got = gs.sql(
        """SELECT l_returnflag, substr(l_shipdate, 1, 7) AS ym, count(*) AS c
          |FROM lineitem GROUP BY 1, 2 WITH ERROR 0.9""".stripMargin)
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      val want = spark.sql(
        "SELECT l_returnflag, substr(l_shipdate, 1, 7) AS ym, count(*) AS c " +
          "FROM lineitem GROUP BY 1, 2")
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      assert(got === want)
      // the meta round-trip preserves the expression too
      val dir = java.nio.file.Files.createTempDirectory("graft_fq_").toString
      GraftSession.writeSampleMeta(dir, "lineitem", info.qcs, 1.0, 50,
        spark.sessionState.newHadoopConf())
      val read = GraftSession.readSampleMeta(dir,
        spark.sessionState.newHadoopConf())
      assert(read.map(_._2) === Some(info.qcs))
    } finally gs.dropSampleTable("li_fq_s")
  }

  test("SELECT * on a sample table exposes base schema plus weight (SNAP-822)") {
    gs.sql("CREATE SAMPLE TABLE li_star_s ON lineitem " +
      "OPTIONS(qcs 'l_returnflag', fraction '0.2')")
    try {
      val df = gs.sql("SELECT * FROM li_star_s")
      val base = spark.table("lineitem")
      assert(df.schema.length === base.schema.length + 1,
        s"expected base schema + weight column, got ${df.schema.map(_.name)}")
      assert(df.schema.map(_.name).contains(graft.functions.weightColumn))
      assert(df.collect().nonEmpty)
    } finally gs.dropSampleTable("li_star_s")
  }

  test("DROP SAMPLE TABLE and the API resolve names case-insensitively") {
    // same temp-view semantics as INSERT: DROP / appendToSample against a
    // differently-cased name must find the registered sample, and the
    // no-such-sample error must still fire for genuinely unknown names
    gs.sql("CREATE SAMPLE TABLE li_ci_d ON lineitem " +
      "OPTIONS(qcs 'l_returnflag', fraction '0.2')")
    gs.appendToSample("LI_CI_D",
      spark.sql("SELECT * FROM lineitem WHERE l_orderkey % 1000 = 0"))
    gs.sql("DROP SAMPLE TABLE LI_CI_D")
    assert(GraftState.of(spark).resolveSample("li_ci_d").isEmpty,
      "differently-cased DROP must remove the sample")
    val e = intercept[IllegalArgumentException] {
      gs.sql("DROP SAMPLE TABLE li_ci_d")
    }
    assert(e.getMessage.contains("No sample table"))
    gs.sql("DROP SAMPLE TABLE IF EXISTS li_ci_d") // no-op, no throw
  }

  test("persisted sample accepts a scheme-qualified (file://) path") {
    // the metadata sidecar goes through Hadoop FileSystem like the parquet
    // itself — a java.io.File write would reject any scheme-qualified URI
    // (hdfs://, s3a://; file:// stands in for those here)
    val dir = java.nio.file.Files.createTempDirectory("graft_fs_").toString
    val uri = s"file://$dir/s"
    gs.sql("CREATE SAMPLE TABLE li_fs_s ON lineitem " +
      s"OPTIONS(qcs 'l_returnflag', fraction '1.0', path '$uri')")
    try {
      assert(GraftSession.readSampleMeta(uri,
        spark.sessionState.newHadoopConf()).isDefined,
        "registry metadata must be written through Hadoop FS")
      val est = gs.sql(
        """SELECT l_returnflag, sum(l_quantity) AS s FROM lineitem
          |GROUP BY 1 WITH ERROR 0.9""".stripMargin)
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      exactByFlag.foreach { case (f, v) => assert(math.abs(est(f) - v) < 1e-6) }
    } finally gs.dropSampleTable("li_fs_s")
  }

  test("errorStats: per-group closed-form stats over an ad-hoc sample") {
    val sampled = gs.sample(spark.table("lineitem"), Seq("l_returnflag"), fraction = 1.0)
    val stats = gs.errorStats(sampled, "l_quantity", aggType = "sum",
      groupBy = Seq("l_returnflag")).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val exact = exactByFlag
    exact.foreach { case (flag, truth) =>
      assert(math.abs(stats(flag) - truth) < 1e-6, s"flag $flag")
    }
    // full-fraction: zero error, bounds collapse onto the estimate
    val one = gs.errorStats(sampled, "l_quantity", aggType = "avg").collect()(0)
    assert(one.getDouble(one.fieldIndex("absolute_error")) === 0.0)
    assert(one.getDouble(one.fieldIndex("lower_bound")) ===
      one.getDouble(one.fieldIndex("estimate")))
  }

  test("persisted sample with partitionBy prunes partitions and answers exactly") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sample_part").toString
    gs.sql(s"CREATE SAMPLE TABLE li_part ON lineitem OPTIONS(" +
      s"qcs 'l_returnflag', fraction '0.5', path '$dir', partitionby 'l_returnflag')")
    // hive-style partition directories exist
    val dirs = new java.io.File(dir).listFiles().filter(_.isDirectory).map(_.getName)
    assert(dirs.exists(_.startsWith("l_returnflag=")))
    // a stratum-filtered scan prunes to one partition
    val scan = spark.table("li_part").filter(col("l_returnflag") === "A")
    val plan = scan.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(l_returnflag"),
      "stratum filter must reach the scan as a partition filter:\n" + plan)
    assert(scan.count() > 0)
    // weighted estimate over the persisted partitioned sample ≈ truth
    val est = spark.table("li_part")
      .agg(functions.weighted_sum(col("l_quantity"))).collect()(0).getDouble(0)
    val truth = spark.table("lineitem")
      .agg(sum(col("l_quantity"))).collect()(0).getDouble(0)
    assert(math.abs(est - truth) / truth < 0.05, s"est $est vs $truth")
    gs.sql("DROP SAMPLE TABLE li_part")
  }

  test("persisted sample survives a 'restart': IF NOT EXISTS re-attaches, no resample") {
    val dir = java.nio.file.Files.createTempDirectory("graft_attach").toString + "/s"
    def create() = gs.sql("CREATE SAMPLE TABLE IF NOT EXISTS li_attach ON lineitem " +
      s"OPTIONS(qcs 'l_returnflag', fraction '0.2', path '$dir')")
    create()
    def listing = new java.io.File(dir).listFiles()
      .map(f => (f.getName, f.length, f.lastModified)).sortBy(_._1).toSeq
    val before = listing
    val est1 = gs.sql(
      """SELECT l_returnflag, sum(l_quantity) AS s FROM lineitem
        |GROUP BY 1 ORDER BY 1 WITH ERROR 0.9""".stripMargin).collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSeq

    // simulate a fresh session: registration and view are gone, parquet stays
    gs.dropSampleTable("li_attach")
    assert(!GraftState.of(spark).samples.contains("li_attach"))
    create()
    assert(GraftState.of(spark).samples.contains("li_attach"))
    assert(listing === before, "re-attach must not rewrite the persisted sample")
    // routing works again with identical estimates (same persisted rows)
    val est2 = gs.sql(
      """SELECT l_returnflag, sum(l_quantity) AS s FROM lineitem
        |GROUP BY 1 ORDER BY 1 WITH ERROR 0.9""".stripMargin).collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(est2 === est1)
    gs.dropSampleTable("li_attach")
  }

  test("querying the SAMPLE TABLE by name applies weights + error functions") {
    // reference `JoinQueryTest` queries `sampled_order_line` directly: the
    // estimates and errors must be IDENTICAL to routing the base-table query
    // through the same sample — and the sampler's internal counts aggregate
    // must not capture the error contract (opaque sample scan)
    gs.sql("CREATE SAMPLE TABLE li_direct_s ON lineitem " +
      "OPTIONS(qcs 'l_returnflag', fraction '0.1')")
    try {
      def run(table: String) = gs.sql(
        s"""SELECT l_returnflag, sum(l_quantity) AS s, absolute_error(s) AS ae
           |FROM $table GROUP BY 1 ORDER BY 1 WITH ERROR 0.9""".stripMargin)
        .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
      val direct = run("li_direct_s")
      val routed = run("lineitem")
      assert(direct.toSeq === routed.toSeq,
        s"direct-sample query diverged: ${direct.toSeq} vs ${routed.toSeq}")
      assert(direct.forall(_._3 > 0.0), "0.1 sample must carry error")

      // the reference's canonical shape: sample table joined to a ref table
      val joined = gs.sql(
        """SELECT o_orderpriority, sum(l_extendedprice) AS r, absolute_error(r) AS ae
          |FROM li_direct_s JOIN orders ON l_orderkey = o_orderkey
          |GROUP BY 1 ORDER BY 1 WITH ERROR 0.9""".stripMargin)
        .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
      val joinedRouted = gs.sql(
        """SELECT o_orderpriority, sum(l_extendedprice) AS r, absolute_error(r) AS ae
          |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          |GROUP BY 1 ORDER BY 1 WITH ERROR 0.9""".stripMargin)
        .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
      assert(joined.toSeq === joinedRouted.toSeq)
    } finally gs.dropSampleTable("li_direct_s")
  }
}
