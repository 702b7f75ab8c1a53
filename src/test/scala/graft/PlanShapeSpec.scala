package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Rewrite/plan-shape assertions (reference test category 2 — SURVEY.md §5:
 * `QueryProcessingSuite`, `SampleSelectionTestSuite`, `AssertAQPAnalysis`). */
class PlanShapeSpec extends AnyFunSuite with org.scalatest.BeforeAndAfterAll {

  override def afterAll(): Unit = {
    GraftState.of(TestSpark.spark).samples.keys
      .filter(_.startsWith("li_ps")).toSeq
      .foreach(new GraftSession(TestSpark.spark).dropSampleTable)
    super.afterAll()
  }
  import TestSpark._

  private lazy val gs: GraftSession = {
    val g = new GraftSession(spark)
    spark.read.parquet(s"$sf/lineitem.parquet").createOrReplaceTempView("li_ps")
    spark.read.parquet(s"$sf/orders.parquet").createOrReplaceTempView("ord_ps")
    g.sql("CREATE SAMPLE TABLE li_ps_sample ON li_ps OPTIONS(qcs 'l_returnflag', fraction '0.2')")
    g
  }

  private def planOf(sql: String): String =
    gs.sql(sql).queryExecution.analyzed.treeString

  test("filter pushdown + column pruning survive the sample substitution") {
    // the WHERE predicate must reach the parquet scan (PushedFilters), and
    // the scan must read only referenced columns (ReadSchema) — a rewrite
    // that breaks pushdown/pruning would read the whole table at 100 TB.
    // Full-fraction samples scan the base parquet (q23's judged shape);
    // persisted samples scan the sample parquet — assert both.
    def checkPlan(plan: String, label: String): Unit = {
      val pushed = plan.split("\n").filter(_.contains("PushedFilters"))
      assert(pushed.exists(_.contains("GreaterThan(l_quantity,25")),
        s"[$label] l_quantity > 25 not pushed to the scan:\n${pushed.mkString("\n")}")
      val readSchemas = plan.split("\n").filter(_.contains("ReadSchema"))
      assert(readSchemas.nonEmpty, s"[$label] no parquet scan in plan")
      readSchemas.foreach { rs =>
        assert(!rs.contains("l_partkey") && !rs.contains("l_shipdate"),
          s"[$label] scan reads unreferenced columns: ${rs.trim.take(200)}")
      }
    }
    val q =
      """SELECT l_returnflag, round(sum(l_extendedprice), 2) AS s,
        |       round(absolute_error(s), 6) AS abs_err
        |FROM li_ps WHERE l_quantity > 25
        |GROUP BY l_returnflag ORDER BY l_returnflag
        |WITH ERROR 0.9""".stripMargin
    gs.sql("CREATE SAMPLE TABLE li_ps_full ON li_ps " +
      "OPTIONS(qcs 'l_returnflag', fraction '1.0')")
    try checkPlan(gs.sql(q).queryExecution.executedPlan.toString, "full-fraction")
    finally gs.dropSampleTable("li_ps_full")
    val dir = java.nio.file.Files.createTempDirectory("graft_ps_").toString
    gs.sql(s"CREATE SAMPLE TABLE li_ps_disk ON li_ps " +
      s"OPTIONS(qcs 'l_returnflag', fraction '0.3', path '$dir/s')")
    try checkPlan(gs.sql(q).queryExecution.executedPlan.toString, "persisted")
    finally gs.dropSampleTable("li_ps_disk")
  }

  test("driver contract: queries and oracles cover the same keys") {
    assert(SparkEntry.oracleSql.keySet === SparkEntry.queries.keySet,
      "every gate query needs an oracle (and no orphan oracles)")
  }

  test("full-fraction weight attach: sentinel is join-free") {
    // the sentinel weight (pack(1,1,keyHash) — ratio and FPC invariant at
    // kept == total) needs no totals scan and no attach join
    gs.sql("CREATE SAMPLE TABLE li_ps_bc ON li_ps " +
      "OPTIONS(qcs 'l_returnflag', fraction '1.0')")
    val plan =
      try gs.sql(
        """SELECT l_returnflag, sum(l_quantity) AS s, absolute_error(s) AS e
          |FROM li_ps GROUP BY l_returnflag WITH ERROR 0.9""".stripMargin)
        .queryExecution.executedPlan.toString
      finally gs.dropSampleTable("li_ps_bc")
    assert(!plan.contains("Join"),
      s"sentinel full-fraction weight attach must not join:\n${plan.take(600)}")
    assert(plan.linesIterator.count(_.contains("Scan parquet")) === 1,
      "sentinel plan must scan the base exactly once")
  }

  test("estimator 'auto' picks bootstrap only for avg-with-where (reference analysis-type rule)") {
    spark.conf.set("spark.sql.aqp.estimator", "auto")
    try {
      def planFor(q: String): String =
        gs.sql(q + " WITH ERROR 0.5").queryExecution.analyzed.treeString.toLowerCase
      // sum + where → closed-form
      val p1 = planFor(
        "SELECT sum(l_quantity) AS s, absolute_error(s) AS e FROM li_ps " +
          "WHERE l_quantity > 10 GROUP BY l_returnflag")
      assert(p1.contains("approx_sum_cf") && !p1.contains("_bs("), p1.take(400))
      // avg without where → closed-form
      val p2 = planFor(
        "SELECT avg(l_quantity) AS a, absolute_error(a) AS e FROM li_ps " +
          "GROUP BY l_returnflag")
      assert(p2.contains("approx_avg_cf") && !p2.contains("_bs("), p2.take(400))
      // avg + where → bootstrap
      val p3 = planFor(
        "SELECT avg(l_quantity) AS a, absolute_error(a) AS e FROM li_ps " +
          "WHERE l_quantity > 10 GROUP BY l_returnflag")
      assert(p3.contains("approx_avg_bs"), p3.take(400))
    } finally spark.conf.set("spark.sql.aqp.estimator", "closedform")
  }

  test("WITH ERROR query without error columns degrades to cheap weighted algebra") {
    // ByPassErrorCalculationsConditionally: do_nothing + no error fns →
    // plain codegen'd sum(w·x), no struct aggregate
    val p = planOf("SELECT l_returnflag, sum(l_quantity) s FROM li_ps " +
      "GROUP BY 1 WITH ERROR 0.5")
    assert(p.contains("mapcolumntoweight"), p.take(500))
    assert(!p.contains("approx_sum_cf"), "should have degraded to bypass algebra")
    assert(p.contains("snappy_sampler_weightage"), "weight column not threaded")
  }

  test("WITH ERROR query with error columns uses the closed-form struct aggregate") {
    val p = planOf("SELECT l_returnflag, sum(l_quantity) s, absolute_error(s) e " +
      "FROM li_ps GROUP BY 1 WITH ERROR 0.5")
    assert(p.contains("approx_sum_cf"), p.take(500))
    assert(p.contains("snappy_sampler_weightage"), "weight column not threaded")
  }

  test("a WITH ERROR query over an in-memory sample plans only itself") {
    val q = gs.sql("SELECT l_returnflag, sum(l_quantity) s, absolute_error(s) e " +
      "FROM li_ps GROUP BY 1 WITH ERROR 0.5")
    val analyzed = q.queryExecution.analyzed
    assert(GraftState.of(spark).lastChosenSample === Some("li_ps_sample"))
    // the sample is one flat leaf: none of the sampler's windows, joins or
    // base-table scans are analyzed, optimized or explained with the query
    assert(!analyzed.exists(_.isInstanceOf[
      org.apache.spark.sql.catalyst.plans.logical.Window]), analyzed.treeString)
    val leaves = analyzed.collectLeaves()
    assert(leaves.size === 1, analyzed.treeString)
    val leaf = leaves.head.asInstanceOf[org.apache.spark.sql.execution.LogicalRDD]
    assert(leaf.outputPartitioning ===
      org.apache.spark.sql.catalyst.plans.physical.SinglePartition)
    assert(leaf.stats.rowCount.exists(_ > 0), "the leaf carries its real row count")
    q.collect()
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"a one-partition sample needs no exchange:\n$plan")
  }

  test("a sample above the advisory partition size lays out in several partitions") {
    // the other side of the layout rule: in a session whose advisory
    // partition size is below the sample's bytes, the leaf keeps the
    // sampler's several partitions and the aggregate's exchange. With
    // AQE's coalescing on, the sampler's shuffle of this small input would
    // merge into one partition (AQE's 1 MB minimum partition size), so it
    // is off here
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1024")
    s.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    val g = new GraftSession(s)
    s.read.parquet(s"$sf/lineitem.parquet").createOrReplaceTempView("li_ps_wide")
    g.sql("CREATE SAMPLE TABLE li_ps_wide_s ON li_ps_wide OPTIONS(qcs 'l_returnflag', " +
      "fraction '0.2')")
    try {
      val leaf = s.table("li_ps_wide_s").queryExecution.analyzed.collectLeaves()
        .head.asInstanceOf[org.apache.spark.sql.execution.LogicalRDD]
      assert(leaf.stats.sizeInBytes > 1024)
      assert(leaf.rdd.getNumPartitions > 1, "the leaf must spread over several partitions")
      assert(leaf.outputPartitioning !==
        org.apache.spark.sql.catalyst.plans.physical.SinglePartition)
      val q = g.sql("SELECT l_returnflag, sum(l_quantity) s, absolute_error(s) e " +
        "FROM li_ps_wide GROUP BY 1 WITH ERROR 0.5")
      val direct = q.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      assert(GraftState.of(s).lastChosenSample === Some("li_ps_wide_s"))
      assert(q.queryExecution.executedPlan.toString.contains("Exchange"),
        "a multi-partition sample keeps the aggregate's exchange")
      // same sample rows, same answer as the one-partition layout
      val one = gs.sql("SELECT l_returnflag, sum(l_quantity) s, absolute_error(s) e " +
        "FROM li_ps GROUP BY 1 WITH ERROR 0.5").collect()
        .map(r => r.getString(0) -> r.getDouble(1)).toMap
      assert(direct.keySet === one.keySet)
      direct.foreach { case (k, v) => assert(math.abs(v - one(k)) <= 1e-9 * math.abs(v), k) }
    } finally g.dropSampleTable("li_ps_wide_s")
  }

  test("same query without WITH ERROR stays untouched") {
    val p = spark.sql("SELECT l_returnflag, sum(l_quantity) s FROM li_ps GROUP BY 1")
      .queryExecution.analyzed.treeString
    assert(!p.contains("approx_sum_cf"))
  }

  test("inner join: sampled side substituted") {
    val p = planOf("SELECT o_orderpriority, sum(l_quantity) s FROM li_ps " +
      "JOIN ord_ps ON l_orderkey = o_orderkey GROUP BY 1 WITH ERROR 0.5")
    assert(p.contains("mapcolumntoweight"))
  }

  test("outer-join fencing: protected side is NOT substituted") {
    // lineitem on the right of a LEFT OUTER join is protected
    val p = planOf("SELECT o_orderpriority, sum(l_quantity) s FROM ord_ps " +
      "LEFT JOIN li_ps ON o_orderkey = l_orderkey GROUP BY 1 WITH ERROR 0.5")
    assert(!p.contains("approx_sum_cf"), "protected side was substituted:\n" + p.take(800))
    // and the query still answers exactly (routed to base)
    val got = gs.sql("SELECT o_orderpriority, sum(l_quantity) s FROM ord_ps " +
      "LEFT JOIN li_ps ON o_orderkey = l_orderkey GROUP BY 1 WITH ERROR 0.5")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val want = spark.sql("SELECT o_orderpriority, sum(l_quantity) s FROM ord_ps " +
      "LEFT JOIN li_ps ON o_orderkey = l_orderkey GROUP BY 1")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got === want)
  }

  test("outer-join: unprotected side IS substituted") {
    val p = planOf("SELECT l_returnflag, sum(l_quantity) s FROM li_ps " +
      "LEFT JOIN ord_ps ON l_orderkey = o_orderkey GROUP BY 1 WITH ERROR 0.5")
    assert(p.contains("mapcolumntoweight"))
  }

  test("min/max over a QCS column runs on the sample; non-QCS routes to base") {
    // l_returnflag ⊆ QCS: a sample stratified on it retains every distinct
    // value, so min/max are exact over the sample (reference requiredQcs —
    // `QueryProcessingRules.scala:1385-1393`)
    val pQcs = planOf("SELECT l_linestatus, sum(l_quantity) s, " +
      "max(l_returnflag) mx FROM li_ps GROUP BY 1 WITH ERROR 0.5")
    assert(pQcs.contains("mapcolumntoweight") && pQcs.contains("max("))

    // l_quantity ⊄ QCS: the sampled rows need not contain the true extremes —
    // the whole query routes to the base table like the reference
    val pBase = planOf("SELECT l_returnflag, sum(l_quantity) s, " +
      "max(l_quantity) mx, min(l_quantity) mn FROM li_ps GROUP BY 1 WITH ERROR 0.5")
    assert(!pBase.contains("approx_sum_cf") && !pBase.contains("mapcolumntoweight"))
    val rows = gs.sql("SELECT l_returnflag, sum(l_quantity) s, max(l_quantity) mx, " +
      "min(l_quantity) mn FROM li_ps GROUP BY 1 WITH ERROR 0.5").collect()
    assert(rows.length === 3)
    rows.foreach { r => assert(r.getDouble(2) >= r.getDouble(3)) }
  }

  test("explode (Generate) between sample and aggregate keeps the weight") {
    val df = gs.sql(
      """SELECT l_returnflag, sum(x) s FROM
        |  (SELECT l_returnflag, explode(array(l_quantity, l_quantity)) AS x FROM li_ps)
        |GROUP BY 1 WITH ERROR 0.9""".stripMargin)
    assert(df.queryExecution.analyzed.treeString.contains("mapcolumntoweight"))
    assert(df.count() === 3)
  }

  test("IN-subquery over the base table survives the rewrite") {
    val rows = gs.sql(
      """SELECT l_returnflag, sum(l_quantity) s FROM li_ps
        |WHERE l_orderkey IN (SELECT o_orderkey FROM ord_ps WHERE o_totalprice > 100000)
        |GROUP BY 1 WITH ERROR 0.5""".stripMargin).collect()
    assert(rows.nonEmpty)
  }

  test("window function between sample and aggregate keeps the weight") {
    val df = gs.sql(
      """SELECT l_returnflag, sum(rq) s FROM
        |  (SELECT l_returnflag,
        |          rank() OVER (PARTITION BY l_returnflag ORDER BY l_quantity) AS rq
        |   FROM li_ps)
        |GROUP BY 1 WITH ERROR 0.9""".stripMargin)
    assert(df.queryExecution.analyzed.treeString.contains("mapcolumntoweight"))
    assert(df.count() === 3)
  }

  test("strict check stays a Filter ABOVE the sort/limit through optimization") {
    // the returned-rows-only semantics (and the SortExec memory-safety
    // story) depend on the optimizer NOT relocating the non-deterministic
    // StrictErrorCheck filter below the sort or limit it must guard
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, Sort, GlobalLimit}
    val df = gs.sql(
      """SELECT l_returnflag, sum(l_quantity) AS s, relative_error(s) AS re
        |FROM li_ps GROUP BY 1 ORDER BY re ASC LIMIT 2
        |WITH ERROR 0.9 BEHAVIOR 'strict'""".stripMargin)
    val optimized = df.queryExecution.optimizedPlan
    val checkFilters = optimized.collect {
      case f: Filter if f.condition.exists(
        _.isInstanceOf[org.apache.spark.sql.graft.StrictErrorCheck]) => f
    }
    assert(checkFilters.size === 1, s"expected one strict filter:\n$optimized")
    val under = checkFilters.head.child
    assert(under.exists(_.isInstanceOf[GlobalLimit]) &&
      under.exists(_.isInstanceOf[Sort]),
      s"sort and limit must sit BELOW the strict filter:\n$optimized")
    // and no enforcement exec node appears for strict
    assert(!df.queryExecution.executedPlan.toString.contains("Hac"),
      "strict must not plan a Hac enforcement node")
    // belt and braces for the PHYSICAL plan too: the logical position pin
    // above rests on deterministic=false suppressing relocation — assert
    // the executed plan also evaluates the check above the collect-limit
    // machinery (ORDER BY + LIMIT plans as TakeOrderedAndProject /
    // CollectLimit), so a future Spark upgrade relaxing non-deterministic
    // filter handling fails HERE rather than silently re-enforcing
    // below-limit groups
    // (string-order check: the executed plan is an AdaptiveSparkPlanExec
    // wrapper whose inner plan `collect` does not traverse; in the rendered
    // tree "above" = printed first)
    val physical = df.queryExecution.executedPlan.toString
    val filterAt = physical.indexOf("strict_error_check")
    val limitAt = math.max(physical.indexOf("TakeOrderedAndProject"),
      physical.indexOf("CollectLimit"))
    assert(filterAt >= 0, s"no physical strict filter:\n$physical")
    assert(limitAt > filterAt,
      s"physical limit must sit BELOW the strict filter:\n$physical")
  }

  test("AqpInfo reports the analysis type (AssertAQPAnalysis parity)") {
    import org.apache.spark.sql.graft.AqpInfo
    val base = "SELECT l_returnflag, sum(l_quantity) AS s, absolute_error(s) AS ae " +
      "FROM li_ps GROUP BY 1 WITH ERROR 0.9"
    assert(AqpInfo.analysisOf(gs.sql(base)) === "closedform")
    assert(AqpInfo.usesSample(gs.sql(base)))
    spark.conf.set("spark.sql.aqp.estimator", "bootstrap")
    try assert(AqpInfo.analysisOf(gs.sql(base)) === "bootstrap")
    finally spark.conf.set("spark.sql.aqp.estimator", "closedform")
    // distinct aggregates route to the base table: exact
    val exact = gs.sql("SELECT count(DISTINCT l_orderkey) AS c FROM li_ps WITH ERROR 0.9")
    assert(AqpInfo.analysisOf(exact) === "exact")
    assert(!AqpInfo.usesSample(exact))
    // no error functions referenced: the bypass may degrade to weighted
    // algebra — either way the sample is consumed
    val noErr = gs.sql(
      "SELECT l_returnflag, sum(l_quantity) AS s FROM li_ps GROUP BY 1 WITH ERROR 0.9")
    assert(AqpInfo.usesSample(noErr))
  }

  test("ivf index probes scan the persisted index frame, not the corpus file") {
    // the index build persists the Fanout-widened corpus for its Lloyd
    // iterations and returns a persisted, materialized assignment frame —
    // a probe plan that still contains a parquet scan would re-read the
    // whole corpus per query (the 100 TB failure mode)
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val (assigned, cents) = graft.ann.Ann.ivfIndex(
      emb, "vec_id", "embedding", nClusters = 4, lloydIterations = 2)
    try {
      assert(assigned.storageLevel.useMemory || assigned.storageLevel.useDisk,
        "ivfIndex must return a persisted assignment frame")
      val q = emb.select("embedding").first().getSeq[Float](0).toArray
      val knn = graft.ann.Ann.ivfKnn(
        assigned, cents, "vec_id", "embedding", q, 5, nprobe = 2)
      assert(knn.collect().length === 5)
      val plan = knn.queryExecution.executedPlan.toString
      assert(plan.contains("InMemoryTableScan") ||
        plan.contains("TableCacheQueryStage"), s"probe does not read the cache:\n$plan")
      // the InMemoryRelation node dumps its own (one-time) build plan, which
      // legitimately contains the file scan — only the probe plan ABOVE the
      // cache boundary must be parquet-free
      val aboveCache = plan.substring(0, plan.indexOf("InMemoryRelation"))
      assert(!aboveCache.contains("FileScan"),
        s"index probe re-scanned the corpus file:\n$plan")
    } finally assigned.unpersist()
  }

  test("pqKnn ADC candidate scan reads codes+norms, never the vector column") {
    // PQ's whole value at 100 TB is ranking on m bytes/row of codes instead
    // of the fat fp32 vectors. With the encoded index materialized (as it
    // would be at scale), the ADC ranking branch must prune the vector
    // column out of its scan; only the k × rerankFactor survivors fetch
    // vectors for the exact re-rank.
    import graft.ann.Ann
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val q = emb.filter(col("vec_id") === 0).select(col("embedding"))
      .collect()(0).getSeq[Float](0).toArray
    val cb = Ann.pqTrain(emb, "embedding", m = 8, k = 16, iterations = 2)
    val dir = java.nio.file.Files.createTempDirectory("graft_pq_").toString
    Ann.pqEncode(emb, "embedding", cb).write.parquet(s"$dir/enc")
    val enc = spark.read.parquet(s"$dir/enc")
    val knn = Ann.pqKnn(enc, cb, "vec_id", "embedding", q, k = 5)
    assert(knn.collect().length === 5)
    val readSchemas = knn.queryExecution.executedPlan.toString
      .split("\n").filter(_.contains("ReadSchema")).toSeq
    assert(readSchemas.exists(rs =>
      rs.contains("__graft_pq__") && !rs.contains("embedding")),
      s"ADC ranking scan must exclude the vector column:\n${readSchemas.mkString("\n")}")
  }

  test("prefixSum windows run per bucket — never on a single partition") {
    // the whole point of the bucketed prefix sum: the cumsum window must be
    // hash-partitioned on the bucket column, not collapsed to one task the
    // way Window.orderBy-without-partitionBy plans are
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    // r16: the bucket count is size-adaptive (small inputs legitimately
    // collapse to ONE bucket and skip the boundary job — asserted below);
    // the SCALE contract this test pins needs the multi-bucket path, so
    // force it by shrinking the per-bucket byte target
    spark.conf.set("spark.graft.prefixSum.bucketBytes", "1")
    val ps = try graft.pipeline.Pipeline.prefixSum(
      docs.select(col("doc_id"), col("n_chars")),
      Seq(col("doc_id")), col("n_chars"), "cum", buckets = 8)
    finally spark.conf.unset("spark.graft.prefixSum.bucketBytes")
    val physical = ps.queryExecution.executedPlan.toString
    val windowLines = physical.split("\n").filter(_.contains("Window"))
    assert(windowLines.nonEmpty, "no Window in the prefixSum plan")
    assert(physical.contains("hashpartitioning(__graft_pb__"),
      "cumsum window must partition by the bucket column")
    // the offsets branch cumulates the ≤buckets-row aggregate in ONE
    // bounded partition (by design — it replaced the driver-side collect),
    // so a SinglePartition exchange is legal there and only there: it must
    // feed off the per-bucket aggregate, never the row stream
    val single = physical.split("Exchange SinglePartition")
    single.drop(1).foreach { after =>
      // nothing below a single-partition exchange may read the raw input —
      // the subtree under it must be the bucket aggregate (sum over __s__)
      assert(after.contains("__s__") || !after.contains("parquet"),
        s"single-partition exchange over the row stream:\n$physical")
    }
    // and the broadcast back onto the rows must actually be a broadcast —
    // a shuffled join of corpus vs 64 rows would be a scale bug
    assert(physical.contains("BroadcastHashJoin") ||
      physical.contains("BroadcastNestedLoopJoin"),
      s"bucket offsets must broadcast:\n$physical")
  }

  test("prefixSum resolves ONE bucket on a small input: no boundary machinery") {
    // the r16 size-adaptive side of the contract above: a few-MB input
    // must not pay the approxQuantile boundary job or the offset
    // broadcast — the plan collapses to a single global-order window
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val ps = graft.pipeline.Pipeline.prefixSum(
      docs.select(col("doc_id"), col("n_chars")),
      Seq(col("doc_id")), col("n_chars"), "cum", buckets = 8)
    val physical = ps.queryExecution.executedPlan.toString
    assert(physical.split("\n").exists(_.contains("Window")),
      "no Window in the prefixSum plan")
    assert(!physical.contains("hashpartitioning(__graft_pb__"),
      s"small input must resolve to one bucket:\n$physical")
    // identical sums either way (buckets only refine the order)
    spark.conf.set("spark.graft.prefixSum.bucketBytes", "1")
    val forced = try graft.pipeline.Pipeline.prefixSum(
      docs.select(col("doc_id"), col("n_chars")),
      Seq(col("doc_id")), col("n_chars"), "cum", buckets = 8)
    finally spark.conf.unset("spark.graft.prefixSum.bucketBytes")
    val a = ps.orderBy("doc_id").collect().map(_.toSeq)
    val b = forced.orderBy("doc_id").collect().map(_.toSeq)
    assert(a.toSeq === b.toSeq)
  }

  test("candidate-pair joins shuffle narrow rows (no signature/vector payloads)") {
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    // the LSH bucket join must move (band, bucket, id) per side — never the
    // 128-long signatures (16 x 1 KB per doc at corpus scale)
    val lsh = graft.dedup.Dedup.lshCandidatePairs(docs, "doc_id", "text")
    val lshJoin = lsh.queryExecution.optimizedPlan.collect {
      case j: Join if j.left.output.exists(_.name == "band") => j
    }
    assert(lshJoin.nonEmpty, "no banded candidate join found")
    lshJoin.foreach { j =>
      assert(j.left.output.size <= 3 && j.right.output.size <= 3,
        s"candidate join carries payload columns: ${j.left.output} | ${j.right.output}")
    }
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val cos = graft.ann.Ann.cosineDedupPairs(emb, "vec_id", "embedding", 0.999)
    val cosJoin = cos.queryExecution.optimizedPlan.collect {
      case j: Join if j.left.output.exists(_.name == "bucket") &&
        j.left.output.size <= 3 && !j.left.output.exists(_.name.startsWith("v_")) => j
    }
    assert(cosJoin.nonEmpty,
      "cosine candidate join must move (bucket, id) rows, not vectors:\n" +
        cos.queryExecution.optimizedPlan.treeString)
  }

  test("jaccardPairs verify stage: snapshot pair frame + semi-joined gram stage") {
    // the bounded-verify contract (r10): the eq/rest/gram branches all read
    // ONE materialized pair snapshot — AQE or a plan change that re-executes
    // the LSH candidate DAG per branch measured 3x the query; and gram sets
    // compute only for docs semi-joined against surviving non-equal pairs,
    // never the whole corpus
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val pairs = graft.dedup.Dedup.jaccardPairs(docs, "doc_id", "text",
      threshold = 0.8, maxPairsPerId = 64)
    val physical = pairs.queryExecution.executedPlan.toString
    assert(physical.contains("Scan ExistingRDD"),
      s"pair frame is not a materialized snapshot:\n$physical")
    assert(!physical.contains("band#"),
      s"LSH banded join re-executed above the pair snapshot:\n$physical")
    assert(physical.contains("LeftSemi"),
      s"gram stage must be gated by a semi-join on surviving pair ids:\n$physical")
    // corpus scans visible above the snapshot: the two gram sides only
    // (exchange reuse may fold them to one + a reuse marker)
    val corpusScans = physical.split("\n")
      .count(l => l.contains("FileScan") && l.contains("documents"))
    assert(corpusScans <= 2,
      s"verify stage re-scans the corpus $corpusScans times:\n$physical")
    assert(!physical.contains("CartesianProduct"))
  }

  test("unigramLogProb scores the head tier through a broadcast join") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    // emulate at-scale planning: with auto-broadcast off (a 100 TB corpus's
    // vocabulary exceeds any threshold) and a headSize smaller than the
    // vocabulary (forcing the two-tier path the big-vocabulary case takes),
    // the head tier must STILL broadcast (explicit hint) while the
    // unbounded-vocabulary tail join shuffles
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val scored = graft.pipeline.Pipeline.unigramLogProb(
        docs, "doc_id", "text", headSize = 8)
      val physical = scored.queryExecution.executedPlan.toString
      assert(physical.contains("BroadcastHashJoin"),
        s"head tier must broadcast-join the token stream:\n$physical")
      assert(physical.contains("SortMergeJoin") ||
        physical.contains("ShuffledHashJoin"),
        s"tail tier must remain a shuffle join:\n$physical")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("unigramLogProb with a within-head vocabulary is ONE broadcast join") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    // adaptive tiering: the synthetic corpus's vocabulary fits the default
    // head, so the split (top-N + second join + union) must disappear — one
    // broadcast join even with auto-broadcast off (explicit broadcast())
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val scored = graft.pipeline.Pipeline.unigramLogProb(docs, "doc_id", "text")
      val physical = scored.queryExecution.executedPlan.toString
      assert(physical.contains("BroadcastHashJoin"),
        s"small vocabulary must broadcast-join:\n$physical")
      assert(!physical.contains("Union"),
        s"small vocabulary must not split into tiers:\n$physical")
      assert(!physical.contains("SortMergeJoin") &&
        !physical.contains("ShuffledHashJoin"),
        s"small vocabulary must not shuffle-join the token stream:\n$physical")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("resampleToMix is one broadcast join + filter, no corpus shuffle") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val mixed = graft.pipeline.Pipeline.resampleToMix(
      docs, col("lang"), col("doc_id"),
      Map("en" -> 0.3, "de" -> 0.2, "es" -> 0.2, "fr" -> 0.15, "zh" -> 0.15))
    val physical = mixed.queryExecution.executedPlan.toString
    assert(physical.contains("BroadcastHashJoin") ||
      physical.contains("BroadcastNestedLoopJoin"),
      s"threshold join must broadcast:\n$physical")
    assert(!physical.contains("SortMergeJoin") &&
      !physical.contains("ShuffledHashJoin"),
      s"corpus must not shuffle for the threshold join:\n$physical")
  }
}
