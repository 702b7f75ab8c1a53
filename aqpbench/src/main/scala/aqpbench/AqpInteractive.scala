package aqpbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.graft.AqpInfo
import org.apache.spark.sql.types._

/** `aqp_interactive`: two closed-loop clients on one session send AQP SQL
 * over an in-memory `lineitem` (joined with `orders` in some templates),
 * answered from two cached 1% stratified samples. The template schedule is
 * fixed, so every seed runs the same mix; the seed draws the data and each
 * query's constants. */
object AqpInteractive {
  val Rows: Int = 300000
  val Orders: Int = Rows / 4
  val Flags = Array("A", "N", "R")
  val Status = Array("F", "O")
  val Modes = Array("AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK")
  val Priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  val LineitemSchema: StructType = StructType(Seq(
    StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
    StructField("l_suppkey", LongType), StructField("l_quantity", DoubleType),
    StructField("l_extendedprice", DoubleType), StructField("l_discount", DoubleType),
    StructField("l_tax", DoubleType), StructField("l_returnflag", StringType),
    StructField("l_linestatus", StringType), StructField("l_shipmode", StringType)))
  val OrdersSchema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_totalprice", DoubleType), StructField("o_orderpriority", StringType)))

  /** Column values of lineitem row `i` — the single definition both the
   * Spark table and the oracle are built from. */
  final case class Li(orderkey: Long, partkey: Long, suppkey: Long, quantity: Double,
      price: Double, discount: Double, tax: Double, flag: Int, status: Int, mode: Int)
  def li(seed: Long, i: Long): Li = {
    def u(c: Int) = Rng.u(seed, 100 + c, i)
    val qty = 1 + (u(0) * 50).toInt
    val flagU = u(1)
    // skewed strata: sample strata sizes differ, as in real data
    val mode = { val m = u(2); if (m < 0.4) 0 else if (m < 0.6) 6 else 1 + (m * 50).toInt % 5 }
    Li(i / 4 + 1, 1 + (u(3) * 20000).toLong, 1 + (u(4) * 1000).toLong, qty,
      math.rint(qty * (900 + u(5) * 1100) * 100) / 100, (u(6) * 11).toInt / 100.0,
      (u(7) * 9).toInt / 100.0, if (flagU < 0.5) 1 else if (flagU < 0.75) 0 else 2,
      if (u(8) < 0.5) 0 else 1, mode)
  }
  def orderPriority(seed: Long, orderkey: Long): Int = Rng.int(seed, 200, orderkey, 5)

  /** Plain-Scala copy of the columns the oracle aggregates over. */
  final class Oracle(seed: Long) {
    val qty = new Array[Double](Rows)
    val price = new Array[Double](Rows)
    val disc = new Array[Double](Rows)
    val flag = new Array[Byte](Rows)
    val status = new Array[Byte](Rows)
    val mode = new Array[Byte](Rows)
    val prio = new Array[Byte](Rows)
    (0 until Rows).foreach { i =>
      val r = li(seed, i)
      qty(i) = r.quantity; price(i) = r.price; disc(i) = r.discount
      flag(i) = r.flag.toByte; status(i) = r.status.toByte; mode(i) = r.mode.toByte
      prio(i) = orderPriority(seed, r.orderkey).toByte
    }
    private val memo = new java.util.concurrent.ConcurrentHashMap[String, Map[String, Array[Double]]]()

    /** Exact (sum, count) per group key over the rows passing `where`;
     * a memo keyed by the query text keeps each distinct query computed once. */
    def groups(key: String, group: Int => String, where: Int => Boolean,
        value: Int => Double): Map[String, Array[Double]] =
      memo.computeIfAbsent(key, _ => {
        val acc = mutable.HashMap.empty[String, Array[Double]]
        var i = 0
        while (i < Rows) {
          if (where(i)) {
            val a = acc.getOrElseUpdate(group(i), Array(0.0, 0.0))
            a(0) += value(i); a(1) += 1
          }
          i += 1
        }
        acc.toMap
      })
  }

  /** One query template: SQL text, the exact (sum, count) per group, which
   * output columns are checked, and how. */
  final case class Query(template: String, sql: String, withError: Boolean,
      exactOnly: Boolean, exact: () => Map[String, Array[Double]],
      groupCols: Int, agg: String)

  // Fixed schedule: two thirds fast sample queries (closed-form group-bys,
  // AVG+WHERE on the bootstrap, HAC local_omit), over a quarter joins and
  // exact controls, and one base-table HAC rerun per period, alternating
  // partial_run_on_base_table and run_on_full_table. The median falls
  // inside the fast class and the 90th percentile inside the middle one.
  // Client c starts c half-periods in, so a short window still sees the
  // whole mix.
  val Schedule: Array[String] = Array(
    "cf_filter", "avg_where", "cf_join", "cf_mode", "hac_omit", "exact",
    "cf_filter", "avg_where", "cf_join", "cf_mode", "exact", "hac_omit",
    "cf_filter", "avg_where", "cf_join", "cf_mode", "hac_omit", "exact",
    "cf_filter", "avg_where", "cf_join", "cf_mode", "cf_filter", "hac_rerun")

  def query(seed: Long, o: Oracle, client: Int, i: Long): Query = {
    val slot = i + client * Schedule.length / 2
    val t = Schedule((slot % Schedule.length).toInt) match {
      case "hac_rerun" =>
        if (slot / Schedule.length % 2 == 0) "hac_partial" else "hac_full"
      case other => other
    }
    build(o, t, Rng.int(seed, 300 + client, i, Picks))
  }

  /** The templates the schedule draws from. */
  val Templates: Seq[String] =
    Schedule.toSeq.distinct.flatMap {
      case "hac_rerun" => Seq("hac_partial", "hac_full")
      case other => Seq(other)
    }
  /** Constants per template: `pick` sets the discount or quantity bound. */
  val Picks = 4

  def build(o: Oracle, t: String, pick: Int): Query = {
    val d = (2 + pick) / 100.0 // discount bound, printed exactly below
    val ds = f"$d%.2f"
    val qv = 5 + 5 * pick // quantity bound
    def fs(r: Int) = Flags(o.flag(r)) + "|" + Status(o.status(r))
    t match {
      case "cf_filter" => Query(t,
        s"""SELECT l_returnflag, l_linestatus, sum(l_quantity) AS v,
           |lower_bound(v) AS v_lo, upper_bound(v) AS v_hi, count(*) AS n
           |FROM lineitem WHERE l_discount < $ds GROUP BY l_returnflag, l_linestatus
           |WITH ERROR 0.1""".stripMargin, true, false,
        () => o.groups(s"$t$d", fs, o.disc(_) < d, o.qty(_)), 2, "sum")
      case "cf_mode" => Query(t,
        s"""SELECT l_shipmode, sum(l_extendedprice) AS v,
           |lower_bound(v) AS v_lo, upper_bound(v) AS v_hi, count(*) AS n
           |FROM lineitem WHERE l_quantity > $qv GROUP BY l_shipmode
           |WITH ERROR 0.1""".stripMargin, true, false,
        () => o.groups(s"$t$qv", r => Modes(o.mode(r)), o.qty(_) > qv, o.price(_)), 1, "sum")
      case "avg_where" => Query(t,
        s"""SELECT l_shipmode, avg(l_extendedprice) AS v,
           |lower_bound(v) AS v_lo, upper_bound(v) AS v_hi, count(*) AS n
           |FROM lineitem WHERE l_quantity <= $qv GROUP BY l_shipmode
           |WITH ERROR 0.2""".stripMargin, true, false,
        () => o.groups(s"$t$qv", r => Modes(o.mode(r)), o.qty(_) <= qv, o.price(_)), 1, "avg")
      case "cf_join" => Query(t,
        s"""SELECT o_orderpriority, sum(l_extendedprice) AS v,
           |lower_bound(v) AS v_lo, upper_bound(v) AS v_hi, count(*) AS n
           |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           |WHERE l_discount >= $ds GROUP BY o_orderpriority
           |WITH ERROR 0.1""".stripMargin, true, false,
        () => o.groups(s"$t$d", r => Priorities(o.prio(r)), o.disc(_) >= d, o.price(_)),
        1, "sum")
      case "hac_omit" => Query(t,
        s"""SELECT l_returnflag, l_linestatus, sum(l_extendedprice) AS v,
           |lower_bound(v) AS v_lo, upper_bound(v) AS v_hi, count(*) AS n
           |FROM lineitem WHERE l_quantity > $qv GROUP BY l_returnflag, l_linestatus
           |WITH ERROR 0.02 BEHAVIOR 'local_omit'""".stripMargin, true, false,
        () => o.groups(s"$t$qv", fs, o.qty(_) > qv, o.price(_)), 2, "sum")
      case "hac_partial" => Query(t,
        s"""SELECT l_shipmode, sum(l_quantity) AS v, count(*) AS n
           |FROM lineitem WHERE l_discount < $ds GROUP BY l_shipmode
           |WITH ERROR 0.001 BEHAVIOR 'partial_run_on_base_table'""".stripMargin, true, true,
        () => o.groups(s"$t$d", r => Modes(o.mode(r)), o.disc(_) < d, o.qty(_)), 1, "sum")
      case "hac_full" => Query(t,
        s"""SELECT l_returnflag, l_linestatus, sum(l_quantity) AS v, count(*) AS n
           |FROM lineitem WHERE l_discount >= $ds GROUP BY l_returnflag, l_linestatus
           |WITH ERROR 0.0001 BEHAVIOR 'run_on_full_table'""".stripMargin, true, true,
        () => o.groups(s"$t$d", fs, o.disc(_) >= d, o.qty(_)), 2, "sum")
      case "exact" => Query(t,
        s"""SELECT l_returnflag, l_linestatus, sum(l_quantity) AS v, count(*) AS n
           |FROM lineitem WHERE l_quantity > $qv GROUP BY l_returnflag, l_linestatus""".stripMargin,
        false, true, () => o.groups(s"$t$qv", fs, o.qty(_) > qv, o.qty(_)), 2, "sum")
    }
  }

  /** Rows the leaf operators of an executed plan produced. */
  def scannedRows(p: SparkPlan): Long = p match {
    case a: AdaptiveSparkPlanExec => scannedRows(a.executedPlan)
    case s: QueryStageExec => scannedRows(s.plan)
    case leaf if leaf.children.isEmpty =>
      leaf.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    case other => other.children.map(scannedRows).sum
  }

  /** Per-run accuracy tallies. */
  final class Accuracy {
    var cells = 0; var covered = 0; var relErr = 0.0; var relCells = 0
    def add(exact: Double, est: Double, lo: Option[Double], hi: Option[Double]): Unit =
      synchronized {
        if (exact != 0) { relErr += math.abs(est - exact) / math.abs(exact); relCells += 1 }
        for (l <- lo; h <- hi) {
          cells += 1
          if (exact >= l - 1e-9 * math.abs(exact) && exact <= h + 1e-9 * math.abs(exact))
            covered += 1
        }
      }
  }

  /** Checks one answer against the exact per-group (sum, count). Approximate
   * cells feed coverage and error; exact and HAC-rerouted answers must
   * match the oracle. */
  def check(q: Query, rows: Array[Row], acc: Accuracy): Check = () => {
    val exact = q.exact()
    val problems = mutable.ArrayBuffer.empty[String]
    rows.foreach { r =>
      val key = (0 until q.groupCols).map(r.getString).mkString("|")
      exact.get(key) match {
        case None => problems += s"unknown group $key"
        case Some(Array(sum, n)) =>
          val want = if (q.agg == "avg") sum / n else sum
          val v = r.getAs[Any]("v")
          if (v == null) {
            if (q.template != "hac_omit") problems += s"null estimate for $key"
          } else {
            val got = v.asInstanceOf[Number].doubleValue
            if (q.exactOnly) {
              if (math.abs(got - want) > 1e-6 * math.max(1.0, math.abs(want)))
                problems += f"$key: got $got%.4f, exact $want%.4f"
              val gotN = r.getAs[Any]("n").asInstanceOf[Number].doubleValue
              if (gotN != n) problems += s"$key: count $gotN, exact $n"
            } else {
              def opt(c: String) = Option(r.getAs[Any](c)).map(_.asInstanceOf[Number].doubleValue)
              acc.add(want, got, opt("v_lo"), opt("v_hi"))
            }
          }
      }
    }
    if (q.exactOnly && rows.length != exact.size)
      problems += s"${rows.length} groups, exact has ${exact.size}"
    problems.headOption.map(p => s"${q.template}: $p" +
      (if (problems.size > 1) s" (+${problems.size - 1} more)" else ""))
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val gs = ctx.gs
    val seed = ctx.seed
    val sc = spark.sparkContext
    val parts = ctx.cores
    // the oracle's plain-Scala copy builds while Spark caches the tables
    val oracleF = scala.concurrent.Future(new Oracle(seed))(scala.concurrent.ExecutionContext.global)
    // input generation: harness work, not part of set-up time
    val liRdd = sc.parallelize(0 until parts, parts).flatMap { p =>
      (p.toLong * Rows / parts until (p + 1).toLong * Rows / parts).iterator.map { i =>
        val r = li(seed, i)
        Row(r.orderkey, r.partkey, r.suppkey, r.quantity, r.price, r.discount, r.tax,
          Flags(r.flag), Status(r.status), Modes(r.mode))
      }
    }
    val orRdd = sc.parallelize(0 until parts, parts).flatMap { p =>
      (p.toLong * Orders / parts until (p + 1).toLong * Orders / parts).iterator.map { j =>
        val k = j + 1
        Row(k, 1 + (Rng.u(seed, 201, k) * 15000).toLong,
          math.rint(Rng.u(seed, 202, k) * 4e7) / 100, Priorities(orderPriority(seed, k)))
      }
    }
    val lineitem = spark.createDataFrame(liRdd, LineitemSchema).persist()
    val orders = spark.createDataFrame(orRdd, OrdersSchema).persist()
    val cacheOrders = new Thread(() => orders.count())
    cacheOrders.start(); lineitem.count(); cacheOrders.join()
    lineitem.createOrReplaceTempView("lineitem")
    orders.createOrReplaceTempView("orders")
    val oracle = scala.concurrent.Await.result(oracleF, scala.concurrent.duration.Duration.Inf)
    ctx.phase("inputs")

    // set-up: two 1% samples on different QCS, materialized in memory;
    // repeated so set-up time is a median, the last pair stays registered
    val setupReps = (0 until 3).map { _ =>
      gs.dropSampleTable("li_flag_status")
      gs.dropSampleTable("li_mode")
      val t0 = System.nanoTime()
      gs.sql("CREATE SAMPLE TABLE li_flag_status ON lineitem " +
        "OPTIONS(qcs 'l_returnflag,l_linestatus', fraction '0.01')")
      spark.table("li_flag_status").count()
      gs.createSampleTable("li_mode", "lineitem", Seq("l_shipmode"), fraction = 0.01).count()
      (System.nanoTime() - t0) / 1e9
    }
    val createMs = setupReps.map(_ * 1000 / 2)
    ctx.phase("setup")

    val acc = new Accuracy
    val routed = new java.util.concurrent.atomic.AtomicInteger()
    val bootstrap = new java.util.concurrent.atomic.AtomicInteger()
    val approx = new java.util.concurrent.atomic.AtomicInteger()
    val scanned = new java.util.concurrent.atomic.AtomicLong()
    val resultRows = new java.util.concurrent.atomic.AtomicLong()
    val hacMs = mutable.ArrayBuffer.empty[Double]
    // warm-up outside the window: every query of the mix once (each
    // template with each of its constants) on two threads, so the code
    // Spark generates for each plan, with its literals inlined, is compiled
    // before the window and not in the first of its queries
    val variants = Templates.flatMap(t => (0 until Picks).map(p => build(oracle, t, p).sql))
    val warm = (0 until 2).map { c =>
      new Thread(() => variants.indices.filter(_ % 2 == c).foreach(k => gs.sql(variants(k)).collect()))
    }
    warm.foreach(_.start()); warm.foreach(_.join())
    ctx.phase("warm-up")

    // then the clients' own loop, unrecorded, until the JIT has settled
    def step(client: Int, i: Long): Unit = {
      val q = query(seed, oracle, client, i)
      ctx.op("query", i, q.template) {
        val rows = if (!ctx.tracedOp(i)) gs.sql(q.sql).collect()
        else {
          val df: DataFrame = ctx.span("graft.sql")(gs.sql(q.sql))
          ctx.span("aqp.plan")(df.queryExecution.executedPlan)
          val t0 = System.nanoTime()
          val rows = ctx.span("aqp.exec")(df.collect())
          if (q.template == "hac_partial" || q.template == "hac_full")
            hacMs.synchronized(hacMs += (System.nanoTime() - t0) / 1e6)
          if (q.withError) {
            approx.incrementAndGet()
            if (AqpInfo.usesSample(df)) routed.incrementAndGet()
            if (AqpInfo.analysisOf(df) == "bootstrap") bootstrap.incrementAndGet()
          }
          scanned.addAndGet(scannedRows(df.queryExecution.executedPlan))
          resultRows.addAndGet(rows.length)
          rows
        }
        check(q, rows, acc)
      }
    }
    ctx.warmUp(ctx.closedLoop(clients = 2, warmSeconds = 3)(step))
    ctx.closedLoop(clients = 2)(step)
    ctx.rec.finish() // the accuracy tallies fill in as the checks run
    val user = Map(
      "ci_coverage" -> acc.covered.toDouble / math.max(acc.cells, 1),
      "rel_error_mean" -> acc.relErr / math.max(acc.relCells, 1))
    val layer = ctx.tracer.map { t =>
      Map(
        "graft.sql_ms" -> t.meanMs("graft.sql"),
        "graft.sql_jobs" -> t.jobsPer("graft.sql"),
        "aqp.plan_ms" -> t.meanMs("aqp.plan"),
        "aqp.exec_ms" -> t.meanMs("aqp.exec"),
        "aqp.sample_route_ratio" -> routed.get.toDouble / math.max(approx.get, 1),
        "aqp.bootstrap_share" -> bootstrap.get.toDouble / math.max(approx.get, 1),
        "aqp.rows_scanned_per_result_row" ->
          scanned.get.toDouble / math.max(resultRows.get, 1),
        "aqp.hac_base_rerun_ms" -> Stats.mean(hacMs),
        "graft.create_sample_ms" -> Stats.median(createMs))
    }.getOrElse(Map.empty)
    Outcome(user, layer, setupReps)
  }
}
