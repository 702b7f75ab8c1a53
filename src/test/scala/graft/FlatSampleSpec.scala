package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** In-memory samples are materialized once into a flat leaf
 * ([[org.apache.spark.sql.graft.Plans.materializeFlat]]): every
 * registration path holds exactly the rows the sampler selects, a frame
 * planned over a superseded leaf still runs, a dropped sample's rows are
 * freed at once and superseded rows once no frame holds them. */
class FlatSampleSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  /** Rows (g, v): stratum g of four, sizes 100 to 1,300, v distinct. */
  private def rows(from: Int, n: Int): DataFrame =
    (from until from + n).map(i => (s"g${(i * 7 + i / 3) % 4}", i.toLong * 3 + 1))
      .toDF("g", "v")

  private def union(a: SamplerOracle.Multiset, b: SamplerOracle.Multiset) =
    (a.keySet ++ b.keySet).map(k => k -> (a.getOrElse(k, 0L) + b.getOrElse(k, 0L))).toMap

  private val VPat = "\"v\":(-?[0-9]+)".r
  private val GPat = "\"g\":\"([^\"]*)\"".r

  /** Weighted (sum v, count) per stratum implied by an oracle multiset. */
  private def weighted(m: SamplerOracle.Multiset): Map[String, (Double, Double)] =
    m.toSeq.groupBy { case ((json, _), _) => GPat.findFirstMatchIn(json).get.group(1) }
      .map { case (g, es) =>
        g -> es.foldLeft((0.0, 0.0)) { case ((s, n), ((json, w), c)) =>
          val v = VPat.findFirstMatchIn(json).get.group(1).toDouble
          (s + c * w * v, n + c * w)
        }
      }

  /** The registered sample's rows and its `WITH ERROR` estimates match the
   * oracle, and the sample is a one-partition flat leaf. */
  private def check(gs: GraftSession, name: String, base: String,
      want: SamplerOracle.Multiset): Unit = {
    val registered = spark.table(name)
    assert(SamplerOracle.actual(registered) === want, s"$name rows vs oracle")
    val leaves = registered.queryExecution.analyzed.collectLeaves()
    assert(leaves.size === 1 &&
      leaves.head.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD],
      s"$name is not a flat leaf: ${registered.queryExecution.analyzed.treeString}")
    val got = gs.sql(s"SELECT g, sum(v) AS s, count(*) AS n FROM $base GROUP BY g " +
      "WITH ERROR 0.9").collect()
      .map(r => r.getString(0) -> (r.getAs[Number](1).doubleValue, r.getAs[Number](2).doubleValue))
      .toMap
    assert(gs.state.lastChosenSample.exists(_.equalsIgnoreCase(name)), s"$base must route to $name")
    val exp = weighted(want)
    assert(got.keySet === exp.keySet)
    exp.foreach { case (g, (s, n)) =>
      assert(math.abs(got(g)._1 - s) <= 1e-6 * math.max(1.0, s), s"$name sum($g)")
      assert(math.abs(got(g)._2 - math.rint(n)) <= 1.0, s"$name count($g)")
    }
  }

  test("every in-memory registration path holds the sampler oracle's rows and weighted totals") {
    val gs = new GraftSession(spark)
    val base = rows(0, 3000)
    val batch = rows(100000, 800)
    base.createOrReplaceTempView("fs_base")
    def oracle(df: DataFrame, fraction: Double, reservoir: Int, seed: Long) =
      SamplerOracle.expected(df, Seq("g"), seed)(SamplerOracle.fractionTarget(fraction, reservoir))
    try {
      gs.sql("CREATE SAMPLE TABLE fs_ddl ON fs_base OPTIONS(qcs 'g', fraction '0.05')")
      try check(gs, "fs_ddl", "fs_base", oracle(base, 0.05, 50, 42L))
      finally gs.dropSampleTable("fs_ddl")

      gs.createSampleTable("fs_api", "fs_base", Seq("g"), fraction = 0.05, reservoirSize = 20)
      try check(gs, "fs_api", "fs_base", oracle(base, 0.05, 20, 42L))
      finally gs.dropSampleTable("fs_api")

      gs.createSampleTableFromOptions("fs_opts", "fs_base",
        Map("qcs" -> "g", "fraction" -> "0.05", "strataReservoirSize" -> "30", "seed" -> "7"))
      try check(gs, "fs_opts", "fs_base", oracle(base, 0.05, 30, 7L))
      finally gs.dropSampleTable("fs_opts")

      // appended batches are sampled under the append seed and weighted by
      // their own stratum totals
      gs.createSampleTable("fs_res", "fs_base", Seq("g"), reservoirSize = 40)
      try {
        gs.appendToSample("fs_res", batch, seed = 43L)
        gs.appendToSample("fs_res", rows(200000, 500), seed = 44L)
        check(gs, "fs_res", "fs_base", Seq(oracle(base, 0.0, 40, 42L),
          oracle(batch, 0.0, 40, 43L), oracle(rows(200000, 500), 0.0, 40, 44L))
          .reduce(union))
      } finally gs.dropSampleTable("fs_res")

      gs.createSampleTable("fs_frac", "fs_base", Seq("g"), fraction = 0.1, reservoirSize = 5)
      try {
        gs.appendToSample("fs_frac", batch, seed = 43L)
        check(gs, "fs_frac", "fs_base",
          union(oracle(base, 0.1, 5, 42L), oracle(batch, 0.1, 5, 43L)))
      } finally gs.dropSampleTable("fs_frac")
    } finally spark.catalog.dropTempView("fs_base")
  }

  test("a frame planned before an append or re-create of an in-memory sample runs " +
    "after it; a drop frees the rows at once, a swap once no frame holds them") {
    val gs = new GraftSession(spark)
    rows(0, 3000).createOrReplaceTempView("fs_rel_base")
    val sc = spark.sparkContext
    def stored(): Set[Int] = {
      org.apache.spark.sql.graft.Plans.flushListenerBus(spark)
      org.apache.spark.GraftTestBus.storedRdds(sc)
    }
    val baseline = stored()
    def perG(df: DataFrame): Map[String, Double] =
      df.collect().map(r => r.getString(0) -> r.getAs[Number](1).doubleValue).toMap
    def assertSame(got: Map[String, Double], want: Map[String, Double], what: String): Unit = {
      assert(got.keySet === want.keySet, what)
      want.foreach { case (g, w) => assert(math.abs(got(g) - w) <= 1e-9 * math.max(1.0, w), s"$what: $g") }
    }
    // every frame lives inside this call, so none is reachable after it
    def exercise(opts: String): Unit = {
      gs.sql(s"CREATE SAMPLE TABLE fs_rel ON fs_rel_base OPTIONS(qcs 'g', $opts)")
      def counts = spark.table("fs_rel").groupBy("g").count()
      def estimate = gs.sql("SELECT g, sum(v) AS s FROM fs_rel_base GROUP BY g WITH ERROR 0.9")
      Seq[(String, () => Unit)](
        "append" -> (() => gs.appendToSample("fs_rel", rows(50000, 400))),
        "second append" -> (() => gs.appendToSample("fs_rel", rows(60000, 400), seed = 44L)),
        "re-create" -> (() =>
          gs.sql(s"CREATE SAMPLE TABLE fs_rel ON fs_rel_base OPTIONS(qcs 'g', $opts)"))
      ).foreach { case (what, swap) =>
        // a query racing a streaming append: planned before the swap and
        // run after it; and a frame run on both sides of the swap
        val planned = counts
        val plannedEstimate = estimate
        val ran = counts
        val want = perG(ran)
        val wantEstimate = perG(estimate)
        swap()
        assertSame(perG(planned), want, s"$opts: planned before the $what")
        assertSame(perG(ran), want, s"$opts: run before and after the $what")
        assertSame(perG(plannedEstimate), wantEstimate, s"$opts: WITH ERROR planned before the $what")
      }
      // held, so only an unpersist (not a collection) can unregister it
      val rowsRdd = gs.state.samples("fs_rel").blocks.get
      assert(stored().contains(rowsRdd.id))
      gs.dropSampleTable("fs_rel")
      assert(!sc.getPersistentRDDs.contains(rowsRdd.id),
        s"$opts: a dropped sample's rows are unpersisted at once")
    }
    try {
      Seq("fraction '0.0', strataReservoirSize '40'", "fraction '0.1'").foreach(exercise)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      var extra = stored() -- baseline
      while (extra.nonEmpty && System.nanoTime() < deadline) {
        System.gc()
        Thread.sleep(200)
        extra = stored() -- baseline
      }
      assert(extra.isEmpty, s"RDDs still stored once no frame holds them: $extra")
    } finally {
      gs.dropSampleTable("fs_rel")
      spark.catalog.dropTempView("fs_rel_base")
    }
  }
}
