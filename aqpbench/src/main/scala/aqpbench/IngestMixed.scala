package aqpbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.graft.AqpInfo
import org.apache.spark.sql.types._

import graft.sampling.StratifiedSampler
import graft.topk.TopKState

/** `ingest_mixed`: one thread alternates a write — one micro-batch of
 * events appended to a path-backed stratified sample and a path-backed
 * time-bucketed Count-Min TopK — with a fixed round of twelve reads:
 * frequency lookups, windowed top-k queries and `WITH ERROR` aggregates over
 * the growing sample. Every batch is one new minute of event time with
 * Zipf-skewed users; the oracle keeps exact counts and sums as the batches
 * arrive. */
object IngestMixed {
  val BaseRows = 50000
  val BatchRows = 2000
  val Users = 5000
  val IntervalMs = 60000L
  val BaseMinutes = 50
  val T0: Long = 1704067200000L // 2024-01-01T00:00:00Z, a whole minute
  val Types = Array("click", "error", "purchase", "signup", "view")
  val Schema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))
  // Fixed read round after each write: a quarter point lookups, five
  // top-k listings over recent minutes (in every fourth round one of them
  // reads spilled history instead) and a third sample aggregates, so the
  // median falls inside the recent top-k reads and the 90th percentile
  // inside the aggregates.
  val Reads: Array[String] = Array("frequency", "topk", "aggregate", "topk",
    "frequency", "topk", "aggregate", "topk", "frequency", "topk", "aggregate", "aggregate")

  final case class Ev(id: Long, tsMs: Long, user: Long, kind: Int, value: Double,
      props: String) {
    def row: Row = Row(id, new java.sql.Timestamp(tsMs), user, Types(kind), value, props)
    /** Bytes of the raw event as ingested (fixed-width fields + strings). */
    def bytes: Long = 8 + 8 + 8 + Types(kind).length + 8 + props.length
  }

  /** Event `i` of minute `minute`; minutes below BaseMinutes form the base
   * table, every later minute is one micro-batch. */
  def event(seed: Long, zipf: Rng.Zipf, minute: Int, i: Int): Ev = {
    val id = minute.toLong * 1000000 + i
    val ts = T0 + minute * IntervalMs + (Rng.u(seed, 400, id) * IntervalMs).toLong
    val kind = Rng.int(seed, 401, id, Types.length)
    val value = math.rint(math.exp(3 + Rng.gauss(seed, 402, id)) * 100) / 100
    Ev(id, ts, zipf.draw(Rng.u(seed, 403, id)), kind, value,
      s"""{"k": ${Rng.int(seed, 404, id, 100)}}""")
  }

  /** Exact state kept from the generated rows: per-minute user counts and
   * per-type (sum, count). */
  final class Oracle {
    val counts = mutable.HashMap.empty[Int, mutable.HashMap[Long, Long]]
    val sums = Array.fill(Types.length)(Array(0.0, 0.0))
    def add(e: Ev): Unit = {
      val m = ((e.tsMs - T0) / IntervalMs).toInt
      val c = counts.getOrElseUpdate(m, mutable.HashMap.empty)
      c(e.user) = c.getOrElse(e.user, 0L) + 1
      sums(e.kind)(0) += e.value; sums(e.kind)(1) += 1
    }
    def count(user: Long, m0: Int, m1: Int): Long =
      (m0 to m1).map(m => counts.get(m).flatMap(_.get(user)).getOrElse(0L)).sum
    def snapshot: Array[Array[Double]] = sums.map(_.clone)
  }

  def num(row: Row, i: Int): Option[Double] =
    Option(row.get(i)).map(_.asInstanceOf[Number].doubleValue)

  def dirBytes(p: java.nio.file.Path): (Long, Int) =
    if (!java.nio.file.Files.exists(p)) (0L, 0)
    else {
      val s = java.nio.file.Files.walk(p)
      try s.iterator.asScala.filter(java.nio.file.Files.isRegularFile(_))
        .foldLeft((0L, 0)) { case ((b, n), f) => (b + java.nio.file.Files.size(f), n + 1) }
      finally s.close()
    }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val gs = ctx.gs
    val seed = ctx.seed
    val zipf = new Rng.Zipf(Users, 1.1)
    val perBaseMinute = BaseRows / BaseMinutes
    val oracle = new Oracle
    val baseEvents = (0 until BaseMinutes).flatMap(m =>
      (0 until perBaseMinute).map(i => event(seed, zipf, m, i)))
    baseEvents.foreach(oracle.add)
    val base = spark.createDataFrame(baseEvents.map(_.row).asJava, Schema)
      .repartition(ctx.cores).persist()
    base.count()
    base.createOrReplaceTempView("events")
    ctx.phase("inputs")
    def batch(b: Int): Seq[Ev] =
      (0 until BatchRows).map(i => event(seed, zipf, BaseMinutes + b, i))

    // set-up: the path-backed sample (SQL DDL) and TopK (API), three times
    // over fresh paths; the last pair is the one the run appends to
    val store = ctx.workDir.resolve("store")
    var sampleDir = store
    var topkDir = store
    var topk: TopKState = null
    val sampleMs = mutable.ArrayBuffer.empty[Double]
    val topkMs = mutable.ArrayBuffer.empty[Double]
    val setupReps = (0 until 3).map { rep =>
      gs.dropSampleTable("ev_sample")
      sampleDir = store.resolve(s"sample-$rep")
      topkDir = store.resolve(s"topk-$rep")
      val t0 = System.nanoTime()
      gs.sql("CREATE SAMPLE TABLE ev_sample ON events OPTIONS(qcs 'event_type', " +
        s"fraction '0.05', path '$sampleDir')")
      val t1 = System.nanoTime()
      // Count-Min (the default family), 7 x 200 cells per minute: about 39
      // minutes stay on the driver, older ones spill to the path
      topk = gs.createTopK("ev_topk", "events", Map("key" -> "user_id",
        "timeSeriesColumn" -> "ts", "timeInterval" -> s"${IntervalMs}ms", "size" -> "10",
        "maxInterval" -> "1000", "maxDriverEntries" -> "56000", "path" -> topkDir.toString))
      val t2 = System.nanoTime()
      sampleMs += (t1 - t0) / 1e6; topkMs += (t2 - t1) / 1e6
      (t2 - t0) / 1e9
    }
    val store0 = dirBytes(sampleDir)._1 + dirBytes(topkDir)._1
    ctx.phase("setup")

    val acc = new AqpInteractive.Accuracy
    val appendMs = mutable.ArrayBuffer.empty[Double]
    val storeDelta = mutable.ArrayBuffer.empty[Double]
    var ingestedRows = 0L
    var ingestedBytes = 0L
    var keptRows = 0L
    var offeredRows = 0L
    var routed = 0
    var aggregates = 0
    // warm-up outside the window: one read of each kind first
    gs.queryTopK("ev_topk", T0, T0 + BaseMinutes * IntervalMs - 1, 10).collect()
    gs.queryFrequency("ev_topk", 1L, T0, T0 + BaseMinutes * IntervalMs - 1)
    gs.sql(aggregateSql).collect()
    ctx.phase("warm-up")

    def read(kind: String, r: Long, opIdx: Long, last: Int): Unit =
      ctx.op("query", opIdx, kind) {
        // a window of 1..10 whole minutes: recent ones end within the last
        // five minutes written, history ones lie in the first twenty
        val m1 =
          if (kind == "topk_history") 9 + Rng.int(seed, 410, r, 11)
          else last - Rng.int(seed, 410, r, 5)
        val m0 = math.max(0, m1 - Rng.int(seed, 411, r, 10))
        val (s, e) = (T0 + m0 * IntervalMs, T0 + (m1 + 1) * IntervalMs - 1)
        val chk: Check = kind match {
          case "frequency" =>
            val user = zipf.draw(Rng.u(seed, 412, r) * 0.9).toLong
            val got = ctx.span("graft.frequency_query")(gs.queryFrequency("ev_topk", user, s, e))
            () => {
              val want = oracle.count(user, m0, m1)
              got match {
                case Some((lo, _, hi)) if want >= lo && want <= hi => None
                case other => Some(s"frequency of user $user in minutes $m0..$m1: $other, exact $want")
              }
            }
          case "topk" | "topk_history" =>
            val rows = ctx.span("graft.topk_query")(gs.queryTopK("ev_topk", s, e, 10).collect())
            () => rows.collectFirst {
              case row if {
                val want = oracle.count(row.getLong(0), m0, m1)
                val b = row.getStruct(3)
                want < b.getLong(0) || want > b.getLong(2)
              } => s"top-k user ${row.getLong(0)} in minutes $m0..$m1 outside its bounds " +
                s"${row.getStruct(3)}, exact ${oracle.count(row.getLong(0), m0, m1)}"
            }.orElse(if (rows.isEmpty) Some(s"empty top-k for minutes $m0..$m1") else None)
          case "aggregate" =>
            val df = gs.sql(aggregateSql)
            val rows = ctx.span("graft.sample_query")(df.collect())
            if (!ctx.warming) {
              aggregates += 1
              if (AqpInfo.usesSample(df)) routed += 1
            }
            val exact = oracle.snapshot
            () => {
              rows.foreach { row =>
                val k = Types.indexOf(row.getString(0))
                acc.add(exact(k)(0), num(row, 1).getOrElse(Double.NaN), num(row, 2), num(row, 3))
              }
              if (rows.length != Types.length) Some(s"${rows.length} event types, exact has 5")
              else None
            }
        }
        chk
      }

    var b = 0
    def cycle(i: Long): Unit = {
      val timed = !ctx.warming
      val evs = batch(b)
      val df: DataFrame = spark.createDataFrame(evs.map(_.row).asJava, Schema)
      val batchMs = T0 + (BaseMinutes + b) * IntervalMs
      val before = dirBytes(sampleDir)._1 + dirBytes(topkDir)._1
      val t0 = System.nanoTime()
      ctx.op("append", i) {
        ctx.span("graft.sample_append")(gs.appendToSampleForBatch("ev_sample", df, "ingest", b))
        ctx.span("graft.topk_append")(gs.appendToTopKForBatch("ev_topk", df, batchMs, "ingest", b))
        () => None
      }
      evs.foreach { e => oracle.add(e); ingestedBytes += e.bytes }
      if (timed) {
        appendMs += (System.nanoTime() - t0) / 1e6
        ingestedRows += evs.size
        storeDelta += (dirBytes(sampleDir)._1 + dirBytes(topkDir)._1 - before).toDouble
      }
      if (ctx.tracedOp(i, "append")) {
        // probes: the sampler and the sketch build on their own, on the
        // same batch, so the append splits into compute and publish time
        offeredRows += evs.size
        keptRows += ctx.probe("sampling") {
          ctx.span("sampling.sample")(StratifiedSampler.sample(df, Seq("event_type"),
            fraction = 0.05, reservoirSize = 50, seed = 43L).count())
        }
        ctx.probe("topk")(ctx.span("topk.build_partials")(topk.buildPartials(df)))
      }
      Reads.indices.foreach { k =>
        val r = i * Reads.length + k
        val kind = if (k == 1 && b % 4 == 3) "topk_history" else Reads(k)
        read(kind, r, i, BaseMinutes + b)
      }
      b += 1
    }
    // the write/read cycle itself, unrecorded, until the JIT has settled
    ctx.warmUp(ctx.closedLoop(clients = 1, warmSeconds = 2)((_, i) => cycle(i)))
    ctx.closedLoop(clients = 1)((_, i) => cycle(i))
    ctx.rec.finish()
    val (sampleBytes, sampleFiles) = dirBytes(sampleDir)
    val topkBytes = dirBytes(topkDir)._1
    val user = Map(
      "append_p50_ms" -> Stats.quantile(appendMs, 0.5),
      "append_p90_ms" -> Stats.quantile(appendMs, 0.9),
      "ingest_rows_per_s" -> ingestedRows / ctx.windowS,
      "store_bytes_per_ingested_byte" ->
        (sampleBytes + topkBytes - store0).toDouble / math.max(ingestedBytes, 1),
      "ci_coverage" -> acc.covered.toDouble / math.max(acc.cells, 1),
      "rel_error_mean" -> acc.relErr / math.max(acc.relCells, 1))
    val layer = ctx.tracer.map { t =>
      val sampleAppend = t.meanMs("graft.sample_append")
      val topkAppend = t.meanMs("graft.topk_append")
      Map(
        "graft.create_sample_ms" -> Stats.median(sampleMs),
        "graft.create_topk_ms" -> Stats.median(topkMs),
        "graft.sample_append_ms" -> sampleAppend,
        "sampling.sample_ms" -> t.meanMs("sampling.sample"),
        "sampling.kept_ratio" -> keptRows.toDouble / math.max(offeredRows, 1),
        "graft.sample_publish_ms" -> (sampleAppend - t.meanMs("sampling.sample")),
        "graft.topk_append_ms" -> topkAppend,
        "topk.build_partials_ms" -> t.meanMs("topk.build_partials"),
        "graft.topk_publish_ms" -> (topkAppend - t.meanMs("topk.build_partials")),
        "graft.topk_query_ms" -> t.meanMs("graft.topk_query"),
        "graft.frequency_query_ms" -> t.meanMs("graft.frequency_query"),
        "graft.sample_query_ms" -> t.meanMs("graft.sample_query"),
        "aqp.sample_route_ratio" -> routed.toDouble / math.max(aggregates, 1),
        "graft.sample_files" -> sampleFiles.toDouble,
        "graft.store_mb_written_per_batch" -> Stats.mean(storeDelta) / 1048576.0,
        "topk.spilled_buckets" ->
          gs.state.topks.get("ev_topk").map(_.asInstanceOf[TopKState].spilledBucketCount)
            .getOrElse(0).toDouble)
    }.getOrElse(Map.empty)
    Outcome(user, layer, setupReps)
  }

  val aggregateSql: String =
    """SELECT event_type, sum(value) AS v, lower_bound(v) AS v_lo, upper_bound(v) AS v_hi
      |FROM events GROUP BY event_type WITH ERROR 0.2""".stripMargin
}
