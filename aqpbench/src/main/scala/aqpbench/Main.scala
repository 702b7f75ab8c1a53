package aqpbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** What every workload hands back: the metrics of its own it measured
 * (user-visible figures and per-layer ones, by name) and the duration in
 * seconds of each of its set-up repetitions. */
final case class Outcome(user: Map[String, Double], layer: Map[String, Double],
    setupRepsS: Seq[Double])

/** Everything a workload needs: the session, the seed, the timed window,
 * the op recorder and (traced runs only) the span recorder. In a traced run
 * half the ops are traced, so the untraced ones give the tracing overhead
 * in the same run. */
final class Ctx(val spark: SparkSession, val gs: GraftSession, val seed: Long,
    val seconds: Int, val traced: Boolean, val workDir: java.nio.file.Path) {
  val rec = new Recorder
  val tracer: Option[Tracer] = if (traced) Some(new Tracer(spark.sparkContext)) else None
  val cores: Int = spark.sparkContext.defaultParallelism

  /** Whether op number `i` of a client, of `kind`, is traced. Queries: a
   * fixed pseudo-random half, so no slot of a periodic op schedule is
   * always left out and the untraced half gives the tracing overhead.
   * Every other op (appends, pipeline stages) is traced: each runs only a
   * few times in a window, and a stage left untraced would report no
   * per-layer time at all. */
  def tracedOp(i: Long, kind: String = "query"): Boolean =
    traced && !warming && (kind != "query" || (Rng.mix(i) & 1L) == 0L)

  @volatile var warming = false
  /** Runs `body` with its ops executed but not recorded or checked. */
  def warmUp(body: => Unit): Unit = { warming = true; try body finally warming = false }

  /** Runs one op of `kind`, traced when asked to. */
  def op(kind: String, i: Long, label: String = "")(body: => Check): Unit =
    if (warming) body
    else {
      val t = tracedOp(i, kind)
      rec.op(kind, t, label) {
        if (t) tracer.get.op("op." + kind)(body) else body
      }
    }
  def span[A](name: String)(body: => A): A = tracer match {
    case Some(t) => t.span(name)(body)
    case None => body
  }
  /** Outside-the-op measurements a traced run adds (probes): a traced op
   * of their own, never timed as a workload op. */
  def probe[A](name: String)(body: => A): A = tracer match {
    case Some(t) => t.op("probe." + name)(body)
    case None => body
  }

  private val start = System.nanoTime()
  private val phases = mutable.ArrayBuffer.empty[String]
  /** Notes the end of a named phase of the run (reported with the result). */
  def phase(name: String): Unit =
    phases += f"$name@${(System.nanoTime() - start) / 1e9}%.1fs"
  def phaseLog: String = phases.mkString(" ")

  private var window: (Long, Long) = (0L, 0L)
  private var gc0 = 0L
  private var runTime0 = 0L
  private var runTime1 = 0L
  /** Share of the cores' time Spark tasks ran during the window. */
  def coreUtil: Double = (runTime1 - runTime0) / 1000.0 / (windowS * cores)
  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum

  private var steal0 = 0L
  private var steal1 = 0L
  /** Share of the machine's CPU time the hypervisor gave to others during
   * the window (the steal column of Linux `/proc/stat`, 0 where there is
   * none): a run with a high share was slowed by its host, not by the
   * program. Printed with the report, not a metric. */
  def stealShare: Double =
    (steal1 - steal0) / 100.0 / (windowS * Runtime.getRuntime.availableProcessors)
  private def stealTicks(): Long = scala.util.Try {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().next().trim.split("\\s+")(8).toLong finally src.close()
  }.getOrElse(0L)

  /** Runs `clients` closed-loop clients until `seconds` have passed. Each
   * client calls `step(client, i)` for i = 0, 1, ... and waits for it.
   * Inside [[warmUp]] it runs for `warmSeconds` and records nothing. */
  def closedLoop(clients: Int, warmSeconds: Int = 0)(step: (Int, Long) => Unit): Unit = {
    if (warming) { loop(clients, warmSeconds)(step); phase("warm-up loop") }
    else {
      gc0 = gcMs()
      runTime0 = tracer.map(_.taskRunTimeMs).getOrElse(0L)
      steal0 = stealTicks()
      window = loop(clients, seconds)(step)
      steal1 = stealTicks()
      runTime1 = tracer.map(_.taskRunTimeMs).getOrElse(0L)
      phase("window")
    }
  }

  private def loop(clients: Int, secs: Int)(step: (Int, Long) => Unit): (Long, Long) = {
    val t0 = System.nanoTime()
    val deadline = t0 + secs * 1000000000L
    val threads = (0 until clients).map { c =>
      val th = new Thread(() => {
        var i = 0L
        while (System.nanoTime() < deadline) { step(c, i); i += 1 }
      }, s"aqpbench-client-$c")
      th.start(); th
    }
    threads.foreach(_.join())
    (t0, System.nanoTime())
  }
  def windowS: Double = (window._2 - window._1) / 1e9
  /** Ops of `kind` per second, from the window's start to the end of the
   * last such op: a window that ends inside a long op of another kind
   * (an append, a pipeline stage) does not dilute the rate. */
  def ratePerS(kind: String): Double =
    rec.latencies(kind).size / ((rec.lastEndNs(kind).getOrElse(window._2) - window._1) / 1e9)
  def gcDuringWindowMs: Long = gcMs() - gc0
}

object Main {
  val Workloads: Seq[String] = Seq("aqp_interactive", "ingest_mixed", "llm_pipeline")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts.getOrElse("workload", "")
    require(Workloads.contains(workload),
      s"--workload must be one of ${Workloads.mkString(", ")}")
    val seed = opts.getOrElse("seed", "1").toLong
    val seconds = opts.getOrElse("seconds", "12").toInt
    val traced = opts.getOrElse("trace", "0") == "1"
    val workDir = java.nio.file.Paths.get(opts.getOrElse("work", ".aqpbench"))
      .toAbsolutePath
    val spansDir = java.nio.file.Paths.get(opts.getOrElse("spans", workDir.resolve("spans").toString))
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"aqpbench-$workload")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.aqp.estimator", "auto")
      .config("spark.local.dir", workDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", workDir.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val gs = GraftSession(spark)
    val sessionS = (System.nanoTime() - t0) / 1e9

    val ctx = new Ctx(spark, gs, seed, seconds, traced, workDir)
    val out = try workload match {
      case "aqp_interactive" => AqpInteractive.run(ctx)
      case "ingest_mixed" => IngestMixed.run(ctx)
      case "llm_pipeline" => LlmPipeline.run(ctx)
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        spark.stop()
        sys.exit(3)
    }
    val cachedMb = spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1048576.0
    val (attempted, failed, failures) = ctx.rec.finish()
    ctx.phase("checks")
    failures.take(20).foreach(m => println(s"CHECK FAILED $m"))
    if (failures.size > 20) println(s"CHECK FAILED ... ${failures.size - 20} more")

    val q = ctx.rec.latencies("query")
    val e2e = mutable.LinkedHashMap[String, (Double, String)](
      "setup_s" -> (sessionS + Stats.median(out.setupRepsS), "s"),
      "query_p50_ms" -> (Stats.quantile(q, 0.5), "ms"),
      "query_p90_ms" -> (Stats.quantile(q, 0.9), "ms"),
      "queries_per_s" -> (ctx.ratePerS("query"), "1/s"),
      "ok_ops_ratio" -> ((attempted - failed).toDouble / math.max(attempted, 1), "share"),
      "cached_mb" -> (cachedMb, "MB"))
    println(s"# $workload seed=$seed seconds=$seconds trace=${if (traced) 1 else 0} " +
      f"session_start_s=$sessionS%.3f setup_reps_s=${out.setupRepsS.map(x => f"$x%.3f").mkString(",")} " +
      s"queries=${q.size} attempted=$attempted failed=$failed " +
      f"host_steal_share=${ctx.stealShare}%.3f")
    println(s"# phases (since session start): ${ctx.phaseLog}")
    ctx.rec.breakdown.foreach { case (k, l) =>
      println(f"  op $k%-28s n=${l.size}%4d p50=${Stats.median(l)}%10.2f ms p90=${Stats.quantile(l, 0.9)}%10.2f ms")
    }
    e2e.foreach { case (k, (v, u)) => println(f"  $k%-34s $v%14.4f $u") }
    out.user.foreach { case (k, v) => println(f"  $k%-34s $v%14.4f") }

    val bad = e2e.collect { case (k, (v, _)) if v.isNaN || v.isInfinite => k }
    if (bad.nonEmpty) {
      System.err.println(s"aqpbench: no value for ${bad.mkString(", ")}; no result")
      spark.stop()
      sys.exit(4)
    }
    val metrics: Map[String, Double] =
      if (!traced) e2e.map { case (k, (v, _)) => k -> v }.toMap
      else {
        val t = ctx.tracer.get
        val traceFile = spansDir.resolve(s"$workload-seed$seed.jsonl")
        t.dump(traceFile)
        val self = t.selfMsPerOp()
        val tq = ctx.rec.latencies("query", traced = true)
        val uq = ctx.rec.latencies("query", traced = false)
        val overhead = Stats.median(tq) - Stats.median(uq)
        println(f"# tracing overhead: query p50 traced ${Stats.median(tq)}%.3f ms, " +
          f"untraced ${Stats.median(uq)}%.3f ms, difference $overhead%.3f ms; spans in $traceFile")
        println("# self time per traced op (ms): " +
          Tracer.Layers.map(l => f"$l=${self.getOrElse(l, 0.0)}%.3f").mkString(" "))
        val (jobs, tasks, shuffleMb, spillMb) = t.sparkPerOp
        val common = Map(
          "spark.jobs_per_op" -> jobs,
          "spark.tasks_per_op" -> tasks,
          "spark.core_util" -> ctx.coreUtil,
          "spark.shuffle_mb_per_op" -> shuffleMb,
          "spark.spill_mb_per_op" -> spillMb,
          "jvm.gc_ms_per_op" -> ctx.gcDuringWindowMs.toDouble / math.max(attempted, 1),
          "trace.overhead_query_p50_ms" -> overhead)
        val selfMetrics = Tracer.Layers.map(l => s"self.${l}_ms" -> self.getOrElse(l, 0.0))
        // every per-layer metric is reported on every workload; a layer a
        // workload does not call reads 0
        (PerLayer.Names.map(n => n -> 0.0).toMap ++ out.user ++ out.layer ++
          common ++ selfMetrics).map { case (k, v) => k -> (if (v.isNaN) 0.0 else v) }
          .ensuring(_.keySet == PerLayer.Names.toSet, "per-layer metric names out of step")
      }
    spark.stop()
    val units = PerLayer.Units
    val json = mutable.LinkedHashMap[String, Any](
      "correct" -> (failed == 0),
      "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> mutable.LinkedHashMap(metrics.toSeq.sortBy(_._1).map { case (k, v) =>
        k -> mutable.LinkedHashMap("value" -> v,
          "unit" -> e2e.get(k).map(_._2).getOrElse(units.getOrElse(k, "count")))
      }: _*))
    println(Json(json))
  }
}

/** Names and units of the per-layer metrics a traced run reports. */
object PerLayer {
  val Units: Map[String, String] = Map(
    // user-visible figures of one workload each
    "append_p50_ms" -> "ms", "append_p90_ms" -> "ms", "ingest_rows_per_s" -> "rows/s",
    "store_bytes_per_ingested_byte" -> "ratio", "pass_p50_s" -> "s",
    "corpus_rows_per_s" -> "rows/s", "ci_coverage" -> "share", "rel_error_mean" -> "share",
    "dedup_recall" -> "share", "knn_recall_at_10" -> "share",
    // graft
    "graft.sql_ms" -> "ms", "graft.sql_jobs" -> "count",
    "graft.create_sample_ms" -> "ms", "graft.create_topk_ms" -> "ms",
    "graft.sample_append_ms" -> "ms", "graft.sample_publish_ms" -> "ms",
    "graft.topk_append_ms" -> "ms", "graft.topk_publish_ms" -> "ms",
    "graft.topk_query_ms" -> "ms", "graft.frequency_query_ms" -> "ms",
    "graft.sample_query_ms" -> "ms", "graft.sample_files" -> "count",
    "graft.store_mb_written_per_batch" -> "MB",
    // aqp
    "aqp.plan_ms" -> "ms", "aqp.exec_ms" -> "ms", "aqp.sample_route_ratio" -> "share",
    "aqp.bootstrap_share" -> "share", "aqp.rows_scanned_per_result_row" -> "ratio",
    "aqp.hac_base_rerun_ms" -> "ms",
    // sampling, sketches
    "sampling.sample_ms" -> "ms", "sampling.kept_ratio" -> "share",
    "topk.build_partials_ms" -> "ms", "topk.spilled_buckets" -> "count",
    // pipeline operators
    "text.enrich_ms" -> "ms", "pipeline.chunk_pack_ms" -> "ms",
    "dedup.exact_ms" -> "ms", "dedup.lsh_ms" -> "ms", "dedup.components_ms" -> "ms",
    "dedup.candidate_pairs" -> "count", "dedup.verified_per_candidate" -> "share",
    "ann.index_ms" -> "ms", "ann.cosine_dedup_ms" -> "ms", "ann.knn_ms" -> "ms",
    // engine
    "spark.jobs_per_op" -> "count", "spark.tasks_per_op" -> "count",
    "spark.core_util" -> "share", "spark.shuffle_mb_per_op" -> "MB",
    "spark.spill_mb_per_op" -> "MB", "jvm.gc_ms_per_op" -> "ms",
    "trace.overhead_query_p50_ms" -> "ms") ++
    Tracer.Layers.map(l => s"self.${l}_ms" -> "ms")
  val Names: Seq[String] = Units.keys.toSeq.sorted
}
