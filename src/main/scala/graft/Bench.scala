package graft
import org.apache.spark.sql.SparkSession

/** The bench's contention adjudication, factored out of the main so the
 * detection math is unit-testable (and fuzzable against a real CPU-hog
 * sibling, BenchAdjudicateSpec). BENCH_r10 recorded a 105 s total — 3x its
 * own steady state — because the harness box was contended during the run;
 * the parsed summary line carried no signal to distinguish "slow plan"
 * from "busy box", so a contaminated number entered the round record
 * unlabeled. The bench now (a) records the 1-minute loadavg at start and
 * end, (b) compares each query's median against the git-tracked idle-box
 * reference (BENCH_ref.json, or SPARK_GRAFT_BENCH_REF), and (c) re-runs any
 * suspect — median > `factor`x its reference AND > `floor` seconds above
 * it — once after a settle, reporting min(original, re-run): contention
 * only ever inflates, so the smaller median is strictly the better
 * estimate of plan cost. The suspect list and both numbers ride the
 * summary line, so a contended record arrives labeled. */
object BenchAdjudicate {
  /** 1-minute load average, or -1 where /proc is unavailable. */
  def loadAvg(): Double =
    try java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .getSystemLoadAverage
    catch { case _: Throwable => -1.0 }

  /** Queries whose median exceeds `factor`x the reference AND sits more
   * than `floor` seconds above it (the absolute floor keeps 0.05s->0.2s
   * jitter on tiny queries from tripping the flag). A query with no
   * reference entry can't be adjudicated and is never suspect. */
  def suspects(medians: Seq[(String, Double)], ref: Map[String, Double],
      factor: Double = 3.0, floor: Double = 0.3): Seq[String] =
    medians.collect {
      case (name, m) if ref.get(name).exists(r => m > factor * r && m - r > floor) =>
        name
    }

  /** `{"queries":{...},"head":"...","sf":"..."}` fields of a prior bench
   * summary — a 60-line hand parser would be a liability; Jackson ships
   * with Spark. */
  def readRef(path: String): (Map[String, Double], Option[String], Option[String]) =
    try {
      val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
      val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(bytes)
      val qs = Option(node.get("queries")).map { q =>
        val it = q.fields()
        val b = Map.newBuilder[String, Double]
        while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue.asDouble() }
        b.result()
      }.getOrElse(Map.empty[String, Double])
      (qs, Option(node.get("head")).map(_.asText()).filter(_.nonEmpty),
        Option(node.get("sf")).map(_.asText()).filter(_.nonEmpty))
    } catch { case _: Exception => (Map.empty, None, None) }

  /** Whether this run may be promoted to the adjudication reference.
   * Round 11's lesson: the reference and the default output were the SAME
   * file, so a contended-but-completed run (driver load-3.2) silently
   * replaced the idle-box record, and because suspects are detected
   * RELATIVE to the reference (3x), an inflated reference hides the next
   * real regression. Promotion now requires every cleanliness signal:
   *  - not a subset run (`SPARK_GRAFT_BENCH_ONLY` would shrink the ref's
   *    query map and strip adjudication from the omitted queries);
   *  - zero FAILED query executions: a crashing query "runs" in
   *    milliseconds, and suspects only flag medians SLOWER than the
   *    reference — so a failure-poisoned run would otherwise promote its
   *    near-zero medians and then every healthy run reads 3x-suspect
   *    against them, which (suspects block promotion) ratchets the bad
   *    reference in permanently;
   *  - zero suspects (no query tripped the contention detector);
   *  - start loadavg at or under `maxLoad` (the END loadavg is useless
   *    here — the bench's own 32 threads push it past 3 on an idle box;
   *    the idle-box r11 run started at 0.77, the contended one at 3.2);
   *  - the existing reference's scale factor, if any, matches this run's
   *    (an sf1 run must not clobber the sf0.1 reference the driver
   *    adjudicates against — delete the ref file to change its sf).
   * A box with no loadavg (load0 < 0) falls back to the suspect signal
   * alone rather than freezing the reference forever. */
  def promote(load0: Double, suspects: Seq[String], runSf: String,
      refSf: Option[String], subset: Boolean,
      maxLoad: Double = 1.5, failures: Int = 0): Boolean =
    !subset && failures == 0 && suspects.isEmpty &&
      (load0 < 0 || load0 <= maxLoad) && refSf.forall(_ == runSf)

  /** Ratio of this run's total to the reference's total over the SHARED
   * query set — the round-over-round drift number as a field instead of a
   * judge computation. Restricting both sums to the intersection keeps a
   * newly added query from reading as regression. None when nothing is
   * shared (first run, sf mismatch) or the ref total is degenerate. */
  def vsRefTotal(medians: Seq[(String, Double)],
      ref: Map[String, Double]): Option[Double] = {
    val shared = medians.filter { case (n, _) => ref.contains(n) }
    val refSum = shared.map { case (n, _) => ref(n) }.sum
    if (shared.isEmpty || refSum <= 0) None
    else Some(shared.map(_._2).sum / refSum)
  }

  /** Default adjudication-reference file for a scale-factor directory.
   * One reference PER scale factor: `promote` refuses cross-sf promotion
   * (correct — an sf1 run must not clobber the sf0.1 record the driver
   * adjudicates against), so a single shared file meant scaled runs never
   * self-adjudicated. The driver's operative sf0.1 dir keeps the
   * historical `BENCH_ref.json`; every other dir gets
   * `BENCH_ref_<basename>.json` (basename sanitized — an sf dir name is a
   * path segment, not a trusted string). */
  def refPathFor(sfDir: String): String = {
    val base = new java.io.File(sfDir).getName
      .toLowerCase.replaceAll("[^a-z0-9._-]", "_")
    if (base == "sf0.1") "BENCH_ref.json" else s"BENCH_ref_$base.json"
  }

  /** Current git HEAD, for labeling records and validating the reference
   * (a 3x delta against a DIFFERENT head may be a real plan change). */
  def gitHead(dir: String): Option[String] =
    try {
      val p = new ProcessBuilder("git", "rev-parse", "HEAD")
        .directory(new java.io.File(dir)).redirectErrorStream(true).start()
      val out = new String(p.getInputStream.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8).trim
      if (p.waitFor() == 0 && out.matches("[0-9a-f]{40}")) Some(out) else None
    } catch { case _: Exception => None }
}

object Bench {
  def main(args: Array[String]): Unit = {
    val load0 = BenchAdjudicate.loadAvg()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // '*' (all cores) is valid for local[...] but not for
    // shuffle.partitions — resolve it before applying to both
    val parts =
      if (cpus.forall(_.isDigit)) cpus
      else Runtime.getRuntime.availableProcessors().toString
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", parts)
      // respect the 64 MB advisory target when AQE coalesces post-shuffle
      // partitions instead of preserving parallelism: multi-stage queries
      // over small-to-mid shuffles otherwise run `cpus` near-empty reduce
      // tasks per stage and scheduling overhead dominates. At scale the
      // partition count is bytes-driven either way (Spark docs recommend
      // false for exactly this reason).
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // warmup: JVM/codegen/parquet-reader init shouldn't bill the timed runs
    // (the reference perf harness likewise runs warmup iterations and skips
    // them — AQPPerfTestUtil.scala:36-76). Each query shape runs once at the
    // smallest scale factor so its generated code is compiled and JIT-warm
    // before timing at the target scale.
    spark.range(1000000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/lineitem.parquet").limit(1).count()
    // Warm at the TARGET scale: joins flip physical strategy between scale
    // factors (broadcast thresholds), so a small-sf warmup leaves the
    // at-scale join/aggregate codegen cold and the first timed query absorbs
    // JIT + codegen compilation. One untimed pass of every query at sfDir
    // makes the timed pass measure plans, not warmup.
    // local-iteration filter only (the driver never sets it): time a subset
    // without paying for the other 50 queries
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    // sorted-by-name: hash-map iteration order varies between JVMs/builds,
    // and a stable ordering makes local runs reproduce the driver's run
    // shape (same warm caches before each query) round over round
    val selected = (only match {
      case Some(names) => SparkEntry.queries.filter { case (n, _) => names(n) }
      case None => SparkEntry.queries
    }).toSeq.sortBy(_._1)
    selected.foreach { case (name, fn) =>
      try { fn(spark, sfDir).count() } catch {
        case e: Throwable =>
          System.err.println(s"BENCH WARMUP FAILED $name: ${e.getMessage}")
      }
    }
    // median of 4 timed passes per query (matching the driver's n=4
    // harness, so local totals predict the operative BENCH_r{N} number):
    // single-run times on this box vary ±40% from JIT/GC (r02's q37
    // measured 7.9 s against a 0.8 s steady state), which makes
    // round-over-round comparison meaningless. The median is robust to one
    // bad run and still penalizes real plan cost.
    val passes = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "4").toInt
    val sc = spark.sparkContext
    // self-diagnosing bench: alongside each median, record the raw per-pass
    // times plus harness-state probes (persisted-RDD count, storage bytes,
    // GC time) so a regressed BENCH run distinguishes "slow plan" from
    // "cache churn / GC-pressured box" without a reproduction attempt
    def gcMillis(): Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(b => math.max(0L, b.getCollectionTime)).sum
    }
    def storageBytes(): Long = sc.getRDDStorageInfo.map(_.memSize).sum
    def cachedRdds(): Int = sc.getPersistentRDDs.size
    val diag = new scala.collection.mutable.ArrayBuffer[String]
    def r3(d: Double): Double = math.rint(d * 1000) / 1000
    // failed executions make medians meaninglessly SMALL (a crash "runs"
    // in ms), which the slower-than-ref suspect detector cannot see —
    // count them so promotion can refuse the run (see [[BenchAdjudicate]])
    var failures = 0
    val results = selected.map { case (name, fn) =>
      val times = new scala.collection.mutable.ArrayBuffer[Double]
      val gcs = new scala.collection.mutable.ArrayBuffer[Long]
      (1 to passes).foreach { _ =>
        val gc0 = gcMillis()
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count() } catch {
          case e: Throwable =>
            failures += 1
            System.err.println(s"BENCH QUERY FAILED $name: ${e.getMessage}")
        }
        // drain the async listener bus before stopping the clock's
        // successor: releaseAfterFirstUse unpersists via a
        // QueryExecutionListener that fires asynchronously — without the
        // flush a pass can start while the previous pass's cache entry is
        // still resident, and under memory pressure that reads as eviction
        // churn attributed to the WRONG query
        org.apache.spark.sql.graft.Plans.flushListenerBus(spark)
        times += (System.nanoTime() - t0) / 1e9
        gcs += gcMillis() - gc0
      }
      val sorted = times.sorted
      // true median: for even pass counts average the middle two — picking
      // sorted(n/2) alone reports the upper-middle sample and biases every
      // query (and the total) high
      val median =
        if (sorted.size % 2 == 1) sorted(sorted.size / 2)
        else (sorted(sorted.size / 2 - 1) + sorted(sorted.size / 2)) / 2.0
      diag += "\"" + name + "\":{\"passes\":[" + times.map(r3).mkString(",") +
        "],\"gc_ms\":[" + gcs.mkString(",") + "],\"cached_rdds\":" + cachedRdds() +
        ",\"storage_mb\":" + (storageBytes() >> 20) + "}"
      name -> median
    }
    // --- contention adjudication (see [[BenchAdjudicate]]): compare each
    // median against the committed same-repo record, re-run suspects after
    // a settle, and label the summary so a contended run can never enter a
    // round record unmarked again
    // the reference is a SEPARATE, git-tracked file from the run record:
    // it only ever changes by explicit promotion below, so a contended run
    // can never poison the next round's adjudication. References are
    // PER SCALE FACTOR (r12 verdict #4): promote refuses cross-sf
    // promotion, so with one shared file sf1/sf10 runs could never
    // self-adjudicate and scale curves relied on judge-side eyeballing —
    // each sf dir now keys its own reference file. The driver's operative
    // sf0.1 keeps the historical BENCH_ref.json name.
    val refPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_REF",
      BenchAdjudicate.refPathFor(sfDir))
    val (ref0, refHead, refSf) = BenchAdjudicate.readRef(refPath)
    // a reference recorded at a DIFFERENT scale factor cannot adjudicate
    // this run (a 10x-data run is legitimately >3x the sf0.1 record) —
    // drop it rather than flag every scaled-up query suspect; reachable
    // only via an explicit SPARK_GRAFT_BENCH_REF override now that the
    // default path is sf-keyed
    val ref = if (refSf.forall(_ == sfDir)) ref0 else Map.empty[String, Double]
    val head = BenchAdjudicate.gitHead(".")
    val suspectNames = BenchAdjudicate.suspects(results, ref)
    val rerun: Map[String, Double] = if (suspectNames.isEmpty) Map.empty else {
      val settleMs = sys.env.getOrElse("SPARK_GRAFT_BENCH_SETTLE_MS", "5000").toLong
      System.err.println(s"BENCH SUSPECTS ${suspectNames.mkString(",")}: " +
        s"re-running after ${settleMs}ms settle")
      Thread.sleep(settleMs)
      val byName = selected.toMap
      suspectNames.map { n =>
        val times = new scala.collection.mutable.ArrayBuffer[Double]
        (1 to passes).foreach { _ =>
          val t0 = System.nanoTime()
          try { byName(n)(spark, sfDir).count() } catch {
            case e: Throwable =>
              failures += 1
              System.err.println(s"BENCH RERUN FAILED $n: ${e.getMessage}")
          }
          org.apache.spark.sql.graft.Plans.flushListenerBus(spark)
          times += (System.nanoTime() - t0) / 1e9
        }
        val sorted = times.sorted
        n -> (if (sorted.size % 2 == 1) sorted(sorted.size / 2)
          else (sorted(sorted.size / 2 - 1) + sorted(sorted.size / 2)) / 2.0)
      }.toMap
    }
    // contention only ever inflates, so min(original, re-run) is strictly
    // the better estimate of plan cost; both numbers stay visible in the
    // suspect field so the correction is auditable
    val finalResults = results.map { case (n, m) =>
      n -> rerun.get(n).fold(m)(math.min(m, _))
    }
    val suspectDetailJson = suspectNames.map { n =>
      "\"" + n + "\":{\"median\":" + r3(results.toMap.apply(n)) +
        ",\"rerun\":" + r3(rerun(n)) + ",\"ref\":" + r3(ref(n)) + "}"
    }.mkString("{", ",", "}")
    // r17 (r16 verdict #2): the one-line summary must survive the driver's
    // bounded tail capture at ANY suspect count — r15's line outgrew the
    // window and the driver recorded prev_bench_ok:false, silencing the
    // whole round-over-round PERF table. The summary keeps each suspect as
    // name → contended median only (same object shape as before, ~1/4 the
    // bytes); the full median/rerun/ref detail moves to its own stderr
    // line (below), same place as the per-pass diag.
    val suspectJson = suspectNames.map { n =>
      "\"" + n + "\":" + r3(results.toMap.apply(n))
    }.mkString("{", ",", "}")
    val refHeadMatch = (head, refHead) match {
      // prefix compare: summaries record a 12-char head (r17 line diet),
      // older refs carry the full sha — either prefix relation matches
      case (Some(a), Some(b)) =>
        (a.startsWith(b) || b.startsWith(a)).toString
      case _ => "null"
    }
    // per-query medians at 2 decimals on the wire (the r16 verdict's
    // suggested trim — session noise on sub-second gates is ±20%, far
    // above the 0.005 s quantization); the r3 values stay visible in the
    // stderr diag's per-pass arrays
    def r2q(d: Double): Double = math.rint(d * 100) / 100
    val qs = finalResults.map { case (k, v) => s"\"" + k + "\":" + r2q(v) }
      .mkString("{", ",", "}")
    val total = r3(finalResults.map(_._2).sum)
    val diagJson = diag.mkString("{", ",", "}")
    // per-pass diagnostics go to stderr on their own line: the driver
    // captures a bounded tail of stdout and parses the LAST JSON line —
    // r7's single fat line (medians + diag) overflowed that window and
    // truncated its own head, so BENCH_r07 recorded parsed:null
    System.err.println(s"""{"bench_diag":$diagJson}""")
    if (suspectNames.nonEmpty)
      System.err.println(s"""{"bench_suspects":$suspectDetailJson}""")
    val load1 = BenchAdjudicate.loadAvg()
    def r2(d: Double): Double = math.rint(d * 100) / 100
    val vsRef = BenchAdjudicate.vsRefTotal(finalResults, ref)
    val promoted = BenchAdjudicate.promote(load0, suspectNames, sfDir, refSf,
      subset = only.nonEmpty,
      maxLoad = sys.env.getOrElse("SPARK_GRAFT_BENCH_PROMOTE_LOAD", "1.5").toDouble,
      failures = failures)
    // the adjudication fields stay compact (suspects are normally empty)
    // so the one-line summary survives the driver's bounded tail capture
    val summary =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
        s""""sf":"$sfDir","head":${head.fold("null")(h => "\"" + h.take(12) + "\"")},""" +
        s""""load_avg":[${r2(load0)},${r2(load1)}],""" +
        s""""ref_head_match":$refHeadMatch,""" +
        s""""vs_ref_total":${vsRef.fold("null")(v => r3(v).toString)},""" +
        s""""failures":$failures,"promoted_ref":$promoted,""" +
        s""""suspect":$suspectJson}"""
    def writeLine(path: String): Unit =
      try {
        java.nio.file.Files.write(
          java.nio.file.Paths.get(path),
          (summary + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      } catch {
        case e: Exception =>
          System.err.println(s"BENCH FILE WRITE FAILED $path: ${e.getMessage}")
      }
    // Belt and braces for the driver's parse: the same JSON line goes to
    // stdout (last line, unprefixed via build.sbt's StdoutOutput strategy)
    // AND to a file the driver (or a human) can read without any stdout
    // capture at all. Three rounds of BENCH_r{N} recorded parsed:null from
    // tail-capture/prefix issues — the file is the capture-proof channel.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_local.json")
    writeLine(outPath)
    // only a CLEAN run replaces the adjudication reference (see
    // [[BenchAdjudicate.promote]]); contended runs keep their record in
    // outPath but leave the idle-box baseline untouched
    if (promoted && refPath != outPath) writeLine(refPath)
    println(summary)
    spark.stop()
  }
}
