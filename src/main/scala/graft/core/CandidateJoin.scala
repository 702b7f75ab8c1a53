package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * Join-strategy policy for the bucket self-joins of the candidate-pair
 * operators (LSH bands, SimHash chunks, hyperplane buckets).
 *
 * At corpus scale both sides are hinted `shuffle_hash`: the two sides'
 * narrow (bucket, id) exchanges canonicalize identically, so exchange/stage
 * reuse computes the expensive fingerprint/signature column ONCE in the
 * shared shuffle map stage — the no-persist replacement for an
 * operator-internal cache (which would leak storage past the query).
 *
 * The hint applies only inside a SIZE WINDOW, both edges measured:
 *
 *  - BELOW `spark.sql.autoBroadcastJoinThreshold`, AQE would broadcast the
 *    join anyway (local testing, small corpora) and the forced shuffle is
 *    pure overhead — the hint is dropped and the optimizer picks the plan.
 *  - ABOVE the shuffle-hash cap (below), the hint is dropped so the planner
 *    takes SORT-MERGE: a shuffled-hash join's build side CANNOT SPILL, and
 *    per-partition build maps grow linearly with the corpus. Measured: the
 *    pinned shuffle-hash shape OOM'd at 5M
 *    docs ("not enough memory to build hash map" — 80M banded rows over 32
 *    partitions, ~200 MB of hash map per task × 32 concurrent tasks in an
 *    8 GB heap) where the same query at 500k docs (estimate 17.6 MB) ran
 *    comfortably. Sort-merge spills and finishes; with both sides'
 *    exchanges still canonicalizing identically, stage reuse survives — the
 *    sorts are the only added cost.
 *
 * The cap derives from EXECUTOR GEOMETRY rather than a constant, because
 * the thing it guards — the per-task in-memory build map — is a function
 * of per-task execution memory, not of the data alone (the measured
 * window was a property of an 8 GB ÷ 32-task executor; a 4 GB × 8-core
 * executor halves the safe point, a 16 GB × 4-core one quadruples it):
 *
 *   cap = heap × spark.memory.fraction ÷ concurrentTasks × 2/5
 *
 * Per-task-build arithmetic behind the 2/5: the un-exploded input estimate
 * tracks the per-task build size ~1:0.9 at the measured death point
 * (218 MB estimate → ~200 MB build maps), and the build must leave the
 * execution share room for the probe side and whatever else the stage
 * runs, so the cap takes 40% of it. At 8 GB heap, fraction 0.6 and 32
 * local tasks that resolves to ~64 MB — ~3.4× below the measured death,
 * ~3.6× above the largest measured-safe point.
 *
 * The decision reads the optimizer's size ESTIMATE of the un-exploded
 * input (each exploded side is a constant small factor of it in narrow
 * rows), so no query stages execute at planning time. An estimate at or
 * above `spark.sql.defaultSizeInBytes` is the planner's NO-STATS SENTINEL
 * (Long.MaxValue unless tuned — e.g. an RDD-backed plan), not a
 * measurement: the policy logs the miss and leaves the plan to sort-merge,
 * the spill-safe side of not knowing.
 */
object CandidateJoin {

  private val log = org.slf4j.LoggerFactory.getLogger(CandidateJoin.getClass)

  /** Geometry-derived shuffle-hash cap: 2/5 of the per-task execution
   * share (see object doc for the measured arithmetic). Pure — pinned by
   * CandidateJoinSpec with spoofed geometries. */
  private[graft] def derivedShuffleHashMaxBytes(heapBytes: Long,
      memoryFraction: Double, concurrentTasks: Int): Long =
    (heapBytes * memoryFraction / math.max(1, concurrentTasks) * 0.4).toLong

  /** The no-derivation fallback: this box's own derived value (8 GB ×
   * 0.6 ÷ 32 × 2/5 ≈ 64 MB), kept as a fixed conservative cap when the
   * executor geometry cannot be read — safe on any executor with
   * ≥ ~0.5 GB of execution memory per concurrent task. */
  private[graft] val FallbackShuffleHashMaxBytes: Long = 64L << 20

  /** Cluster-mode cap: derive from `spark.executor.memory` ×
   * `spark.memory.fraction` ÷ `spark.executor.cores` — but ONLY when the
   * cores conf is explicitly set. In standalone/Mesos coarse-grained
   * deployments `spark.executor.cores` is legitimately UNSET while each
   * executor runs worker-core-many concurrent tasks; defaulting it to 1
   * would inflate the derived cap ~cores×, pinning shuffle-hash joins at
   * sizes where the non-spillable build maps OOM — the exact failure the
   * cap exists to prevent. With no trustworthy concurrency signal the
   * policy refuses to derive and keeps the fixed conservative fallback.
   * Pure — pinned by CandidateJoinSpec. */
  private[graft] def clusterShuffleHashMaxBytes(heapBytes: Long,
      memoryFraction: Double, coresConf: Option[Int]): Long =
    coresConf match {
      case Some(c) => derivedShuffleHashMaxBytes(heapBytes, memoryFraction, c)
      case None =>
        log.info("candidate join: spark.executor.cores is unset (executors " +
          "may run worker-core-many concurrent tasks) — refusing to derive " +
          "the shuffle-hash cap from geometry; keeping the conservative " +
          s"$FallbackShuffleHashMaxBytes B fallback")
        FallbackShuffleHashMaxBytes
    }

  /** Resolve the geometry this session's tasks actually run under: local
   * mode executes in the driver JVM with `local[k]` concurrent tasks (the
   * runtime heap is the truth there — `spark.executor.memory` is unread);
   * cluster mode reads `spark.executor.memory`/`spark.executor.cores`,
   * refusing to derive when the cores conf is absent (see
   * [[clusterShuffleHashMaxBytes]]). */
  private[graft] def sessionShuffleHashMaxBytes(spark: SparkSession): Long = {
    val sc = spark.sparkContext
    val fraction = sc.getConf.getDouble("spark.memory.fraction", 0.6)
    if (sc.isLocal)
      derivedShuffleHashMaxBytes(Runtime.getRuntime.maxMemory, fraction,
        sc.defaultParallelism)
    else clusterShuffleHashMaxBytes(
      sc.getConf.getSizeAsBytes("spark.executor.memory", "1g"), fraction,
      sc.getConf.getOption("spark.executor.cores").map(_.toInt))
  }

  /** The size window itself: hint only when the estimate is a real
   * measurement (below the no-stats `sentinel`), above the broadcast
   * `threshold` (a threshold ≤ 0 disables broadcast, so nothing is below
   * it) and at or under the shuffle-hash `cap`. Pure — pinned by
   * CandidateJoinSpec, including the over-cap edge no local input reaches. */
  private[graft] def inShuffleHashWindow(estimate: BigInt, threshold: Long,
      cap: Long, sentinel: Long): Boolean =
    estimate < BigInt(sentinel) &&
      (threshold <= 0 || estimate > BigInt(threshold)) &&
      estimate <= BigInt(cap)

  def maybeShuffleHash(input: DataFrame)(side: DataFrame): DataFrame = {
    val spark = input.sparkSession
    val conf = spark.sessionState.conf
    val bytes = input.queryExecution.optimizedPlan.stats.sizeInBytes
    val cap = sessionShuffleHashMaxBytes(spark)
    if (inShuffleHashWindow(bytes, conf.autoBroadcastJoinThreshold, cap,
        conf.defaultSizeInBytes)) side.hint("shuffle_hash")
    else {
      if (bytes >= BigInt(conf.defaultSizeInBytes))
        log.warn(
          "candidate join: input has no size statistics (estimate is " +
            s"the no-stats sentinel $bytes) — leaving the plan to " +
            "sort-merge; give the input file-scan stats to pin the " +
            "sortless shape")
      else if (bytes > BigInt(cap))
        log.info(
          s"candidate join: input estimate $bytes B exceeds the " +
            s"shuffle-hash cap $cap B — leaving the plan to " +
            "sort-merge (a shuffled-hash build side cannot spill at " +
            "this size)")
      side
    }
  }
}
