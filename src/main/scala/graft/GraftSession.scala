package graft

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions.expr

import graft.sampling.StratifiedSampler

/** Thrown at a publish commit point when the store's fence
 * ([[graft.store.PathLock]]) has moved past the holder's epoch — the
 * path lock was lease-broken while this process was stalled, and landing
 * the write would interleave with the successor's. The publish is
 * abandoned; any artifacts the zombie landed before detection carry its
 * stale epoch and are quarantined by readers
 * ([[GraftSession.readSample]]). */
class FencedLockException(msg: String) extends IllegalStateException(msg)

/** Metadata + materialized plan of one registered sample table
 * (reference `sql/sampling/ColumnFormatSamplingRelation.scala:50-168`). */
final case class SampleInfo(
    name: String,
    baseName: String,
    basePlan: LogicalPlan,
    sampleDf: DataFrame,
    qcs: Seq[String],
    fraction: Double,
    reservoirSize: Int,
    persistPath: Option[String] = None,
    blocks: Option[org.apache.spark.rdd.RDD[_]] = None) {
  /** Frees the storage of a dropped in-memory sample's rows now: the
   * stored rows of a flat leaf (`blocks`, stored by
   * [[org.apache.spark.sql.graft.Plans.materializeFlat]]) or the cache of
   * a full-fraction sample's appended frame. */
  def release(): Unit = {
    sampleDf.unpersist(blocking = false)
    blocks.foreach(_.unpersist(blocking = false))
  }

  /** Frees the rows of an in-memory sample that a re-create or an append
   * replaced, where a frame planned over them before the swap (a query
   * racing a streaming append) can still recompute them: an uncached frame
   * recomputes through its plan. Cut (checkpointed) rows have no other
   * copy, so they stay until the `ContextCleaner` finds no frame holding
   * them. */
  def supersede(): Unit = {
    if (persistPath.isEmpty) sampleDf.unpersist(blocking = false)
    blocks.filterNot(_.isCheckpointed).foreach(_.unpersist(blocking = false))
  }
}

/**
 * Per-SparkSession AQP state: the sample-table catalog plus session default
 * error/confidence/behavior (reference keeps these in
 * `SnappyAQPSessionState`; config keys mirror `io.snappydata.Property` —
 * SURVEY.md §4).
 */
final class GraftState {
  val samples: TrieMap[String, SampleInfo] = TrieMap.empty

  /** Resolve a sample name to its registered key, matching temp-view
   * case-insensitivity (`MySample` finds a sample registered as
   * `mysample`); exact-case match wins when both exist. */
  def resolveSample(name: String): Option[String] =
    if (samples.contains(name)) Some(name)
    else samples.keys.find(_.equalsIgnoreCase(name))
  val topks: TrieMap[String, Any] = TrieMap.empty
  /** TopK name → persist path (sketch snapshot re-saved on each append). */
  val topkPaths: TrieMap[String, String] = TrieMap.empty
  /** TopK name → base-table name (stream-dependent population routing). */
  val topkBases: TrieMap[String, String] = TrieMap.empty
  /** SQL-declared stream tables (`CREATE STREAM TABLE`). */
  val streams: TrieMap[String, graft.streaming.StreamTableDef] = TrieMap.empty
  /** Running per-stream populator queries (`STREAMING START`). */
  val activeStreams: TrieMap[String, org.apache.spark.sql.streaming.StreamingQuery] =
    TrieMap.empty
  /** Micro-batch trigger interval (`STREAMING INIT <n> SECS`). */
  @volatile var streamingBatchMs: Long = 1000L

  /** (sample, stream) → highest applied micro-batch id for IN-MEMORY
   * samples: a same-JVM STOP→START replays the last uncommitted batch
   * (stop() interrupts between populate and the checkpoint's offset
   * commit), and without this fence the replay double-appends. Path-backed
   * samples persist their watermark in the registry meta instead
   * ([[GraftSession.appendToSampleForBatch]]); in-memory TopKs keep theirs
   * inside [[graft.topk.TopKState]]. */
  val streamSampleBatches: TrieMap[(String, String), Long] = TrieMap.empty

  /** Sample chosen by the last AQP rewrite in this session (None when the
   * query ran on base) — diagnostic hook for selection tests, the analogue
   * of the reference's `AQPRules.setTestHookStoreAQPInfo`
   * (`AQPRules.scala:48`). */
  @volatile var lastChosenSample: Option[String] = None

  /** Samples registered on the given base table. */
  def samplesOn(baseName: String): Seq[SampleInfo] =
    samples.values.filter(_.baseName.equalsIgnoreCase(baseName)).toSeq

  /**
   * Best sample for a query QCS (grouping + filter columns), per the
   * reference's ranking — see [[GraftState.rank]] for the full tiering
   * (`QueryProcessingRules.scala:412-501`).
   */
  def pickSample(baseName: String, queryQcs: Seq[String],
      groupbyQcs: Seq[String] = Nil): Option[SampleInfo] =
    GraftState.rank(samplesOn(baseName), queryQcs, groupbyQcs)
}

object GraftState {
  private val states = new java.util.WeakHashMap[SparkSession, GraftState]()

  def of(spark: SparkSession): GraftState = states.synchronized {
    var s = states.get(spark)
    if (s == null) { s = new GraftState; states.put(spark, s) }
    s
  }

  /** QCS ranking over an arbitrary candidate pool (samples registered on
   * plan-equal bases all compete — different views over the same data are
   * interchangeable). Mirrors the reference's tiering
   * (`QueryProcessingRules.scala:412-501`): a table whose QCS equals the
   * GROUP BY columns alone wins outright, then an exact query-QCS
   * (groupby+filter) match, then supersets by largest fraction alone
   * (:462-478 — no smallest-QCS preference), then minimum
   * |queryQCS \ tableQCS| mismatch — tables with EXTRA stratum columns
   * still compete in this tier (:443-455) — ties by fraction. */
  def rank(candidates: Seq[SampleInfo], queryQcs: Seq[String],
      groupbyQcs: Seq[String] = Nil): Option[SampleInfo] = {
    if (candidates.isEmpty) return None
    val q = queryQcs.map(_.toLowerCase).toSet
    val g = groupbyQcs.map(_.toLowerCase).toSet
    def sampleQcs(s: SampleInfo) = s.qcs.map(_.toLowerCase).toSet

    val gExact = candidates.filter(s => g.nonEmpty && sampleQcs(s) == g)
    if (gExact.nonEmpty) return Some(gExact.maxBy(_.fraction))

    val exact = candidates.filter(s => sampleQcs(s) == q && q.nonEmpty)
    if (exact.nonEmpty) return Some(exact.maxBy(_.fraction))

    val supersets = candidates.filter(s => q.nonEmpty && q.subsetOf(sampleQcs(s)))
    if (supersets.nonEmpty) return Some(supersets.maxBy(_.fraction))

    val overlapping = candidates.filter(s => sampleQcs(s).intersect(q).nonEmpty)
    if (overlapping.nonEmpty) {
      val maxOverlap = overlapping.map(s => sampleQcs(s).intersect(q).size).max
      return Some(overlapping.filter(s => sampleQcs(s).intersect(q).size == maxOverlap)
        .maxBy(_.fraction))
    }

    Some(candidates.maxBy(_.fraction))
  }
}

/**
 * Public session facade — the DataFrame-API entry point of the engine
 * (reference entry point B/C, SURVEY.md §3: `SnappySession.createSampleTable`
 * / `sample` / `queryTopK`). The SQL surface itself lives in the session:
 * [[org.apache.spark.sql.graft.GraftExtensions]] comes with the jar, so
 * `spark.sql` parses, rewrites and plans AQP queries with no facade.
 */
class GraftSession(val spark: SparkSession) {
  val state: GraftState = GraftState.of(spark)

  if (!spark.sessionState.analyzer.postHocResolutionRules
      .exists(_.isInstanceOf[org.apache.spark.sql.graft.AqpRewrite])) {
    throw new IllegalStateException(
      "This SparkSession has no AQP hooks: it was built before the graft " +
        "jar was on the classpath. Build the session after adding the jar, " +
        "or set spark.sql.extensions=org.apache.spark.sql.graft.GraftExtensions " +
        "before building it.")
  }

  /**
   * SQL entry point with the AQP surface: trailing `WITH ERROR e
   * [CONFIDENCE c] [BEHAVIOR 'b']`, `CREATE SAMPLE TABLE`, error functions
   * `absolute_error/relative_error/lower_bound/upper_bound(alias)`
   * (reference entry points A and C — SURVEY.md §3). The same as
   * `spark.sql`: DDL runs eagerly, and a query is rewritten once, inside
   * its own analysis.
   */
  def sql(text: String): DataFrame = spark.sql(text)

  /** Register a continuous query over a declared stream table (reference
   * `SnappyStreamingContext.registerCQ` — `SELECT ... FROM <stream>
   * WINDOW (DURATION n unit [, SLIDE n unit])`). Returns an unstarted
   * handle; `foreachWindow`/`saveTo` starts it. */
  def registerCQ(cqSql: String): graft.streaming.ContinuousQuery =
    graft.streaming.StreamCq.registerCQ(this, cqSql)

  /** Session defaults — `spark.sql.aqp.{error,confidence,behavior}`. */
  def defaultError: Double = spark.conf.get("spark.sql.aqp.error", "0.2").toDouble
  def defaultConfidence: Double = spark.conf.get("spark.sql.aqp.confidence", "0.95").toDouble
  def defaultBehavior: String = spark.conf.get("spark.sql.aqp.behavior", "do_nothing")
  def numBootstrapTrials: Int = spark.conf.get("spark.sql.aqp.numBootstrapTrials", "100").toInt

  /**
   * Create + register a stratified sample table over a registered base table
   * (`CREATE SAMPLE TABLE name ON base OPTIONS(qcs ..., fraction ...,
   * strataReservoirSize ...)` — reference `sql/snappyAQPParsers.scala:77-103`,
   * `command/CreateSampleTableCommand.scala:27-48`).
   *
   * `persistPath`: when set, the sample is written as parquet there and
   * scanned from disk (the scale path — the reference flushes into its
   * column store); when empty the sample is cached in memory (test path).
   */
  def createSampleTable(
      name: String,
      baseName: String,
      qcs: Seq[String],
      fraction: Double = 0.0,
      reservoirSize: Int = 50,
      seed: Long = 42L,
      persistPath: Option[String] = None): DataFrame = {
    val base = spark.table(baseName)
    val sampled = StratifiedSampler.sample(base, qcs, fraction, reservoirSize, seed)
    registerSample(name, baseName, base, sampled, qcs, fraction, reservoirSize,
      persistPath)
  }

  /** `CREATE SAMPLE TABLE` options path: supports the full reference option
   * set — `qcs`, `fraction`, `strataReservoirSize`, `seed`, `path`,
   * `timeSeriesColumn`/`timeInterval` (time-slot strata —
   * `StratifiedSamplerCached.scala:96-120`), and
   * `errorLimitColumn`/`errorLimitPercent`/`confidence`
   * (`StratifiedSamplerErrorLimit`). */
  def createSampleTableFromOptions(name: String, baseName: String,
      opts: Map[String, String]): DataFrame = {
    val base = spark.table(baseName)
    val (sampled, qcs, fraction, reservoirSize) =
      GraftSession.sampleByOptions(base, opts)
    registerSample(name, baseName, base, sampled, qcs, fraction, reservoirSize,
      opts.get("path"),
      opts.get("partitionby").map(_.split(",").map(_.trim).toSeq).getOrElse(Nil))
  }

  private def registerSample(name: String, baseName: String, base: DataFrame,
      sampled: DataFrame, qcs: Seq[String], fraction: Double,
      reservoirSize: Int, persistPath: Option[String],
      partitionBy: Seq[String] = Nil): DataFrame = {
    val (sampleDf, blocks) = persistPath match {
      case Some(path) =>
        // `partitionBy` (typically the QCS or the base table's partition
        // columns) gives the persisted sample hive-style partition dirs, so
        // stratum-filtered queries prune files instead of scanning the whole
        // sample (reference co-partitions samples with the base —
        // `ColumnFormatSamplingRelation.scala:126-133`)
        val w = sampled.write.mode("overwrite")
        (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
          .parquet(path)
        GraftSession.withPathLock(spark, path) {
          GraftSession.writeSampleMeta(path, baseName, qcs, fraction,
            reservoirSize, spark.sessionState.newHadoopConf())
        }
        (spark.read.parquet(path), None)
      case None if fraction < 1.0 =>
        val (leaf, rows) = org.apache.spark.sql.graft.Plans.materializeFlat(spark, sampled)
        (leaf, Some(rows))
      case None =>
        // fraction 1.0: the "sample" is a pure projection of the base (a
        // sentinel weight column, no join, no extra scan) — recomputing
        // costs about as much as a scan of a copy and avoids materializing
        // a full copy of the table
        (sampled, None)
    }
    sampleDf.createOrReplaceTempView(name)
    state.samples.put(name, SampleInfo(name, baseName,
      base.queryExecution.analyzed, sampleDf, qcs, fraction, reservoirSize,
      persistPath, blocks)).foreach(_.supersede())
    sampleDf
  }

  /** Batch insert path (reference `ColumnFormatSamplingRelation.insert/append`,
   * `sampling/ColumnFormatSamplingRelation.scala:253-340`): sample the new
   * rows per stratum and append them to the registered sample table. Weights
   * encode the new batch's stratum totals, so weighted estimates cover base
   * plus appended data. */
  def appendToSample(rawName: String, df: DataFrame, seed: Long = 43L): DataFrame = {
    val name = state.resolveSample(rawName).getOrElse(
      throw new IllegalArgumentException(s"No sample table named $rawName"))
    val info = state.samples(name)
    val sampled = StratifiedSampler.sample(df, info.qcs, info.fraction,
      info.reservoirSize, seed)
    val (merged, blocks) = info.persistPath match {
      case Some(path) =>
        // concurrent appends from two sessions serialize on the path lock —
        // appends only add files, so serialized appends all land (no lost
        // update); the staged publish re-validates the fence AFTER the
        // distributed write, closing the job-duration window a frozen
        // appender could sleep through (see [[GraftSession.publishAppend]])
        GraftSession.withPathLock(spark, path) {
          GraftSession.assertStoreFence(spark, path)
          GraftSession.publishAppend(spark, path, sampled)
        }
        spark.catalog.refreshByPath(path)
        // the store holds the sampler's columns: pinning them skips the
        // schema-inference job
        (spark.read.schema(sampled.schema).parquet(path), None)
      case None if info.fraction >= 1.0 =>
        // a full-fraction sample is a copy of the whole table: cached
        // lazily, as compressed columns, by its first reader instead of
        // stored row by row now (an eager copy measured 0.24 → 0.88 s on
        // the q38_sample_append query at scale 0.1)
        (info.sampleDf.unionByName(sampled).persist(), None)
      case None =>
        // the registered leaf plus the batch's sample, materialized into a
        // fresh flat leaf: an append reads one leaf and runs one sampler
        // however many appends preceded it
        val (leaf, rows) = org.apache.spark.sql.graft.Plans
          .materializeFlat(spark, info.sampleDf.unionByName(sampled))
        (leaf, Some(rows))
    }
    merged.createOrReplaceTempView(name)
    state.samples.put(name, info.copy(sampleDf = merged, blocks = blocks))
    info.supersede()
    merged
  }

  /** Re-attach a persisted sample (written with `OPTIONS(path ...)`) in a
   * fresh session without resampling: reads the registry metadata stored
   * next to the parquet. The base table/view must already be registered
   * under its original name so query routing can match it. */
  def attachSampleTable(name: String, path: String): DataFrame = {
    val (baseName, qcs, fraction, reservoirSize) =
      GraftSession.readSampleMeta(path, spark.sessionState.newHadoopConf())
        .getOrElse(throw new IllegalArgumentException(
          s"No sample registry metadata under $path"))
    val sampleDf = spark.read.parquet(path)
    sampleDf.createOrReplaceTempView(name)
    state.samples.put(name, SampleInfo(name, baseName,
      spark.table(baseName).queryExecution.analyzed, sampleDf, qcs, fraction,
      reservoirSize, Some(path))).foreach(_.supersede())
    sampleDf
  }

  /** Snapshot read of a sample table with READ-YOUR-WRITES consistency
   * through crash-recovery republication — the strong-reader companion to
   * the weaker plain-`spark.read.parquet` contract documented at
   * [[appendToSampleForBatch]].
   *
   * The weaker contract's window: recovering a crashed batch runs
   * delete-by-prefix → stage → rename under the path lock, and a plain
   * reader that lists between the delete and the renames transiently
   * MISSES the recovering batch's rows (or fails outright when a listed
   * file vanishes mid-read). This reader closes the window by taking the
   * SAME lock for the file LISTING only: every store mutation happens
   * under that lock and every published file is renamed into place
   * complete, so an under-lock listing is a consistent one-copy snapshot
   * — mid-recovery states (after the delete, before the renames) are
   * unobservable by construction. The Spark job then runs over that
   * pinned file list WITHOUT the lock (holding a cross-JVM lock across a
   * distributed job would stall writers): files of ACKNOWLEDGED batches
   * are never deleted afterwards, and a pinned unacknowledged leftover
   * that a concurrent recovery deletes before the job reads it surfaces
   * as a read failure — retried with a fresh snapshot (bounded; each
   * retry re-lists under the lock, so it only loops while recoveries are
   * actively churning the same batch).
   *
   * In-memory samples return the registered DataFrame unchanged. */
  def readSample(rawName: String, maxRetries: Int = 5): DataFrame = {
    val name = state.resolveSample(rawName).getOrElse(
      throw new IllegalArgumentException(s"No sample table named $rawName"))
    val info = state.samples(name)
    info.persistPath match {
      case None => info.sampleDf
      case Some(path) =>
        val conf = spark.sessionState.newHadoopConf()
        // `stream-<key>-b<id>-<k>[.e<epoch>].parquet`: the fence epoch a
        // streaming batch publish was stamped with (absent = pre-fence, 0)
        val streamFilePat = "^(stream-.+-b[0-9]+-)[0-9]+(?:\\.e([0-9]+))?\\.parquet$".r
        def snapshotFiles(): Seq[String] =
          GraftSession.withPathLock(spark, path) {
            val dir = new org.apache.hadoop.fs.Path(path)
            val fs = dir.getFileSystem(conf)
            if (!fs.exists(dir)) Seq.empty
            else {
              val listed = fs.listStatus(dir).toSeq.collect {
                case s if s.isFile &&
                  s.getPath.getName.endsWith(".parquet") &&
                  !s.getPath.getName.startsWith(".") &&
                  !s.getPath.getName.startsWith("_") => s.getPath
              }
              // store-level fencing, reader side: a batch published twice
              // under DIFFERENT fence epochs means a lease-broken zombie
              // landed files past the commit-point checks (the successor's
              // recovery republished the same batch under a newer epoch).
              // Only the newest epoch's files are the batch; older ones are
              // quarantined under a dot prefix — invisible to this snapshot
              // AND to plain spark.read.parquet(path) readers — never
              // deleted (they are the forensic record; the next publish of
              // that batch sweeps them with its other leftovers).
              val epochOf = listed.flatMap { p =>
                p.getName match {
                  case streamFilePat(pf, e) =>
                    Some(p -> (pf, if (e == null) 0L else e.toLong))
                  case _ => None
                }
              }.toMap
              val maxEpoch = epochOf.values.groupBy(_._1)
                .map { case (pf, vs) => pf -> vs.map(_._2).max }
              listed.filter { p =>
                epochOf.get(p) match {
                  case Some((pf, e)) if e < maxEpoch(pf) =>
                    val q = new org.apache.hadoop.fs.Path(dir,
                      s".fenced-${p.getName}")
                    GraftSession.log
                      .warn(s"readSample: quarantining $p — published " +
                        s"under superseded fence epoch $e (batch's " +
                        s"current epoch: ${maxEpoch(pf)}); a lease-broken " +
                        "holder's zombie write")
                    // best-effort: EXCLUDING the file is the correctness
                    // half; the rename only extends the protection to
                    // plain readers, and a store this session cannot
                    // write to must still be readable
                    try fs.rename(p, q)
                    catch { case _: java.io.IOException => () }
                    false
                  case _ => true
                }
              }.map(_.toString)
            }
          }
        var attempt = 0
        var out: Option[DataFrame] = None
        while (out.isEmpty) {
          attempt += 1
          val files = snapshotFiles()
          if (files.isEmpty) out = Some(info.sampleDf.limit(0))
          else {
            // the read takes the registered sample's schema, so read()
            // opens no footer and a pinned file deleted by a concurrent
            // recovery does not surface there — verify every pinned name
            // exists after the read() so churn is caught inside THIS retry
            // budget, not as a task failure in the caller's job. The
            // check-then-run gap stays (a delete can land after the
            // check), but a recovery republishes a churned batch under
            // the SAME deterministic file names with the same replayed
            // content, so the pinned names cannot silently lose rows —
            // the residual worst case is a LOUD task-level read failure
            // for the caller to retry, exactly the documented contract.
            try {
              val df = spark.read.schema(info.sampleDf.schema).parquet(files: _*)
              val fs = new org.apache.hadoop.fs.Path(path)
                .getFileSystem(conf)
              val vanished = files.filterNot(f =>
                fs.exists(new org.apache.hadoop.fs.Path(f)))
              if (vanished.isEmpty) out = Some(df)
              else if (attempt > maxRetries) {
                throw new IllegalStateException(
                  s"readSample($rawName): pinned files kept vanishing " +
                    s"under concurrent recovery after $maxRetries " +
                    s"retries (last: ${vanished.head})")
              } else spark.catalog.refreshByPath(path)
            } catch {
              case scala.util.control.NonFatal(_) if attempt <= maxRetries =>
                spark.catalog.refreshByPath(path)
            }
          }
        }
        out.get
    }
  }

  def dropSampleTable(name: String): Unit = {
    state.resolveSample(name).flatMap(state.samples.remove).foreach { info =>
      info.release()
      spark.catalog.dropTempView(info.name)
      // clear the in-memory replay fences keyed by this sample: a
      // same-name sample recreated over a FRESH streaming query (whose
      // batch ids restart at 0) must not inherit the old watermark and
      // silently drop its early batches
      val key = info.name.toLowerCase
      state.streamSampleBatches.keys
        .filter(_._1 == key).foreach(state.streamSampleBatches.remove)
    }
  }

  /** Ad-hoc stratified sample of any DataFrame (reference
   * `SnappyContextAQPFunctions.scala:375-382`). */
  def sample(df: DataFrame, qcs: Seq[String], fraction: Double = 0.0,
      reservoirSize: Int = 50, seed: Long = 42L): DataFrame =
    StratifiedSampler.sample(df, qcs, fraction, reservoirSize, seed)

  /**
   * Error statistics of an aggregate over a sampled DataFrame (one produced
   * by [[sample]] — must carry the weight column): estimate, absolute and
   * relative error, confidence bounds and sample count, per group if
   * `groupBy` columns are given. The DataFrame face of the reference's
   * `SampleDataFrameContract.errorStats`
   * (`sql/SampleDataFrameContractImpl.scala:33-80`).
   */
  def errorStats(sampledDf: DataFrame, column: String,
      aggType: String = "sum", confidence: Double = 0.95,
      groupBy: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.functions.col
    import graft.functions._
    val aggCol = aggType.toLowerCase match {
      case "sum" => approx_sum(col(column), col(weightColumn), confidence)
      case "avg" | "average" => approx_avg(col(column), col(weightColumn), confidence)
      case "count" => approx_count(col(column), col(weightColumn), confidence)
      case other => throw new IllegalArgumentException(
        s"errorStats supports sum/avg/count, got $other")
    }
    val grouped =
      if (groupBy.isEmpty) sampledDf.groupBy()
      else sampledDf.groupBy(groupBy.map(col): _*)
    grouped.agg(aggCol.as("__s__"))
      .select(groupBy.map(col) ++ Seq(
        estimate(col("__s__")).as("estimate"),
        absolute_error(col("__s__")).as("absolute_error"),
        relative_error(col("__s__")).as("relative_error"),
        lower_bound(col("__s__")).as("lower_bound"),
        upper_bound(col("__s__")).as("upper_bound"),
        col("__s__.sample_count").as("sample_count")): _*)
  }

  // ---------------------------------------------------------------------------
  // TopK tables (reference entry point C — `CREATE TOPK TABLE`, `queryTopK`:
  // `SnappyContextAQPFunctions.scala:143-179`, `sql/topk/TopKRelation.scala`)
  // ---------------------------------------------------------------------------

  /** Create + populate a TopK structure over a registered table. */
  def createTopK(name: String, baseName: String,
      options: Map[String, String]): graft.topk.TopKState =
    createTopK(name, baseName, options, lockHeld = false)

  /** [[createTopK]] for callers that already hold the path lock
   * ([[GraftSession.withPathLock]] is a file lock — NOT reentrant): the
   * CREATE TOPK TABLE command must decide attach-vs-create and publish
   * under ONE lock acquisition, or two sessions that both found no store
   * both create one, and the later publish replaces the earlier session's
   * appends with fresh-seed counts. */
  def createTopK(name: String, baseName: String,
      options: Map[String, String], lockHeld: Boolean): graft.topk.TopKState = {
    val opts = graft.topk.TopKOptions.fromOptions(options,
      GraftSession.sessionZone(spark))
    val base = spark.table(baseName)
    val keyField = base.schema.find(_.name.equalsIgnoreCase(opts.key)).getOrElse(
      throw new IllegalArgumentException(
        s"TopK key column '${opts.key}' not found in $baseName"))
    // sketches store String or Long keys
    val keyType = keyField.dataType match {
      case org.apache.spark.sql.types.StringType => org.apache.spark.sql.types.StringType
      case _ => org.apache.spark.sql.types.LongType
    }
    val st = new graft.topk.TopKState(name, opts, keyType)
    // path-backed tables spill over-guard buckets next to their snapshot
    // (must be set before the first append can trigger a spill)
    options.collectFirst { case (k, v) if k.equalsIgnoreCase("path") => v }
      .foreach(p => st.setSpillBase(s"$p/${GraftSession.TopkSpillDir}"))
    st.append(base)
    state.topks.put(name.toLowerCase, st)
    state.topkBases.put(name.toLowerCase, baseName)
    refreshTopkView(st)
    // OPTIONS(path ...): persist the sketch snapshot so a fresh session can
    // re-attach without replaying the base (same restart semantics as
    // path-backed samples; the reference's TopKs live in its store)
    options.collectFirst { case (k, v) if k.equalsIgnoreCase("path") => v }
      .foreach { p =>
        state.topkPaths.put(name.toLowerCase, p)
        if (lockHeld) saveTopK(name, p)
        else GraftSession.withPathLock(spark, p)(saveTopK(name, p))
      }
    st
  }

  /** Append a micro-batch / DataFrame into an existing TopK structure
   * (the relation-backed view reads live state — no refresh needed).
   *
   * Path-backed tables serialize through the path lock with RELOAD → MERGE
   * → PUBLISH semantics: the distributed sketch build runs lock-free, then
   * under the lock the session re-attaches the latest published snapshot
   * (picking up any other session's appends), folds its partials in, and
   * publishes a new snapshot version. Two sessions appending concurrently
   * both land — the counts are a merge of both batches, not
   * last-writer-wins. Between appends a session's QUERIES read its own
   * (possibly stale) view; appending is what synchronizes. */
  def appendToTopK(name: String, df: DataFrame): Unit =
    appendToTopK(name, df, System.currentTimeMillis())

  /** [[appendToTopK]] with an explicit batch time — what a batch-timed
   * table buckets this append under (reference `DataFrameWithTime`);
   * ignored for time-series-column and untimed tables. */
  def appendToTopK(name: String, df: DataFrame, batchTimeMs: Long): Unit = {
    state.topkPaths.get(name.toLowerCase) match {
      case Some(p) =>
        val partials = topkState(name).buildPartials(df)
        GraftSession.withPathLock(spark, p) {
          val st = attachTopKTable(name, p)
          // rebase AFTER the reload so a batch-timed shift uses the
          // persisted epoch, not a stale pre-attach value
          st.mergePartialsAt(spark, partials, batchTimeMs)
          saveTopK(name, p)
        }
      case None => topkState(name).append(df, batchTimeMs)
    }
  }

  /** Streaming-populator variant of [[appendToTopK]]: EXACTLY-ONCE across
   * JVM crash/resume for path-backed tables. foreachBatch replays the
   * in-flight batch when a JVM dies between dependent population and the
   * source checkpoint's offset commit; this append checks the structure's
   * per-stream applied-batch watermark (persisted atomically with the
   * counts — [[saveTopK]]) under the path lock and skips already-applied
   * batch ids. In-memory tables keep the watermark in-process (their state
   * does not survive a crash, so replay cannot double-count by
   * construction; the check still fences STOP→START replays in one JVM). */
  def appendToTopKForBatch(name: String, df: DataFrame, batchTimeMs: Long,
      streamName: String, batchId: Long): Unit = {
    state.topkPaths.get(name.toLowerCase) match {
      case Some(p) =>
        val partials = topkState(name).buildPartials(df)
        GraftSession.withPathLock(spark, p) {
          val st = attachTopKTable(name, p)
          if (batchId > st.appliedStreamBatch(streamName)) {
            st.mergePartialsAt(spark, partials, batchTimeMs)
            st.setAppliedStreamBatch(streamName, batchId)
            saveTopK(name, p)
          }
        }
      case None =>
        val st = topkState(name)
        if (batchId > st.appliedStreamBatch(streamName)) {
          st.append(df, batchTimeMs)
          st.setAppliedStreamBatch(streamName, batchId)
        }
    }
  }

  /** Streaming-populator variant of [[appendToSample]]: EXACTLY-ONCE across
   * JVM crash/resume for path-backed samples. The replay fence is the
   * `__streambatch.<stream>` watermark in the sample's registry metadata;
   * the batch's data files are published under a DETERMINISTIC per-batch
   * name prefix so a replay of a half-published batch (crash between the
   * file renames and the meta publish) deletes its own leftovers and
   * republishes instead of appending a second copy — the sequence
   * (delete-by-prefix → stage → rename into place → meta watermark, all
   * under the path lock) converges to exactly one copy of the batch no
   * matter where a previous attempt died.
   *
   * READER VISIBILITY during a crashed batch's recovery republication:
   * plain `spark.read.parquet(path)` readers don't take the path lock, so
   * a read overlapping the delete→rename window may transiently MISS the
   * recovering batch's rows, or fail outright when a listed file vanishes
   * mid-read. It can never observe duplicates or a torn batch (files are
   * only ever renamed complete, and the delete precedes the republish).
   * This window exists only while recovering a crash; steady-state appends
   * only ever ADD files. Readers needing read-your-writes through recovery
   * use [[readSample]], which pins a lock-consistent file snapshot —
   * both contracts pinned by CrossJvmConcurrencySpec's
   * reader-during-recovery case. */
  def appendToSampleForBatch(rawName: String, df: DataFrame,
      streamName: String, batchId: Long, seed: Long = 43L): DataFrame = {
    val name = state.resolveSample(rawName).getOrElse(
      throw new IllegalArgumentException(s"No sample table named $rawName"))
    val info = state.samples(name)
    info.persistPath match {
      case Some(path) =>
        val conf = spark.sessionState.newHadoopConf()
        val wmKey = s"__streambatch.${streamName.toLowerCase}"
        // the sampler's output columns (data + weight), once this call
        // publishes a batch; a replayed batch publishes nothing and the
        // re-registration below infers them from the store
        var published: Option[org.apache.spark.sql.types.StructType] = None
        GraftSession.withPathLock(spark, path) {
          val applied = GraftSession.readSampleMetaProp(path, wmKey, conf)
            .map(_.toLong).getOrElse(-1L)
          if (batchId > applied) {
            // store-level fence: validated before every mutation below,
            // and stamped into the published file names so readSample can
            // quarantine anything a zombie lands past the checks
            GraftSession.assertStoreFence(spark, path)
            val fenceTag = graft.store.PathLock.heldFence(spark, path)
              .map(f => s".e${f.epoch}").getOrElse("")
            val sampled = StratifiedSampler.sample(df, info.qcs,
              info.fraction, info.reservoirSize, seed)
            val dir = new org.apache.hadoop.fs.Path(path)
            val fs = dir.getFileSystem(conf)
            // the sanitized name alone is NOT collision-free ('a.b' and
            // 'a_b' both sanitize to a_b, and the leftover-deletion pass
            // for one stream's replayed batch would delete the other's
            // published files for the same batch id) — a hash of the RAW
            // key ([[GraftSession.keyHashSuffix]]) disambiguates while the
            // sanitized name keeps the files human-attributable
            val raw = streamName.toLowerCase
            val safe = raw.replaceAll("[^a-z0-9]", "_") + "-" +
              GraftSession.keyHashSuffix(raw)
            val prefix = s"stream-$safe-b$batchId-"
            val staging = new org.apache.hadoop.fs.Path(dir,
              s".staging-$safe-b$batchId")
            // leftovers of a crashed prior attempt at THIS batch —
            // including readSample-quarantined `.fenced-` spellings of it
            if (fs.exists(dir)) fs.listStatus(dir).foreach { s0 =>
              val n = s0.getPath.getName
              val bare = if (n.startsWith(".fenced-")) n.drop(8) else n
              if (bare.startsWith(prefix) || n == staging.getName) {
                fs.delete(s0.getPath, true)
              }
            }
            // stage (dot-prefixed: hidden from parquet readers), then move
            // each complete part file into place under the batch prefix;
            // re-validate the fence after the distributed staging write —
            // the longest stretch a frozen process could sleep through
            sampled.write.mode("overwrite").parquet(staging.toString)
            GraftSession.assertStoreFence(spark, path)
            var k = 0
            fs.listStatus(staging).foreach { s0 =>
              if (s0.getPath.getName.endsWith(".parquet")) {
                val dst = new org.apache.hadoop.fs.Path(dir,
                  s"$prefix$k$fenceTag.parquet")
                require(fs.rename(s0.getPath, dst),
                  s"could not publish sample batch file $dst")
                k += 1
              }
            }
            fs.delete(staging, true)
            GraftSession.assertStoreFence(spark, path)
            GraftSession.updateSampleMetaProp(path, wmKey,
              batchId.toString, conf)
            published = Some(sampled.schema)
          }
        }
        spark.catalog.refreshByPath(path)
        val merged = published.fold(spark.read)(spark.read.schema).parquet(path)
        merged.createOrReplaceTempView(name)
        state.samples.put(name, info.copy(sampleDf = merged))
        merged
      case None =>
        // in-memory sample: a crash loses the sample with the watermark
        // (nothing to protect), but a same-JVM STOP→START replays the last
        // uncommitted batch — fence it with the session-level watermark
        val key = (name.toLowerCase, streamName.toLowerCase)
        if (batchId > state.streamSampleBatches.getOrElse(key, -1L)) {
          val out = appendToSample(rawName, df, seed)
          state.streamSampleBatches.put(key, batchId)
          out
        } else info.sampleDf
    }
  }

  /** Publish a TopK structure's options + full sketch state as the next
   * snapshot of the store at `path` (Hadoop FS — works for hdfs:// and
   * s3a:// paths like the sample persist path). A publish is ONE
   * write-once file ([[graft.store.TopkSnapshot]]): a reader sees the
   * previous publish or this one, never a mix of the two. Callers mutating
   * a SHARED path hold [[GraftSession.withPathLock]]; the store fence is
   * re-validated at the commit point. */
  def saveTopK(name: String, path: String): Unit = {
    val st = topkState(name)
    val conf = spark.sessionState.newHadoopConf()
    var releasedBatches = Seq.empty[String]
    graft.store.TopkSnapshot.publish(path, conf) { version =>
      // capture spill view + bucket bytes under ONE lock hold: a streaming
      // sink appending between the two reads would snapshot a spill index
      // inconsistent with the bucket state
      val ((files, spans), bin) = st.stateLock.synchronized {
        (st.spillView, st.buckets.snapshotBytes)
      }
      // stamp this publish's retirees and PERSIST the survivors: the next
      // append re-attaches a fresh state, so an in-memory-only list would
      // be forgotten and compacted-away batch dirs would leak forever
      releasedBatches = st.collectRetired(version)
      val o = st.opts
      val header = Seq(
        "key" -> o.key, "size" -> o.size.toString, "depth" -> o.depth.toString,
        "width" -> o.width.toString, "maxinterval" -> o.maxInterval.toString,
        "streamsummary" -> o.streamSummary.toString,
        "capacity" -> o.capacity.toString, "seed" -> o.seed.toString,
        "timeunit" -> o.timeUnit,
        "itemaggregation" -> o.itemAggregation.toString,
        "timeanditemaggregation" -> o.timeAndItemAggregation.toString,
        "maxdriverentries" -> o.maxDriverEntries.toString,
        "__keytype" ->
          (if (st.keyType == org.apache.spark.sql.types.StringType) "string" else "long"),
        "__base" -> state.topkBases.getOrElse(name.toLowerCase, "")) ++
        o.timeSeriesColumn.map("timeseriescolumn" -> _) ++
        o.frequencyCol.map("frequencycol" -> _) ++
        // `timeinterval` only for TIMED tables: its mere presence without a
        // time-series column marks a table batch-timed at option resolution
        // (TopKOptions.fromOptions), so writing it for untimed tables would
        // flip their semantics on re-attach
        Option.when(o.timeSeriesColumn.isDefined || o.batchTimed)(
          "timeinterval" -> o.timeIntervalMs.toString) ++
        Option.when(o.batchTimed)("batchtimed" -> "true") ++
        // the established origin keeps interval numbering stable across
        // re-attaches (first-append time unless an epoch was declared)
        Option.when(o.batchTimed && st.establishedEpoch >= 0L)(
          "epoch" -> st.establishedEpoch.toString) ++
        Option(st.retiredView).filter(_.nonEmpty).map(r => "__retired" ->
          r.map { case (v, p) => s"$v|$p" }.mkString("\n")) ++
        // per-stream applied-batch watermarks ride the same publish as the
        // counts they fence (streaming exactly-once — TopKState docs)
        Option(st.streamBatchView).filter(_.nonEmpty).map(b => "__streambatch" ->
          b.map { case (s, id) => s"$s|$id" }.mkString("\n"))
      graft.store.TopkSnapshot.Snapshot(header.toMap, files, spans, bin)
    }
    // compacted-away batches become deletable one publish AFTER the
    // snapshot that stopped referencing them — mirroring the snapshot GC's
    // keep-one-back policy, so a reader attaching the retained previous
    // version still finds every file it references
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(conf)
    releasedBatches.foreach { f =>
      val hp = new org.apache.hadoop.fs.Path(f)
      if (fs.exists(hp)) fs.delete(hp, true)
    }
  }

  /** Re-attach a persisted TopK structure in a fresh session without
   * replaying the base table (counterpart of [[attachSampleTable]]): the
   * latest snapshot [[saveTopK]] published. */
  def attachTopKTable(name: String, path: String): graft.topk.TopKState = {
    val snap = graft.store.TopkSnapshot.read(path, spark.sessionState.newHadoopConf())
      .getOrElse(throw new IllegalArgumentException(s"No TopK store under $path"))
    val header = snap.header
    val opts = graft.topk.TopKOptions.fromOptions(
      header.filterNot(_._1.startsWith("__")), GraftSession.sessionZone(spark))
    val keyType =
      if (header.get("__keytype").contains("string")) org.apache.spark.sql.types.StringType
      else org.apache.spark.sql.types.LongType
    val st = new graft.topk.TopKState(name, opts, keyType)
    val spillDir =
      new org.apache.hadoop.fs.Path(path, GraftSession.TopkSpillDir).toString
    st.stateLock.synchronized { st.buckets.restoreFrom(snap.buckets) }
    st.restoreSpillView(spark, spillDir, snap.files, snap.spans)
    header.get("__retired").foreach { enc =>
      st.restoreRetired(enc.split('\n').toSeq.filter(_.nonEmpty).map { line =>
        val sep = line.indexOf('|')
        (line.take(sep).toLong, line.drop(sep + 1))
      })
    }
    header.get("__streambatch").foreach { enc =>
      st.restoreStreamBatches(enc.split('\n').toSeq.filter(_.nonEmpty).map {
        line =>
          val sep = line.lastIndexOf('|')
          (line.take(sep), line.drop(sep + 1).toLong)
      })
    }
    st.setSpillBase(spillDir)
    state.topks.put(name.toLowerCase, st)
    header.getOrElse("__base", "") match {
      case "" =>
      case b => state.topkBases.put(name.toLowerCase, b)
    }
    state.topkPaths.put(name.toLowerCase, path)
    refreshTopkView(st)
    st
  }

  /** TopK structures are queryable as tables (`SELECT * FROM topkName` —
   * reference `TopKRelation.buildScan`, `sql/topk/TopKRelation.scala:59-86`)
   * through a `PrunedFilteredScan` relation: `start_time`/`end_time` are
   * TIMESTAMP columns, so windows are `WHERE start_time >= '2024-01-02
   * 00:00:00'` (string coerces in the session zone) or `>= timestamp_millis
   * (<epoch ms>)` — both prune sketch intervals before the merge, and the
   * view always reflects the live sketch state. Bare epoch-number
   * comparisons do NOT coerce under the ANSI analyzer. */
  private def refreshTopkView(st: graft.topk.TopKState): Unit =
    org.apache.spark.sql.graft.Plans
      .relationDf(spark, new graft.topk.TopKRelation(st, spark))
      .createOrReplaceTempView(st.name)

  /** Query top-k keys between epoch-millisecond times (reference
   * `queryTopK(name, start, end, k)`; `-1` on either side is an OPEN bound,
   * as in the reference's `queryApproxTSTopK(name, -1, -1)` full-history
   * form — `AQPStreamingSuite.scala:819`). */
  def queryTopK(name: String, startMs: Long = Long.MinValue,
      endMs: Long = Long.MaxValue, k: Int = -1): DataFrame = {
    val st = topkState(name)
    val s = if (startMs == -1L) Long.MinValue else startMs
    val e = if (endMs == -1L) Long.MaxValue else endMs
    st.queryTopK(spark, s, e, if (k > 0) k else st.opts.size)
  }

  /** Timestamp-string window (reference
   * `SnappyContextAQPFunctions.queryTopK:143-153` — `null`/empty bound =
   * open; accepts `yyyy-MM-dd HH:mm:ss[.fff]`, `yyyy-MM-dd`, or epoch ms). */
  def queryTopK(name: String, startTime: String, endTime: String,
      k: Int): DataFrame =
    queryTopK(name,
      GraftSession.parseTimestampMs(startTime, Long.MinValue,
        GraftSession.sessionZone(spark)),
      GraftSession.parseTimestampMs(endTime, Long.MaxValue,
        GraftSession.sessionZone(spark)), k)

  def queryTopK(name: String, startTime: String, endTime: String): DataFrame =
    queryTopK(name, startTime, endTime, -1)

  /** Reference-named alias for [[queryTopK]]
   * (`snappy.queryApproxTSTopK(name, start, end, k)`). */
  def queryApproxTSTopK(name: String, startMs: Long = Long.MinValue,
      endMs: Long = Long.MaxValue, k: Int = -1): DataFrame =
    queryTopK(name, startMs, endMs, k)

  /** Timestamp-string alias (reference `AQPStreamingSuite` calls
   * `queryApproxTSTopK(name, startTimeString, endTimeString)`). */
  def queryApproxTSTopK(name: String, startTime: String,
      endTime: String): DataFrame =
    queryTopK(name, startTime, endTime, -1)

  def queryApproxTSTopK(name: String, startTime: String, endTime: String,
      k: Int): DataFrame =
    queryTopK(name, startTime, endTime, k)

  private[graft] def topkState(name: String): graft.topk.TopKState =
    state.topks.get(name.toLowerCase) match {
      case Some(st: graft.topk.TopKState) => st
      case _ => throw new IllegalArgumentException(s"No TopK structure named $name")
    }

  /** Frequency estimate (lower, estimate, upper) of one key between epoch
   * times — the `queryAtTime`/`queryBetweenTime` surface of the reference's
   * Hokusai structures (`execution/Hokusai.scala:68-660`). */
  def queryFrequency(name: String, key: Any, startMs: Long = Long.MinValue,
      endMs: Long = Long.MaxValue): Option[(Long, Long, Long)] =
    topkState(name).queryFrequency(key, startMs, endMs)

  /** Timestamp-string window over [[queryFrequency]] (`null`/empty = open). */
  def queryFrequency(name: String, key: Any, startTime: String,
      endTime: String): Option[(Long, Long, Long)] =
    queryFrequency(name, key,
      GraftSession.parseTimestampMs(startTime, Long.MinValue,
        GraftSession.sessionZone(spark)),
      GraftSession.parseTimestampMs(endTime, Long.MaxValue,
        GraftSession.sessionZone(spark)))

  /**
   * DataFrame-API approximate execution (reference entry point B —
   * `withErrorDataFrame`, `SnappyContextAQPFunctions.scala:358-368`): rewrite
   * the given aggregation DataFrame to run against the best matching sample
   * with the requested error contract. Use `graft.aqp.functions.*` for error
   * columns inside `df`.
   */
  def withError(df: DataFrame, error: Double = Double.NaN,
      confidence: Double = Double.NaN, behavior: String = null): DataFrame = {
    import org.apache.spark.sql.graft.{ErrorConfidence, Plans}
    Plans.ofRows(spark, ErrorConfidence(
      Option(error).filterNot(_.isNaN),
      Option(confidence).filterNot(_.isNaN),
      Option(behavior),
      Plans.analyzed(df)))
  }
}

object GraftSession {
  private val log = org.slf4j.LoggerFactory.getLogger(classOf[GraftSession])

  def apply(spark: SparkSession): GraftSession = new GraftSession(spark)

  /** Split a comma-separated expression list at paren depth 0 only, so
   * function arguments (`substr(x, 1, 3)`) stay inside their expression.
   * Tracks single-quote state (with SQL `''` escaping) so a quoted comma —
   * `concat(region, ', ', nation)` or a top-level `','` literal — never
   * splits, and parens inside string literals don't skew the depth.
   * Unbalanced parens outside quotes are a malformed expression list and
   * fail here rather than mis-splitting silently.
   *
   * `escapedStringLiterals` mirrors `spark.sql.parser.escapedStringLiterals`:
   * under standard-SQL literals (true) a backslash is an ORDINARY character
   * — Spark parses `'...\'` as backslash + closing quote, and treating the
   * backslash as a `\'` escape here would mis-track quote state and reject
   * a valid list as unterminated. Pass the session's conf where a session
   * is in reach. */
  private[graft] def splitTopLevel(s: String,
      escapedStringLiterals: Boolean = false): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var depth = 0
    var inQuote = false
    var escaped = false
    s.foreach {
      case c if escaped => escaped = false; cur += c
      case ',' if depth == 0 && !inQuote => out += cur.toString; cur.clear()
      case c =>
        if (inQuote && c == '\\' && !escapedStringLiterals) {
          escaped = true // \' escape inside a literal (default parser mode)
        } else if (c == '\'') inQuote = !inQuote // '' escape = two toggles, net even
        else if (!inQuote) {
          if (c == '(') depth += 1
          else if (c == ')') {
            depth -= 1
            require(depth >= 0, s"unbalanced ')' in expression list: $s")
          }
        }
        cur += c
    }
    require(depth == 0 && !inQuote && !escaped,
      s"unbalanced parentheses or unterminated quote in expression list: $s")
    out += cur.toString
    out.iterator.map(_.trim).filter(_.nonEmpty).toSeq
  }

  /** Option-driven sampling of an arbitrary DataFrame — the shared engine
   * behind `CREATE SAMPLE TABLE ... OPTIONS(...)` and the DataFrame-side
   * `df.stratifiedSample(Map(...))` syntax. Returns
   * (sampled, qcs, fraction, reservoirSize). Supports the full reference
   * option set: `qcs`, `fraction`, `strataReservoirSize`, `seed`,
   * `timeSeriesColumn`/`timeInterval`/`timeUnit` (time-slot strata —
   * `StratifiedSamplerCached.scala:96-120`) and
   * `errorLimitColumn`/`errorLimitPercent`/`confidence`
   * (`StratifiedSamplerErrorLimit`). Keys are case-insensitive. */
  private[graft] def sampleByOptions(base: DataFrame,
      opts0: Map[String, String]): (DataFrame, Seq[String], Double, Int) = {
    val opts = opts0.map { case (k, v) => k.toLowerCase -> v }
    // top-level comma split: the QCS may hold function expressions with
    // their own argument commas — `qcs 'carrier, substr(route, 1, 3)'` is
    // two strata expressions, not four (reference AQP-282 uses
    // `qcs 'hack_license, year(pickup_datetime), month(pickup_datetime)'`)
    val qcsBase = opts.get("qcs").map(GraftSession.splitTopLevel(_,
      base.sparkSession.sessionState.conf.escapedStringLiterals)).getOrElse(Nil)
    // time-slot strata: bucket the time column into timeInterval-ms slots and
    // make the slot part of the stratum key
    val timeQcs = opts.get("timeseriescolumn").map { ts =>
      val ivMs = opts.get("timeinterval").map(_.toLong).getOrElse(5000L)
      val tsType = base.schema.find(_.name.equalsIgnoreCase(ts)).map(_.dataType)
      // timestamp-typed columns carry their own unit and win over the
      // declared timeUnit (graft.TimeCol, tz-independent); integral columns
      // keep the declared-unit dispatch, with integer `div` so ns epochs
      // above 2^53 don't lose slot precision to double division
      if (tsType.exists(TimeCol.isTimeTyped)) {
        TimeCol.slotSql(ts, tsType, "ms", ivMs)
      } else opts.getOrElse("timeunit", "auto") match {
        case "ns" => s"($ts div ${ivMs * 1000000L})"
        case "s" => s"floor($ts * 1000 / $ivMs)"
        case "ms" => s"floor($ts / $ivMs)"
        case _ => s"floor(cast($ts as double) * 1000 / $ivMs)"
      }
    }.toSeq
    val qcs = qcsBase ++ timeQcs
    val reservoirSize = opts.get("stratareservoirsize").map(_.toInt).getOrElse(50)
    val seed = opts.get("seed").map(_.toLong).getOrElse(42L)
    val fraction = opts.get("fraction").map(_.toDouble).getOrElse(0.0)

    val sampled = opts.get("errorlimitcolumn") match {
      case Some(errCol) =>
        StratifiedSampler.sampleWithErrorLimit(base, qcs.map(expr), expr(errCol),
          errorLimitPercent = opts.get("errorlimitpercent").map(_.toDouble).getOrElse(10.0),
          confidence = opts.get("confidence").map(_.toDouble).getOrElse(0.95),
          reservoirSize = reservoirSize, seed = seed)
      case None =>
        StratifiedSampler.sample(base, qcs, fraction, reservoirSize, seed)
    }
    (sampled, qcs, fraction, reservoirSize)
  }

  /** Subdirectory (under a path-backed TopK's path) holding spilled
   * interval buckets as parquet. */
  val TopkSpillDir = "_graft_topk_spill"

  /** Collision-free suffix for durable identities derived from free-form
   * keys (sink fence keys, per-batch sample file prefixes): MurmurHash3 is
   * deterministic across JVMs — crash-replay fencing and delete-by-prefix
   * both require the SAME key to reproduce after a restart — and the 'h'
   * marker keeps the hash segment from ever reading as the "-b<batchId>-"
   * segment that follows it in a batch file name (a bare hex value can be
   * `b1`), so a search for one batch's files cannot match a hash. */
  private[graft] def keyHashSuffix(raw: String): String =
    "h" + java.lang.Integer.toHexString(
      scala.util.hashing.MurmurHash3.stringHash(raw))

  /** Serialize mutations of a shared persist path (sample/TopK appends,
   * snapshot publishes) across sessions and JVMs, holding a fence epoch
   * the critical section's publishes are checked against — see
   * [[graft.store.PathLock]]. Not reentrant. */
  def withPathLock[A](spark: SparkSession, path: String)(body: => A): A =
    graft.store.PathLock.withPathLock(spark, path)(body)

  /** Commit-point validation for a publisher holding the path lock: throws
   * [[FencedLockException]] when the store's fence moved past the held
   * epoch (see [[graft.store.PathLock.assertStoreFence]]); a caller holding
   * no lock on the path passes. */
  def assertStoreFence(spark: SparkSession, path: String): Unit =
    graft.store.PathLock.assertStoreFence(
      new org.apache.hadoop.fs.Path(path), spark.sessionState.newHadoopConf())

  /** Test hook: runs after [[publishAppend]]'s distributed staging write,
   * before its commit-point fence re-validation — specs inject a
   * successor takeover into the job-duration window a frozen appender
   * could sleep through. */
  @volatile private[graft] var appendStagingHook: () => Unit = () => ()

  /** Publish an ad-hoc (non-streaming) sample append under the held path
   * lock: stage the distributed write into a dot-prefixed directory
   * (invisible to parquet readers), re-validate the store fence AFTER
   * the write — the job-duration stretch is the longest window a frozen
   * appender could sleep through, and the single pre-write check left
   * all of it open — then rename the complete part files into place
   * stamped with the held fence epoch. A holder fenced mid-job gets a
   * [[FencedLockException]] at the commit point and lands NOTHING; the
   * residual window is the check→rename microseconds (same class as the
   * streaming publish's). Unlike a stream batch an append is never
   * republished, so readers have no same-batch epoch pair to quarantine
   * — the post-write check IS the guarantee here, and the epoch stamp in
   * the name is the forensic record. Staging leftovers (a crashed or
   * fenced appender's) are swept here: legitimate appends serialize on
   * the path lock, so any `.staging-append-*` observed under it is
   * residue — or a zombie's in-flight write, whose deletion is exactly
   * the point. */
  private[graft] def publishAppend(spark: SparkSession, path: String,
      sampled: DataFrame): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val dir = new org.apache.hadoop.fs.Path(path)
    val fs = dir.getFileSystem(conf)
    if (fs.exists(dir)) fs.listStatus(dir).foreach { s =>
      if (s.getPath.getName.startsWith(".staging-append-")) {
        fs.delete(s.getPath, true)
      }
    }
    val id = java.util.UUID.randomUUID().toString.take(8)
    val staging = new org.apache.hadoop.fs.Path(dir, s".staging-append-$id")
    sampled.write.mode("overwrite").parquet(staging.toString)
    try {
      appendStagingHook()
      assertStoreFence(spark, path)
    } catch {
      case e: FencedLockException =>
        try fs.delete(staging, true)
        catch { case _: java.io.IOException => () /* next append sweeps */ }
        throw e
    }
    val fenceTag = graft.store.PathLock.heldFence(spark, path).map(f => s".e${f.epoch}")
      .getOrElse("")
    var k = 0
    fs.listStatus(staging).foreach { s =>
      if (s.getPath.getName.endsWith(".parquet")) {
        val dst = new org.apache.hadoop.fs.Path(dir,
          s"append-$id-$k$fenceTag.parquet")
        require(fs.rename(s.getPath, dst),
          s"could not publish append file $dst")
        k += 1
      }
    }
    fs.delete(staging, true)
  }

  /** The Spark session's local time zone, for wall-time string resolution
   * (public: the parser extension in `org.apache.spark.sql.graft` resolves
   * DDL epoch strings with it too). */
  def sessionZone(spark: SparkSession): java.time.ZoneId =
    java.time.ZoneId.of(spark.sessionState.conf.sessionLocalTimeZone)

  private val WallTimeFmt = new java.time.format.DateTimeFormatterBuilder()
    .appendPattern("yyyy-MM-dd HH:mm:ss")
    .optionalStart()
    .appendFraction(java.time.temporal.ChronoField.NANO_OF_SECOND, 1, 9, true)
    .optionalEnd()
    .toFormatter

  /**
   * Parse the reference's timestamp-bound forms to epoch milliseconds
   * (reference `Utils.parseTimestamp` as used by
   * `SnappyContextAQPFunctions.scala:143-190`): `null`/empty → `dflt`
   * (open bound); a pure number is epoch ms; otherwise
   * `yyyy-MM-dd HH:mm:ss[.fff]` or `yyyy-MM-dd` resolved in `zone`.
   *
   * Callers pass the SPARK SESSION time zone: the SQL analyzer coerces a
   * timestamp-string literal in the session zone before it reaches
   * [[graft.topk.TopKRelation]], so the string API must resolve in the
   * SAME zone or `queryApproxTSTopK(name, "2024-01-02 00:00:00", ...)`
   * and `WHERE start_time = '2024-01-02 00:00:00'` silently diverge by
   * the JVM-default-vs-session offset (the SNAP-463 equivalence contract).
   */
  private[graft] def parseTimestampMs(s: String, dflt: Long,
      zone: java.time.ZoneId): Long =
    if (s == null || s.trim.isEmpty) dflt
    else {
      val t = s.trim
      try t.toLong catch {
        case _: NumberFormatException =>
          // parse the WALL time zone-free, then resolve in `zone`
          // (java.sql.Timestamp.valueOf would bind it to the JVM default)
          val ldt =
            try java.time.LocalDateTime.parse(t, WallTimeFmt)
            catch {
              case _: java.time.format.DateTimeParseException =>
                try java.sql.Date.valueOf(t).toLocalDate.atStartOfDay()
                catch {
                  case _: IllegalArgumentException =>
                    // lenient user input: single-digit month/day fields
                    java.sql.Timestamp.valueOf(t).toLocalDateTime
                }
            }
          ldt.atZone(zone).toInstant.toEpochMilli
      }
    }

  /** True when `path` holds a persisted TopK store. */
  def topkMetaExists(path: String,
      conf: org.apache.hadoop.conf.Configuration): Boolean =
    graft.store.TopkSnapshot.exists(path, conf)

  /** Persisted TopK options (without `__`-internal keys) and base-table
   * name, from the latest snapshot's header — for drift checks before a
   * re-attach. */
  def readTopkMetaOptions(path: String,
      conf: org.apache.hadoop.conf.Configuration): (Map[String, String], String) = {
    val header = graft.store.TopkSnapshot.readHeader(path, conf).getOrElse(
      throw new IllegalArgumentException(s"No TopK store under $path"))
    (header.filterNot(_._1.startsWith("__")), header.getOrElse("__base", ""))
  }

  /** Publish the sample registry metadata: the latest version with these
   * keys set, so keys this writer does not set (stream watermarks) carry
   * over. The CALLER holds the path lock. */
  private[graft] def writeSampleMeta(path: String, baseName: String,
      qcs: Seq[String], fraction: Double, reservoirSize: Int,
      conf: org.apache.hadoop.conf.Configuration,
      declaredOpts: Map[String, String] = Map.empty): Unit =
    graft.store.SampleMeta.update(path, conf) { props =>
      props.setProperty("baseName", baseName)
      props.setProperty("qcs", qcs.mkString(","))
      props.setProperty("fraction", fraction.toString)
      props.setProperty("reservoirSize", reservoirSize.toString)
      // the options AS DECLARED at create time (before time-slot derivation
      // merges into `qcs`) — appends validate/inherit against these, since
      // the combined qcs is not what the user ever typed
      declaredOpts.foreach { case (k, v) =>
        props.setProperty("opt." + k.toLowerCase, v)
      }
    }

  /** One property from a sample's registry metadata (e.g. the per-stream
   * `__streambatch.<name>` applied-batch watermark). */
  private[graft] def readSampleMetaProp(path: String, key: String,
      conf: org.apache.hadoop.conf.Configuration): Option[String] =
    graft.store.SampleMeta.read(path, conf).flatMap(p => Option(p.getProperty(key)))

  /** Publish the registry metadata with one property changed. The CALLER
   * holds the path lock. */
  private[graft] def updateSampleMetaProp(path: String, key: String,
      value: String, conf: org.apache.hadoop.conf.Configuration): Unit =
    graft.store.SampleMeta.update(path, conf)(_.setProperty(key, value))

  def readSampleMeta(path: String,
      conf: org.apache.hadoop.conf.Configuration)
      : Option[(String, Seq[String], Double, Int)] =
    graft.store.SampleMeta.read(path, conf).map { props =>
      (props.getProperty("baseName"),
        // same top-level split as option parsing: function-expression QCS
        // entries carry argument commas through the meta round-trip
        splitTopLevel(props.getProperty("qcs", "")),
        props.getProperty("fraction").toDouble,
        props.getProperty("reservoirSize").toInt)
    }

  /** The create-time DECLARED option map stored alongside a persisted
   * sample (`opt.*` meta keys; empty for a meta written without declared
   * options, as `createSampleTable` and `sampleSink` write it). */
  def readSampleDeclaredOpts(path: String,
      conf: org.apache.hadoop.conf.Configuration): Map[String, String] = {
    import scala.jdk.CollectionConverters._
    graft.store.SampleMeta.read(path, conf).fold(Map.empty[String, String]) { props =>
      props.stringPropertyNames().asScala
        .filter(_.startsWith("opt."))
        .map(k => k.stripPrefix("opt.") -> props.getProperty(k)).toMap
    }
  }
}
