package graft.topk

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.SketchAggregate
import org.apache.spark.sql.types._

import graft.TimeCol
import graft.sketch.{IntervalSketch, TimeBucketedSketch, CmsInterval, SummaryInterval, TopKCms, StreamSummary}

/**
 * Options of a TopK table, mirroring the reference's `TopKWrapper`
 * (`execution/TopKWrapper.scala:56-155`): `depth`/`width` XOR
 * `eps`/`confidence` (W=⌈e/ε⌉, D=⌈ln(1/δ)⌉), `size` (k, default 100),
 * `timeSeriesColumn` + `timeInterval` (default 5 s when timed),
 * `frequencyCol`, `maxInterval` (default 20), `streamSummary` flag.
 */
final case class TopKOptions(
    key: String,
    timeSeriesColumn: Option[String] = None,
    timeIntervalMs: Long = 5000L,
    size: Int = 100,
    depth: Int = 7,
    width: Int = 200,
    maxInterval: Int = 20,
    streamSummary: Boolean = false,
    frequencyCol: Option[String] = None,
    capacity: Int = 0,
    seed: Int = 123,
    timeUnit: String = "auto",
    itemAggregation: Boolean = false,
    // combined time+item aggregation (reference Hokusai
    // `TimeAndItemAggregation:436` + the n̂ refinement `calcNCarat:666`):
    // full-width dyadic history + shrinking per-interval sketches
    timeAndItemAggregation: Boolean = false,
    maxDriverEntries: Long = 50000000L,
    // batch-timed population (reference AQPStreamingSuite SNAP-463 family:
    // `timeInterval '6000ms'` WITHOUT a timeSeriesColumn buckets each
    // append by its arrival time relative to `epoch`)
    epoch: Long = -1L,
    batchTimed: Boolean = false) {
  def effectiveCapacity: Int = if (capacity > 0) capacity else math.max(size * 4, 400)

  /** Driver-held entries of one full interval sketch: counters for
   * Space-Saving, cells + candidate heap for CMS. */
  def perIntervalEntries: Long =
    if (streamSummary) effectiveCapacity.toLong else depth.toLong * width + size
}

object TopKOptions {

  /** Parse the reference's interval forms (`Utils.parseTimeInterval` — its
   * DDL writes `timeInterval '6000ms'` / `'2s'`): a bare number is
   * milliseconds; suffixes ms/s/sec/secs/m/min/mins/h scale. */
  private[topk] def parseTimeInterval(s: String): Long = {
    val t = s.trim.toLowerCase
    val (num, mult) =
      if (t.endsWith("ms")) (t.dropRight(2), 1L)
      else if (t.endsWith("secs")) (t.dropRight(4), 1000L)
      else if (t.endsWith("sec")) (t.dropRight(3), 1000L)
      else if (t.endsWith("mins")) (t.dropRight(4), 60000L)
      else if (t.endsWith("min")) (t.dropRight(3), 60000L)
      else if (t.endsWith("s")) (t.dropRight(1), 1000L)
      else if (t.endsWith("m")) (t.dropRight(1), 60000L)
      else if (t.endsWith("h")) (t.dropRight(1), 3600000L)
      else (t, 1L)
    num.trim.toLong * mult
  }

  /** Parse a `CREATE TOPK TABLE ... OPTIONS(...)` map. Keys are matched
   * case-insensitively: SQL DDL arrives lowercased by the parser, but
   * programmatic callers (`topkSink`, `createApproxTSTopK`) pass camelCase
   * maps (`timeSeriesColumn`, `timeInterval`) — exact-lowercase lookups
   * silently dropped those options, producing an untimed table. */
  // zone is REQUIRED (no systemDefault fallback): every caller must resolve
  // wall-clock `epoch` strings in the Spark session zone, or the same DDL
  // produces different interval numbering depending on which code path
  // created the table
  def fromOptions(rawOpts: Map[String, String],
      zone: java.time.ZoneId): TopKOptions = {
    val opts = rawOpts.map { case (k, v) => k.toLowerCase -> v }
    val eps = opts.get("eps").map(_.toDouble)
    val conf = opts.get("confidence").map(_.toDouble)
    val depth = opts.get("depth").map(_.toInt)
      .orElse(conf.map(c => math.ceil(math.log(1.0 / (1.0 - c))).toInt.max(1)))
      .getOrElse(7)
    val width = opts.get("width").map(_.toInt)
      .orElse(eps.map(e => math.ceil(math.E / e).toInt))
      .getOrElse(200)
    val tsCol = opts.get("timeseriescolumn")
    // the reference treats a timed TopK WITHOUT a time-series column as
    // batch-timed: each append buckets at its arrival time relative to
    // `epoch` (TopKWrapper.scala:105-116 + insert-time capture in
    // sql/topk/TopKRelation.scala:105-112)
    val batchTimed = tsCol.isEmpty &&
      (opts.get("batchtimed").exists(_.toBoolean) ||
        opts.contains("timeinterval") || opts.contains("epoch"))
    TopKOptions(
      key = opts.getOrElse("key",
        throw new IllegalArgumentException("TOPK table requires OPTIONS(key '...')")),
      timeSeriesColumn = tsCol,
      timeIntervalMs = opts.get("timeinterval").map(parseTimeInterval)
        .getOrElse(5000L),
      epoch = opts.get("epoch")
        .map(graft.GraftSession.parseTimestampMs(_, -1L, zone)).getOrElse(-1L),
      batchTimed = batchTimed,
      size = opts.get("size").map(_.toInt).getOrElse(100),
      depth = depth,
      width = width,
      maxInterval = opts.get("maxinterval").map(_.toInt).getOrElse(20),
      streamSummary = opts.get("streamsummary").exists(_.toBoolean),
      frequencyCol = opts.get("frequencycol"),
      capacity = opts.get("capacity").map(_.toInt).getOrElse(0),
      seed = opts.get("seed").map(_.toInt).getOrElse(123),
      timeUnit = opts.getOrElse("timeunit", "auto"),
      itemAggregation = opts.get("itemaggregation").exists(_.toBoolean),
      timeAndItemAggregation =
        opts.get("timeanditemaggregation").exists(_.toBoolean),
      maxDriverEntries = opts.get("maxdriverentries").map(_.toLong)
        .getOrElse(50000000L))
  }
}

/**
 * Materialized TopK structure: time-bucketed sketches held on the driver
 * (each interval's sketch is a few KB — the reference likewise collects
 * sketches for querying, `SnappyContextAQPFunctions.scala:288-356`).
 * Populated by batch append (CREATE TOPK TABLE ... ON base) and/or
 * per-micro-batch from streams (SURVEY.md §2.8).
 */
final class TopKState(val name: String, val opts: TopKOptions, val keyType: DataType) {
  // Fail fast when a single interval's sketch alone exceeds the driver
  // bound — that much memory is committed on the very first append.
  require(opts.perIntervalEntries <= opts.maxDriverEntries,
    s"TopK table '$name': one interval sketch holds ${opts.perIntervalEntries} " +
      s"counters, exceeding maxDriverEntries ${opts.maxDriverEntries}. " +
      "Lower capacity/width, raise OPTIONS(maxDriverEntries ...), or use " +
      "graft.streaming.StreamOps.windowedTopK for unbounded cardinality.")

  require(!(opts.timeAndItemAggregation && opts.streamSummary),
    s"TopK table '$name': timeAndItemAggregation is a CMS-family structure " +
      "(the n̂ refinement works on matching CMS cells); it cannot combine " +
      "with streamSummary 'true'.")

  val variant: String = if (opts.streamSummary) "summary" else "cms"
  val buckets =
    new TimeBucketedSketch(opts.maxInterval, () => mkSketch(),
      opts.itemAggregation, timeAndItem = opts.timeAndItemAggregation)

  /** Guards every access to the mutable driver-side state (`buckets`, the
   * spill view, the retirement list): a streaming sink appends from the
   * micro-batch thread while a live-view SQL scan ([[TopKRelation]]) reads
   * the same TreeMaps from a query thread — unsynchronized, the reader sees
   * structural modification mid-iteration. External code touching
   * `buckets` directly (snapshot/restore in the save/attach paths) must
   * hold this lock too. Coarse by design: driver-side sketches are small,
   * and correctness beats the microseconds a finer scheme would save. */
  private[graft] val stateLock = new Object

  /** Batch-timed bucketing origin: `opts.epoch` when declared, else the
   * first append's arrival time (persisted with the snapshot so re-attached
   * sessions keep the same interval numbering). */
  @volatile private var epochBase: Long = opts.epoch
  def establishedEpoch: Long = epochBase

  // ---------------------------------------------------------------------------
  // Interval spill store: when high key cardinality × many retained buckets
  // pushes the driver's counter commitment past maxDriverEntries, the OLDEST
  // buckets move to a parquet interval frame (`start`, `len`, `bytes` — one
  // row per bucket) and queries merge them back ON EXECUTORS: the scan
  // filters to the requested interval range, each partition merges its
  // buckets locally, and the driver folds one bounded partial per task
  // (each ≤ one interval sketch). The driver's live set stays under the
  // guard no matter how much history accumulates.
  //
  // Each spill event writes its own BATCH directory under the spill root,
  // and the session tracks exactly the batch list its view consists of —
  // the batches recorded in the snapshot it attached plus the ones it wrote
  // itself. Queries read ONLY that list, never a directory listing: on a
  // SHARED persist path another session may spill a bucket that is still
  // RESIDENT in this session's snapshot, and a listing-based read would
  // merge that bucket from both places — double-counting, not mere
  // staleness. Appends re-synchronize the view through the snapshot under
  // the path lock ([[graft.GraftSession.withPathLock]]).
  // ---------------------------------------------------------------------------
  @transient private var sparkRef: SparkSession = _
  private var spillPath: Option[String] = None
  /** (startInterval, lengthInIntervals) of every spilled bucket — one tiny
   * tuple per bucket, for range overlap tests and covered-range math. */
  private val spilledSpans = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
  /** Batch directories composing this session's view of the spill store. */
  private val spillFiles = scala.collection.mutable.ArrayBuffer.empty[String]
  /** A bucket removed from the tree whose spill batch is still being
   * written. `isHistory` records WHICH map it came from: a dyadic history
   * block can have length 1 (`compactTime` stores `((oldest, 1L), sk)`),
   * so dispatching removal/restore on `len == 1` alone would touch the
   * wrong map — the bucket would stay resident AND be spilled, doubling
   * every estimate over its span. */
  private final case class ParkedBucket(start: Long, len: Long,
      isHistory: Boolean, sketch: IntervalSketch)

  /** Buckets removed from the tree whose spill batch is still being
   * written: in NEITHER `buckets` nor the spill view, so [[rangeSnapshot]]
   * folds them in explicitly — a query landing in the write window must
   * not undercount. Invariant: a spill runs inside the append that
   * triggered it (and, for path-backed tables, inside that append's path
   * lock), so the publish path's (spillView, snapshotBytes) capture never
   * observes a non-empty parking lot from another thread. */
  private val pendingSpill =
    scala.collection.mutable.ArrayBuffer.empty[ParkedBucket]
  /** Single-spiller guard: with the spill write outside `stateLock`, two
   * concurrent appends could otherwise both cross the entry guard and
   * double-spill overlapping bucket sets. */
  private var spillRunning = false

  // With query-time spill reads running lock-free on a snapshot of the
  // batch list, compaction must not delete a superseded batch while a
  // reader's job still references it (found by TopKConcurrentSpillSpec:
  // FILE_NOT_EXIST mid-scan). Each snapshot registers under the CURRENT
  // view epoch; every spillFiles swap bumps the epoch and parks the
  // replaced batches with the new epoch; a parked batch is deleted only
  // once every in-flight reader's epoch has reached it. Path-backed
  // stores route through the snapshot-retirement list instead
  // (deferDeletes), whose two-publish grace dwarfs any query.
  private var viewEpoch = 0L // guarded by stateLock
  private val readerIdGen = new java.util.concurrent.atomic.AtomicLong
  private val readerEpochs =
    new java.util.concurrent.ConcurrentHashMap[java.lang.Long, java.lang.Long]
  private val pendingDeletes =
    scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[String])]

  /** Delete parked batches no in-flight reader can still reference. */
  private def reclaimDeletable(spark: SparkSession): Unit = {
    val deletable = stateLock.synchronized {
      import scala.jdk.CollectionConverters._
      val minReader = readerEpochs.values.asScala
        .map(_.longValue).minOption.getOrElse(Long.MaxValue)
      val (del, keep) = pendingDeletes.toSeq.partition(_._1 <= minReader)
      pendingDeletes.clear(); pendingDeletes ++= keep
      del.flatMap(_._2)
    }
    if (deletable.nonEmpty) {
      val conf = spark.sessionState.newHadoopConf()
      deletable.foreach { f =>
        val hp = new org.apache.hadoop.fs.Path(f)
        hp.getFileSystem(conf).delete(hp, true)
      }
    }
  }

  /** Re-reads this table's store into this state; false when the latest
   * snapshot declares other options. Set for path-backed tables by
   * [[graft.GraftSession]]. */
  @volatile private var storeResync: Option[() => Boolean] = None
  private[graft] def setStoreResync(f: () => Boolean): Unit = storeResync = Some(f)

  /** Runs a query over this session's view of the spill store. On a shared
   * path another session's compaction deletes the batches it replaced one
   * publish after the snapshot that stopped listing them, so a view
   * attached from an older snapshot can list a batch that is gone: the
   * query then re-reads the store's latest snapshot and runs again. */
  @annotation.tailrec
  private def readingSpill[A](query: () => A, retries: Int = 3): A = {
    val out =
      try Right(query())
      catch {
        case scala.util.control.NonFatal(e)
            if retries > 0 && storeResync.isDefined && spillBatchGone => Left(e)
      }
    out match {
      case Right(a) => a
      case Left(e) =>
        if (!storeResync.get.apply()) throw e
        readingSpill(query, retries - 1)
    }
  }

  private def spillBatchGone: Boolean = {
    val conf = sparkOrActive.sessionState.newHadoopConf()
    spillView._1.exists { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      !p.getFileSystem(conf).exists(p)
    }
  }

  def spilledBucketCount: Int = spilledSpans.size
  def spillBatchCount: Int = spillFiles.size

  /** Live spill batches per compaction level (diagnostics/tests). */
  def spillLevelCounts: Map[Int, Int] =
    spillFiles.toSeq.groupBy(levelOf).map { case (l, p) => l -> p.size }

  /** Where this table's buckets spill (None until the first spill of a
   * non-path table) — exposed so DROP can retire the store. */
  def spillDirOption: Option[String] = stateLock.synchronized { spillPath }

  /** Root directory for spilled buckets (set to `<path>/_graft_topk_spill`
   * for path-backed tables BEFORE the first append; a local temp directory
   * is created lazily otherwise). */
  def setSpillBase(dir: String): Unit = { spillPath = Some(dir); deferDeletes = true }

  // Path-backed tables defer deletion of compacted-away batches by one
  // publish cycle: the retained previous snapshot (version-1) still
  // references them, and an in-flight reader attaching that snapshot must
  // find its files on disk. Entries carry the publish version at which the
  // superseding snapshot was written (None until the next publish stamps
  // them); [[collectRetired]] releases an entry only once that snapshot has
  // itself been superseded. Non-path tables (single-session warehouse
  // spill) have no snapshot readers and delete immediately.
  private var deferDeletes = false
  private val retiredBatches =
    scala.collection.mutable.ArrayBuffer.empty[(Option[Long], String)]

  /** Surviving stamped retirees, for persisting into the registry meta:
   * without this the deferred-delete list would live only in this session's
   * memory, and the next append's fresh re-attach would forget it — every
   * compacted-away batch dir on a shared path would leak forever. */
  def retiredView: Seq[(Long, String)] = stateLock.synchronized {
    retiredBatches.toSeq.collect { case (Some(v), p) => (v, p) }
  }

  /** Restore the persisted deferred-delete list on re-attach. */
  def restoreRetired(entries: Seq[(Long, String)]): Unit = stateLock.synchronized {
    retiredBatches.clear()
    retiredBatches ++= entries.map { case (v, p) => (Some(v), p) }
  }

  // ---------------------------------------------------------------------------
  // Streaming exactly-once: highest applied micro-batch id per feeding
  // stream. foreachBatch is at-least-once — a JVM killed between dependent
  // population and the source checkpoint's offset commit REPLAYS the batch
  // in the resumed query — so the stream populator records the watermark
  // INSIDE the same published snapshot that carries the merged counts
  // (GraftSession.saveTopK persists it; attach restores it): the counts a
  // reader can observe and the watermark that fences replays swap together
  // atomically, and a replayed batch is skipped instead of double-counted.
  private val streamBatches = scala.collection.mutable.Map.empty[String, Long]

  def appliedStreamBatch(stream: String): Long = stateLock.synchronized {
    streamBatches.getOrElse(stream.toLowerCase, -1L)
  }

  def setAppliedStreamBatch(stream: String, batchId: Long): Unit =
    stateLock.synchronized {
      val k = stream.toLowerCase
      streamBatches.put(k, math.max(batchId, streamBatches.getOrElse(k, -1L)))
    }

  def streamBatchView: Seq[(String, Long)] =
    stateLock.synchronized(streamBatches.toSeq.sorted)

  def restoreStreamBatches(entries: Seq[(String, Long)]): Unit =
    stateLock.synchronized {
      streamBatches.clear()
      streamBatches ++= entries
    }

  /** Stamp unstamped retirees with this publish's version and return the
   * ones whose superseding snapshot is now itself superseded (stamped
   * version < current) — safe to delete ([[graft.GraftSession.saveTopK]]). */
  def collectRetired(version: Long): Seq[String] = stateLock.synchronized {
    val (del, keep) = retiredBatches.toSeq.partition {
      case (Some(v), _) => v < version
      case (None, _) => false
    }
    retiredBatches.clear()
    retiredBatches ++= keep.map {
      case (None, p) => (Some(version), p)
      case x => x
    }
    del.map(_._2)
  }

  /** This session's spill view — batch dirs + span index — recorded into
   * the persisted snapshot so a re-attach restores exactly the save-time
   * state ([[graft.GraftSession.saveTopK]]). */
  def spillView: (Seq[String], Seq[(Long, Long)]) = stateLock.synchronized {
    (spillFiles.toSeq, spilledSpans.toSeq)
  }

  /** Restore the spill view a snapshot recorded (fresh-session re-attach
   * of a path-backed table). */
  def restoreSpillView(spark: SparkSession, dir: String,
      files: Seq[String], spans: Seq[(Long, Long)]): Unit = stateLock.synchronized {
    sparkRef = spark
    spillPath = Some(dir)
    deferDeletes = true
    spillFiles.clear(); spillFiles ++= files
    spilledSpans.clear(); spilledSpans ++= spans
  }

  private def sparkOrActive: SparkSession =
    Option(sparkRef).orElse(SparkSession.getActiveSession).getOrElse(
      throw new IllegalStateException(
        s"TopK table '$name' has spilled buckets but no active SparkSession"))

  // synchronized: called from spillOldest's lock-free phase 2, and the
  // first spill's `spillPath = Some(d)` must be visible to concurrent
  // readers of spillDirOption (DROP) / restoreSpillView under the JMM
  private def ensureSpillDir(spark: SparkSession): String =
    stateLock.synchronized {
      spillPath.getOrElse {
        // not path-backed: spill under the warehouse dir — a SHARED
        // filesystem on a real cluster (a driver-local temp dir would be
        // invisible to executors reading the parquet back)
        val wh = spark.sessionState.conf.warehousePath.stripSuffix("/")
        val d = s"$wh/${graft.GraftSession.TopkSpillDir}/$name-" +
          java.util.UUID.randomUUID().toString.take(8)
        spillPath = Some(d)
        d
      }
    }

  /** Move oldest buckets to the spill store until the driver is back under
   * its guard. History blocks predate every full-resolution interval, so
   * they go first; the newest interval always stays resident (appends merge
   * into it, and one sketch fits by the constructor check).
   *
   * Runs with `stateLock` taken only for the driver-map phases, never
   * across the parquet write (file I/O on a possibly shared filesystem —
   * holding the lock there would block every query's [[rangeSnapshot]]
   * for the write's duration). Phase 1 removes the chosen buckets from the
   * tree and PARKS them in `pendingSpill` — queries fold parked buckets
   * in, so the write window never undercounts, while concurrent late
   * appends re-materialize fresh buckets instead of mutating a mid-write
   * copy. Phase 2 writes the batch lock-free; a failed write deletes its
   * partial batch and restores the parked buckets (merging into any
   * freshly re-materialized ones), so nothing is lost. Phase 3
   * publishes the batch into the spill view. Removal goes through
   * [[TimeBucketedSketch.removeInterval]], which also clears the
   * interval's fold count — a late-arriving re-materialized bucket starts
   * full-width and must not skip its expected width folds. */
  private def spillOldest(spark: SparkSession): Unit = {
    // phase 1 (lock): choose, remove, park
    val (moved, memberParks) = stateLock.synchronized {
      val picked = scala.collection.mutable.ArrayBuffer.empty[ParkedBucket]
      // combined mode: a spilled history block takes its member intervals
      // with it — the block is a full-width superset of the members' data
      // (snapshot at first fold + shared late merges), so the members are
      // DROPPED, not spilled (spilling them alongside the block would
      // double-count the span; keeping them resident frees nothing and
      // double-counts too). Only their n̂ refinement detail is lost.
      // They are PARKED (sketch + fold count) until the write commits:
      // a failed write restores them with the block, or the partial-block
      // member-representation rule would undercount the span once any
      // member re-materialized from late data.
      val memberDrops = scala.collection.mutable.HashSet.empty[Long]
      val parks = scala.collection.mutable.ArrayBuffer.empty[(Long, IntervalSketch, Int)]
      var entries = buckets.entryCount
      val histIt = buckets.history.iterator
      val ivIt =
        if (buckets.intervals.isEmpty) Iterator.empty
        else buckets.intervals.init.iterator // newest interval stays resident
      while (entries > opts.maxDriverEntries && (histIt.hasNext || ivIt.hasNext)) {
        if (histIt.hasNext) {
          val ((hs, hl), s) = histIt.next()
          picked += ParkedBucket(hs, hl, isHistory = true, s)
          entries -= s.entryCount
          if (opts.timeAndItemAggregation) {
            buckets.intervals.range(hs, hs + hl).foreach { case (iv, ms) =>
              if (memberDrops.add(iv)) {
                parks += ((iv, ms, buckets.foldOf(iv)))
                entries -= ms.entryCount
              }
            }
          }
        } else {
          val (iv, s) = ivIt.next()
          // combined mode: members of picked blocks are dropped, never
          // spilled as their own len-1 spans (all blocks are picked before
          // ivIt runs, so remaining intervals are unsnapshotted and safe)
          if (!memberDrops.contains(iv)) {
            picked += ParkedBucket(iv, 1L, isHistory = false, s)
            entries -= s.entryCount
          }
        }
      }
      picked.foreach { p =>
        if (p.isHistory) buckets.removeHistory((p.start, p.len))
        else buckets.removeInterval(p.start)
      }
      memberDrops.foreach(buckets.removeInterval(_))
      pendingSpill ++= picked
      (picked.toSeq, parks.toSeq)
    }
    if (moved.isEmpty) return
    // phase 2 (no lock): serialize + write. Parked sketches are out of the
    // tree, so nothing mutates them here (appends build fresh buckets;
    // query folds only read them).
    val rows = moved.map(p => (p.start, p.len, IntervalSketch.toBytes(p.sketch)))
    val dir = ensureSpillDir(spark)
    val batch = s"$dir/batch-${java.util.UUID.randomUUID().toString.take(12)}"
    try TopKState.writeSpillBatch(spark, batch, rows)
    catch {
      case e: Throwable =>
        // a half-written batch is in no view; remove it so the store holds
        // only batches some snapshot may reference
        try {
          val hp = new org.apache.hadoop.fs.Path(batch)
          hp.getFileSystem(spark.sessionState.newHadoopConf()).delete(hp, true)
        } catch { case scala.util.control.NonFatal(_) => }
        stateLock.synchronized {
          pendingSpill --= moved
          moved.foreach { p =>
            if (!p.isHistory) buckets.addTo(p.start, p.sketch)
            // absorbs any block that formed over the span meanwhile —
            // overlapping resident blocks would break range selection
            else buckets.restoreHistoryBlock((p.start, p.len), p.sketch)
          }
          // combined mode: reinstate the dropped members with the blocks —
          // a restored block whose members are missing would be mis-read
          // as member-represented once late data re-materialized any of
          // them, undercounting the span
          memberParks.foreach { case (iv, s, fold) =>
            buckets.restoreInterval(iv, s, fold)
          }
        }
        throw e
    }
    // phase 3 (lock): publish the batch into the spill view
    stateLock.synchronized {
      pendingSpill --= moved
      spilledSpans ++= moved.map(p => (p.start, p.len))
      spillFiles += batch
    }
    maybeCompact(spark)
  }

  /** Keep the spill store's file count bounded under sustained spilling —
   * LEVELLED: fresh spills land at level 0 (`batch-<uuid>`); when any level
   * accumulates more than `compactThreshold` batches, THAT level's batches
   * merge into one batch at level+1 (`batch-L<n>-<uuid>` — the level rides
   * in the dir name, so it survives snapshots and re-attaches unchanged,
   * and a name without an `L<n>` tag is level 0). Each record is
   * rewritten at most once per level promotion, so cumulative write volume
   * is O(events·log_threshold(events)) — the previous whole-store rewrite
   * was amortized O(events²/threshold), which a years-lived table on a
   * shared filesystem would feel. Live file count stays
   * O(threshold·levels); spillMerged still reads the flat recorded list.
   * Sessions that attached an OLDER snapshot of a shared path may hold
   * references to deleted batches — their next append re-synchronizes
   * through the snapshot under the path lock, and a query that finds a
   * batch gone re-reads the store's latest snapshot ([[readingSpill]]). */
  private[graft] var compactThreshold = 16 // var: tests shrink it to reach deep levels fast
  private def levelOf(path: String): Int = {
    val n = path.substring(path.lastIndexOf('/') + 1)
    if (n.startsWith("batch-L")) {
      val digits = n.drop("batch-L".length).takeWhile(_.isDigit)
      if (digits.isEmpty) 0 else digits.toInt
    } else 0
  }
  private def maybeCompact(spark: SparkSession): Unit = {
    var merged = true
    while (merged) {
      merged = false
      // plan under the lock; run the rewrite job and deletes OUTSIDE it
      // (same rule as spillOldest: no cluster I/O while queries' snapshots
      // wait on stateLock)
      val plan = stateLock.synchronized {
        spillFiles.groupBy(levelOf).find(_._2.size > compactThreshold)
          .map { case (lvl, paths) => (lvl, paths.toSeq, spillPath.get) }
      }
      plan.foreach { case (lvl, old, dir) =>
        val compacted = s"$dir/batch-L${lvl + 1}-" +
          java.util.UUID.randomUUID().toString.take(12)
        spark.read.schema(TopKState.SpillSchema).parquet(old: _*).coalesce(1)
          .write.mode("overwrite").parquet(compacted)
        val swapped = stateLock.synchronized {
          // a concurrent re-attach (appendToTopK's snapshot resync) may
          // have replaced the whole view mid-rewrite — publish only if
          // every input batch is still live, else abandon the rewrite
          if (old.forall(spillFiles.contains)) {
            spillFiles --= old
            spillFiles += compacted
            viewEpoch += 1
            if (deferDeletes) {
              // the retained previous snapshot may still reference these
              // batches — hold them until that snapshot is itself retired
              // (collectRetired)
              retiredBatches ++= old.map(p => (None: Option[Long], p))
            } else {
              // park for the reader-epoch reclaim: an in-flight query's
              // lock-free spill read may still hold the pre-swap list
              pendingDeletes += ((viewEpoch, old))
            }
            true
          } else false
        }
        if (swapped) {
          reclaimDeletable(spark)
          merged = true // a promotion can tip the next level over
        } else {
          val hp = new org.apache.hadoop.fs.Path(compacted)
          hp.getFileSystem(spark.sessionState.newHadoopConf()).delete(hp, true)
        }
      }
    }
  }

  private def spanOverlaps(startIv: Long, endIv: Long)(span: (Long, Long)): Boolean =
    span._1 <= endIv && (span._1 + span._2 - 1) >= startIv

  /** Executor-side merge of the spilled buckets overlapping the range,
   * over an explicit SNAPSHOT of the spill view (so it runs with no lock
   * held — see [[rangeSnapshot]]): filtered parquet scan → per-partition
   * merge → one bounded partial per task folded on the driver. Reads ONLY
   * this session's recorded batch list — see the spill-store comment above
   * for why a directory listing would double-count on a shared path. */
  private def spillMerged(files: Seq[String], spans: Seq[(Long, Long)],
      startIv: Long, endIv: Long): Option[IntervalSketch] = {
    if (!spans.exists(spanOverlaps(startIv, endIv))) return None
    val spark = sparkOrActive
    val df = spark.read.schema(TopKState.SpillSchema).parquet(files: _*)
    val startCond =
      if (endIv == Long.MaxValue) lit(true) else col("start") <= lit(endIv)
    val endCond =
      if (startIv == Long.MinValue) lit(true)
      else col("start") + col("len") - lit(1L) >= lit(startIv)
    val rdd = df.filter(startCond && endCond).select(col("bytes"))
      .rdd.map(r => IntervalSketch.fromBytes(r.getAs[Array[Byte]](0)))
    // the span index is exact (spillOldest and the snapshot restore keep it
    // in sync with the recorded batches), so the overlap pre-check above
    // guarantees a non-empty scan — one job, not an isEmpty probe plus a
    // reduce
    Some(rdd.reduce(_.mergeWith(_)))
  }

  /** One-lock-acquisition snapshot for a range query: the driver-resident
   * buckets (plus any mid-spill parked buckets) folded into a PRIVATE
   * sketch, an immutable copy of the spill view, and the resident covered
   * span. The expensive executor-side spill merge then runs on the
   * snapshot OUTSIDE the lock — holding `stateLock` across a cluster job
   * (the pre-round-8 shape) serialized streaming appends behind every
   * query's I/O. Folding into a fresh sketch also keeps the old
   * `mergedAll` guarantee: `mergeWith` mutates its receiver (CMS adds in
   * place), so handing out a stored bucket would let a later merge corrupt
   * live state. */
  /** One-lock-acquisition query snapshot. Takes epoch-MS bounds and maps
   * them to intervals INSIDE the lock: `intervalOf` reads `epochBase`,
   * which a batch-timed table's FIRST append establishes — computed
   * outside, a racing query could map its window against the pre-append
   * epoch while observing post-append buckets and miss everything.
   * `localCov` covers resident + parked buckets; the spilled-span union
   * happens once, in [[mergedAndCovered]]. */
  private final case class RangeSnapshot(
      startIv: Long, endIv: Long, epochBaseMs: Long,
      resident: Option[IntervalSketch],
      files: Seq[String], spans: Seq[(Long, Long)],
      localCov: Option[(Long, Long)], readerId: Long,
      refinedKey: Option[(Long, Long, Long)] = None,
      refinedRows: Option[Seq[(Any, Long, Long, Long)]] = None)

  /** `refineKey`/`refineTopK` request the combined-mode n̂ answers
   * ([[TimeBucketedSketch.refinedEstimate]]) computed INSIDE the same
   * acquisition. Refinement applies only while the queried span is fully
   * driver-resident (no spilled or parked overlap): spilled spans lost
   * their per-interval detail, and mixing a refined resident part with a
   * merged spill part from a different instant would break the snapshot's
   * one-state guarantee. Once spill overlaps, answers fall back to the
   * (always-correct) merged path. */
  private def rangeSnapshot(startMs: Long, endMs: Long,
      refineKey: Option[Any] = None, refineTopK: Int = -1): RangeSnapshot =
    stateLock.synchronized {
      val startIv = if (startMs == Long.MinValue) Long.MinValue else intervalOf(startMs)
      val endIv = if (endMs == Long.MaxValue) Long.MaxValue else intervalOf(endMs)
      val base = if (opts.batchTimed) math.max(epochBase, 0L) else 0L
      if (startIv > endIv) {
        // inverted/empty window: don't walk the bucket maps (SortedMap.range
        // rejects from > until) and don't register a reader — the caller
        // bails before any spill read
        return RangeSnapshot(startIv, endIv, base, None, Nil, Nil, None, -1L)
      }
      val pendingParts = pendingSpill.toSeq
        .filter(p => spanOverlaps(startIv, endIv)((p.start, p.len)))
      val parts = buckets.mergedRange(startIv, endIv).toSeq ++
        pendingParts.map(_.sketch)
      val resident =
        if (parts.isEmpty) None
        else Some(parts.foldLeft(mkSketch())(_.mergeWith(_)))
      val localCov = (buckets.coveredRange(startIv, endIv).toSeq ++
        pendingParts.map(p => (p.start, p.start + p.len - 1))) match {
        case Nil => None
        case cs => Some((cs.map(_._1).min, cs.map(_._2).max))
      }
      val canRefine = opts.timeAndItemAggregation &&
        pendingParts.isEmpty && !spilledSpans.exists(spanOverlaps(startIv, endIv))
      val refinedKeyTriple =
        if (!canRefine) None
        // same lock-hold budget as the listing: a window cutting through a
        // large dyadic block makes the single-key n̂ loop cost
        // ~depth × members² (each uncovered member sums cells over every
        // resident member of its covering block) — near maxDriverEntries
        // that is ~1e9 cell reads under stateLock, stalling all appends.
        // Over budget → None → queryFrequency's merged-path fallback.
        else refineKey.flatMap(k => buckets.refinedEstimate(startIv, endIv, k,
          maxCellReads = TopKState.RefineListingBudget))
      val refinedRows =
        if (!canRefine || refineTopK <= 0) None
        else resident match {
          case Some(CmsInterval(c)) =>
            val cands = c.candidates.toSeq
            // lock-hold budget: the refined listing runs inside stateLock
            // (the structure mutates under appends), so the sketch caps
            // its own work using actual per-bucket depths and one shared
            // selection/partition pass — past the cap it answers None and
            // the merged path (always correct, just unrefined) serves
            buckets.refinedEstimates(startIv, endIv, cands,
              maxCellReads = TopKState.RefineListingBudget)
              .map(_.zip(cands)
                .collect { case (Some((lo, est, up)), key) => (key, est, lo, up) }
                .sortBy { case (key, est, _, _) =>
                  (-est, graft.sketch.keySortable(key)) }
                .take(refineTopK))
          case _ => None
        }
      // register this reader's epoch INSIDE the same acquisition — a swap
      // between snapshot and registration could otherwise reclaim a batch
      // this snapshot references
      val readerId = readerIdGen.incrementAndGet()
      readerEpochs.put(readerId, viewEpoch)
      RangeSnapshot(startIv, endIv, base, resident,
        spillFiles.toSeq, spilledSpans.toSeq, localCov, readerId,
        refinedKeyTriple, refinedRows)
    }

  /** Merged sketch + covered span + epoch base over [startMs, endMs], from
   * ONE atomic state snapshot (rows and coverage always describe the same
   * state). The executor-side spill merge runs lock-free on the snapshot. */
  private def mergedAndCovered(startMs: Long,
      endMs: Long): (Option[IntervalSketch], Option[(Long, Long)], Long) =
    mergedAndCoveredFrom(rangeSnapshot(startMs, endMs))

  private def mergedAndCoveredFrom(
      snap: RangeSnapshot): (Option[IntervalSketch], Option[(Long, Long)], Long) = {
    import snap.{startIv, endIv}
    // empty/inverted window: interval math below would still overlap coarse
    // history blocks and spilled spans (their extent test is symmetric), so
    // bail before any merge
    if (startIv > endIv) return (None, None, snap.epochBaseMs)
    val spilled =
      try spillMerged(snap.files, snap.spans, startIv, endIv) // cluster job, no lock
      finally {
        readerEpochs.remove(snap.readerId)
        // a reader finishing may be the last thing holding parked deletes
        // back — reclaim here too, or batches retired during the final
        // compaction of a quiescing table would leak until DROP
        try reclaimDeletable(sparkOrActive)
        catch { case scala.util.control.NonFatal(_) => }
      }
    val merged = (snap.resident.toSeq ++ spilled.toSeq) match {
      case Nil => None
      // resident is already private, so folding into it is safe — and the
      // spilled partial came off the wire, never a stored bucket
      case parts => Some(parts.reduce(_.mergeWith(_)))
    }
    val overl = snap.spans.filter(spanOverlaps(startIv, endIv))
    val covered = (snap.localCov.toSeq ++
      overl.map(s => (s._1, s._1 + s._2 - 1))) match {
      case Nil => None
      case cs => Some((cs.map(_._1).min, cs.map(_._2).max))
    }
    (merged, covered, snap.epochBaseMs)
  }

  private def mkSketch(): IntervalSketch =
    if (opts.streamSummary) SummaryInterval(new StreamSummary(opts.effectiveCapacity))
    else CmsInterval(new TopKCms(opts.size, opts.depth, opts.width, opts.seed))

  private def intervalOf(tsMillis: Long): Long =
    if (opts.batchTimed)
      Math.floorDiv(tsMillis - math.max(epochBase, 0L), opts.timeIntervalMs)
    else tsMillis / opts.timeIntervalMs

  /** Distributed sketch build (one small shuffle of partial sketches), then
   * driver-side merge into the time buckets. Batch-timed tables bucket the
   * whole append at its arrival time. */
  def append(df: DataFrame): Unit = append(df, System.currentTimeMillis())

  /** [[append]] with an explicit batch time (reference `DataFrameWithTime`
   * insert path — `sql/topk/TopKRelation.scala:105-112`); ignored unless
   * the table is batch-timed. */
  def append(df: DataFrame, batchTimeMs: Long): Unit =
    mergePartialsAt(df.sparkSession, buildPartials(df), batchTimeMs)

  /** Phase 1 of an append — the DISTRIBUTED part: one per-interval sketch
   * per input partition, shuffled and combined to one bounded sketch per
   * interval. Runs without any catalog/path lock held; the result is a
   * small driver-side batch that [[mergePartials]] folds in. */
  def buildPartials(df: DataFrame): Seq[(Long, Array[Byte])] = {
    // sketches store String or Long keys — normalize integrals to long
    val keyCol =
      if (keyType == StringType) col(opts.key) else col(opts.key).cast(LongType)
    val freqCol = opts.frequencyCol.map(col).getOrElse(lit(1L)).cast(LongType)
    val ivCol = opts.timeSeriesColumn match {
      case Some(ts) =>
        // the ACTUAL column type wins over the declared timeUnit: a user
        // declares `timeUnit 'ns'` for an integer-epoch encoding, but a
        // timestamp-typed column (what parquet timestamp[us]/[ns] loads as)
        // carries its own unit, matching the reference's dual long/Timestamp
        // handling (`execution/TopKWrapper.scala:105-116`). graft.TimeCol
        // keeps everything in integral `div` — ns epochs exceed 2^53, where
        // double division quantizes to ~256 ns and mis-buckets events near
        // an interval boundary (same rule as the sampler's time-slot strata).
        val tsType = df.schema.find(_.name.equalsIgnoreCase(ts)).map(_.dataType)
        expr(TimeCol.slotSql(ts, tsType, opts.timeUnit, opts.timeIntervalMs))
      case None => lit(0L)
    }
    // aggregate over the PROJECTED names: referencing the raw frequency
    // column after the rename below left `col(frequencyCol)` unresolvable
    // (only surfaced with an explicit frequencyCol — the default lit(1)
    // needs no resolution)
    val agg = SketchAggregate(col("__key__"), col("__freq__"), variant,
      opts.size, opts.depth, opts.width, opts.effectiveCapacity, opts.seed)
    df.select(ivCol.as("__iv__"), keyCol.as("__key__"), freqCol.as("__freq__"))
      // a NULL time value yields a NULL interval — skip those rows like the
      // aggregate skips NULL keys, instead of NPE-ing the whole append on
      // the null-keyed group
      .filter(col("__iv__").isNotNull)
      .groupBy(col("__iv__")).agg(agg.as("__sk__"))
      .collect()
      .map(r => (r.getLong(0), r.getAs[Array[Byte]](1))).toSeq
  }

  /** Phase 2 of an append — the DRIVER part: fold the per-interval partials
   * into the time buckets and spill over-guard buckets. Cheap (no
   * distributed job: a spill writes its batch from the driver); callers
   * serializing appends over a shared persist path hold the path lock
   * around exactly this phase plus the snapshot publish. */
  def mergePartials(spark: SparkSession, partials: Seq[(Long, Array[Byte])]): Unit =
    mergePartialsAt(spark, partials, System.currentTimeMillis())

  /** [[mergePartials]] with the batch's arrival time: for a batch-timed
   * table the partials (built at interval 0) are REBASED to the interval
   * the batch time falls in — computed HERE, after a path-backed append has
   * re-attached the latest snapshot, so the established epoch is the
   * persisted one, not a stale pre-reload value. */
  def mergePartialsAt(spark: SparkSession, partials: Seq[(Long, Array[Byte])],
      batchTimeMs: Long): Unit = {
    val doSpill = stateLock.synchronized {
      val shift =
        if (!opts.batchTimed) 0L
        else {
          if (epochBase < 0L) epochBase = batchTimeMs // first append sets the origin
          Math.floorDiv(batchTimeMs - epochBase, opts.timeIntervalMs)
        }
      partials.foreach { case (iv, bytes) =>
        buckets.addTo(iv + shift, SketchAggregate.fromBytes(bytes))
      }
      // Guard the driver's actual commitment, not the hypothetical worst
      // case: Space-Saving counters materialize only as keys arrive, so a
      // big `capacity` over few distinct keys is fine, while high
      // cardinality × many retained intervals is the silent driver-OOM
      // shape. Over the guard, the oldest buckets spill to the parquet
      // interval store and queries merge them back on executors; only
      // late-arriving data for a spilled interval re-materializes a
      // (mergeable) driver bucket. The spill itself runs OUTSIDE the lock
      // (it writes parquet); a concurrent append skips it and re-checks on
      // its own next batch.
      sparkRef = spark
      if (buckets.entryCount > opts.maxDriverEntries && !spillRunning) {
        spillRunning = true
        true
      } else false
    }
    if (doSpill) {
      try spillOldest(spark)
      finally stateLock.synchronized { spillRunning = false }
    }
  }

  /** Release a snapshot's reader registration without a spill read (the
   * refined paths answer straight from the snapshot). */
  private def releaseReader(snap: RangeSnapshot): Unit =
    if (snap.readerId >= 0L) {
      readerEpochs.remove(snap.readerId)
      try reclaimDeletable(sparkOrActive)
      catch { case scala.util.control.NonFatal(_) => }
    }

  /** Point frequency estimate of a key over a time range. Lock-light: one
   * [[rangeSnapshot]] acquisition; the spill merge job runs lock-free.
   * Combined-mode tables answer with the n̂-refined estimate while the
   * span is fully resident. */
  def queryFrequency(key: Any, startMs: Long, endMs: Long): Option[(Long, Long, Long)] =
    readingSpill { () =>
      val snap = rangeSnapshot(startMs, endMs, refineKey = Some(key))
      snap.refinedKey match {
        case some @ Some(_) => releaseReader(snap); some
        case None => mergedAndCoveredFrom(snap)._1.map(_.estimate(key))
      }
    }

  /** Top-k rows of the merged [startMs, endMs] range plus the actual
   * covered bucket span in epoch ms (for the SQL scan's
   * `start_time`/`end_time` columns — [[TopKRelation]]). Rows, coverage,
   * and the epoch base come from one atomic snapshot; the spill merge job
   * runs lock-free. */
  def topKRows(startMs: Long, endMs: Long,
      k: Int): (Seq[(Any, Long, Long, Long)], Long, Long) = {
    val (rows, covered, base) = readingSpill { () =>
      val snap = rangeSnapshot(startMs, endMs, refineTopK = k)
      snap.refinedRows match {
        case Some(refined) =>
          // combined-mode resident answer: candidate set from the merged
          // resident sketch, every estimate n̂-refined per interval (upper
          // is the unrefined compressed overestimate — genuinely above est)
          releaseReader(snap)
          (refined, snap.localCov, snap.epochBaseMs)
        case None =>
          val (merged, cov, b) = mergedAndCoveredFrom(snap)
          // both families' point estimate IS the upper bound (CMS
          // overestimate-only; Space-Saving count >= true)
          (merged.map(_.topK(k).map { case (key, est, lo) => (key, est, lo, est) })
            .getOrElse(Nil), cov, b)
      }
    }
    val (covS, covE) = covered
      .map { case (s, e) =>
        (s * opts.timeIntervalMs + base, (e + 1) * opts.timeIntervalMs - 1 + base)
      }
      .getOrElse((0L, 0L))
    (rows, covS, covE)
  }

  /** Sketch-family confidence that the true count lies within the bounds:
   * CMS 1 − e^−depth; Space-Saving counts are deterministic bounds. */
  def boundsConfidence: Double =
    if (opts.streamSummary) 1.0 else 1.0 - math.exp(-opts.depth)

  /** Top-k between epoch times (ms), inclusive; Long.MinValue/MaxValue = open.
   * `error_bounds_info` flattens the reference's ApproximateType UDT
   * (`approximate/TopKUtil.scala:40-56`, `execution/ApproximateType.scala`)
   * into a plain struct — ANSI- and codegen-friendly, same information. */
  def queryTopK(spark: SparkSession, startMs: Long, endMs: Long, k: Int): DataFrame = {
    val conf = boundsConfidence
    val rows = topKRows(startMs, endMs, k)._1.map { case (key, est, lower, upper) =>
      Row(key, est, lower, Row(lower, est, upper, conf))
    }
    val schema = StructType(Seq(
      StructField(opts.key, keyType),
      StructField("estimated_value", LongType),
      StructField("lower_bound", LongType),
      StructField("error_bounds_info", TopKState.ErrorBoundsType)))
    // a local relation: the rows are already on the driver, so collecting
    // the answer starts no job
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, schema)
  }
}

object TopKState {
  /** Flattened ApproximateType: (lower_bound, estimate, max, confidence). */
  val ErrorBoundsType: StructType = StructType(Seq(
    StructField("lower_bound", LongType, nullable = false),
    StructField("estimate", LongType, nullable = false),
    StructField("max", LongType, nullable = false),
    StructField("confidence", DoubleType, nullable = false)))

  /** Max estimated cell reads a refined top-k listing may spend under
   * stateLock (~couple of ms of driver arithmetic) before answering from
   * the merged path instead. */
  val RefineListingBudget: Long = 2000000L

  /** Columns of a spill batch file, as Spark writes a `(Long, Long,
   * Array[Byte])` dataset: required int64 `start`/`len`, optional binary
   * `bytes`. Spill reads pass it, so they infer no schema (no job). */
  val SpillSchema: StructType = StructType(Seq(
    StructField("start", LongType, nullable = false),
    StructField("len", LongType, nullable = false),
    StructField("bytes", BinaryType)))

  private val SpillParquetType = org.apache.parquet.schema.MessageTypeParser
    .parseMessageType("message spark_schema { required int64 start; " +
      "required int64 len; optional binary bytes; }")

  /** Write one spill batch from the driver, with no Spark job: the single
   * file `<batch>/part-00000.parquet` in the [[SpillSchema]] layout,
   * compressed with the session's `spark.sql.parquet.compression.codec`.
   * Readers see the same columns and codec a Spark write would give. */
  private def writeSpillBatch(spark: SparkSession, batch: String,
      rows: Seq[(Long, Long, Array[Byte])]): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.io.api.Binary
    val conf = spark.sessionState.newHadoopConf()
    val file = org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(
      new org.apache.hadoop.fs.Path(batch, "part-00000.parquet"), conf)
    val codec = org.apache.spark.sql.execution.datasources.parquet
      .ParquetCompressionCodec.fromString(
        spark.sessionState.conf.parquetCompressionCodec).getCompressionCodec
    val writer = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(file).withConf(conf).withType(SpillParquetType)
      .withCompressionCodec(codec).build()
    try {
      val groups = new SimpleGroupFactory(SpillParquetType)
      rows.foreach { case (start, len, bytes) =>
        writer.write(groups.newGroup().append("start", start)
          .append("len", len).append("bytes", Binary.fromConstantByteArray(bytes)))
      }
    } finally writer.close()
  }
}
