package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.Row

import graft.GraftSession
import graft.sampling.StratifiedSampler

/**
 * Structured-Streaming population of AQP structures — the Spark-native
 * replacement for the reference's DStream-based `aqpTablePopulator`
 * (`execution/SnappyContextAQPFunctions.scala:390-442`): every stream table
 * fed its dependent sample/TopK structures per micro-batch; here each
 * dependent is a `foreachBatch` sink.
 *
 * Semantics preserved from the reference:
 *  - samples are maintained per batch — the hidden weight encodes the
 *    batch's stratum totals (`DataFrameWithTime` batch semantics), so
 *    weighted estimates over the accumulated sample estimate the full
 *    stream history;
 *  - TopK structures bucket by event time (interval retention in
 *    [[graft.sketch.TimeBucketedSketch]]), so late data within retained
 *    intervals still lands in the right bucket.
 */
object StreamSinks {

  /** Replay-fence key for a sink's ForBatch appends. With a checkpoint the
   * key must be (a) STABLE across restarts — the source offsets are
   * durable, so a resumed query's batch ids continue and the fence must
   * recognize them — and (b) UNIQUE per sink: two checkpointed sinks
   * feeding the SAME structure (two streams, one sample/TopK) each have
   * their own batch-id sequence, and a shared key would let stream A's
   * batch 3 fence out stream B's batch 3 — silent data loss. The
   * checkpoint location is the one identity with both properties; it is
   * hashed in Hadoop-Path-normalized form so a respelled-but-equivalent
   * location on restart (trailing slash, doubled separators) keeps the
   * same fence identity. Without a checkpoint a restart is a NEW query
   * whose batch ids restart at 0 over a possibly different file grouping,
   * so the key is unique per `start()` and restarts re-ingest (explicitly,
   * not silently drop). */
  private def sinkFenceKey(structName: String,
      checkpointLocation: Option[String]): String =
    checkpointLocation match {
      case Some(c) =>
        val canonical = new org.apache.hadoop.fs.Path(c).toString
        s"sink:$structName:" + graft.GraftSession.keyHashSuffix(canonical)
      case None =>
        s"sink:$structName:${java.util.UUID.randomUUID().toString.take(8)}"
    }

  /** Attach a TopK structure (created via `createTopK` or here) as a sink of
   * a streaming DataFrame. Each micro-batch runs the distributed sketch
   * aggregation and merges interval sketches into the driver-held state.
   *
   * `OPTIONS(path ...)` makes the structure DURABLE: a brand-new store
   * publishes its snapshot on creation, an existing one is re-attached
   * (resume semantics), and appends run the fenced
   * [[graft.GraftSession.appendToTopKForBatch]]. As with [[sampleSink]],
   * pass `checkpointLocation` for exactly-once across crash/resume — the
   * replay-fence key is stable only when the source offsets are durable;
   * without a checkpoint the key is unique per `start()` so a restarted
   * query (whose batch ids restart at 0 over a possibly different file
   * grouping) re-ingests instead of silently dropping early batches. */
  def topkSink(gs: GraftSession, topkName: String, stream: DataFrame,
      options: Map[String, String] = Map.empty,
      trigger: Trigger = Trigger.ProcessingTime(0L),
      checkpointLocation: Option[String] = None): StreamingQuery = {
    val spark = gs.spark
    val path = options.collectFirst {
      case (k, v) if k.equalsIgnoreCase("path") => v
    }
    def buildState(): graft.topk.TopKState = {
      val opts = graft.topk.TopKOptions.fromOptions(options,
        graft.GraftSession.sessionZone(spark))
      val keyField = stream.schema.find(_.name.equalsIgnoreCase(opts.key)).getOrElse(
        throw new IllegalArgumentException(s"key column ${opts.key} missing from stream"))
      val keyType = keyField.dataType match {
        case org.apache.spark.sql.types.StringType => org.apache.spark.sql.types.StringType
        case _ => org.apache.spark.sql.types.LongType
      }
      new graft.topk.TopKState(topkName, opts, keyType)
    }
    // CALLER HOLDS the path lock: publish this session's state as a fresh
    // store at p, refusing an occupied path — the existence check and the
    // publish must share ONE lock acquisition, or a store created by a
    // concurrent session in the check-to-save window is silently clobbered
    def publishFreshLocked(p: String,
        conf: org.apache.hadoop.conf.Configuration): Unit = {
      if (graft.GraftSession.topkMetaExists(p, conf)) {
        throw new IllegalArgumentException(
          s"TopK $topkName exists in-memory but $p already holds a " +
            "persisted TopK store; attach it in a fresh name or drop " +
            "one of the two — merging them implicitly would be lossy")
      }
      gs.topkState(topkName)
        .setSpillBase(s"$p/${graft.GraftSession.TopkSpillDir}")
      gs.saveTopK(topkName, p)
    }
    if (gs.state.topks.contains(topkName.toLowerCase)) {
      // the structure already lives in this session (e.g. createTopK
      // without a path): a caller-supplied path must not be SILENTLY
      // dropped — the appends below would take the non-durable in-memory
      // branch despite the caller requesting durability. Same registered
      // path: no-op. No registered path + fresh store: persist and
      // register it now (same publish createTopK's path branch does).
      // Anything else is drift — refuse loudly.
      path.foreach { p =>
        gs.state.topkPaths.get(topkName.toLowerCase) match {
          case Some(existing) if existing == p => // already durable here
          case Some(existing) => throw new IllegalArgumentException(
            s"TopK $topkName is already persisted at $existing; " +
              s"cannot re-home it to $p via topkSink")
          case None =>
            val conf = spark.sessionState.newHadoopConf()
            graft.GraftSession.withPathLock(spark, p)(publishFreshLocked(p, conf))
            // registered only after the publish succeeded — a failed save
            // must not leave the session pointing at a path with no store
            gs.state.topkPaths.put(topkName.toLowerCase, p)
        }
      }
    } else path match {
      case Some(p) =>
        // attach-vs-create decided and executed under ONE lock hold, like
        // the DDL path (CreateTopKTableCommand) — a store created by a
        // concurrent session after an unlocked existence check must be
        // attached, not re-created over that session's state
        val conf = spark.sessionState.newHadoopConf()
        graft.GraftSession.withPathLock(spark, p) {
          if (graft.GraftSession.topkMetaExists(p, conf)) {
            // resume: re-attach the persisted snapshot (options drift is
            // checked by the DDL path; the sink trusts the stored options;
            // attach registers topkPaths itself)
            gs.attachTopKTable(topkName, p)
          } else {
            gs.state.topks.put(topkName.toLowerCase, buildState())
            publishFreshLocked(p, conf)
          }
        }
        gs.state.topkPaths.put(topkName.toLowerCase, p)
      case None =>
        gs.state.topks.put(topkName.toLowerCase, buildState())
    }
    val streamKey = sinkFenceKey(topkName, checkpointLocation)
    val writer0 = stream.writeStream.outputMode("append").trigger(trigger)
    val writer = checkpointLocation
      .fold(writer0)(c => writer0.option("checkpointLocation", c))
    writer
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        gs.appendToTopKForBatch(topkName, batch,
          System.currentTimeMillis(), streamKey, batchId)
      }
      .start()
  }

  /**
   * Attach a streaming stratified-sample sink: each micro-batch is sampled
   * per stratum (weights encode that batch's stratum totals) and appended to
   * a parquet-backed sample table registered in the session catalog —
   * streaming equivalent of `CREATE SAMPLE TABLE s ON stream`
   * (`AQPStreamingSuite.scala:63-123`).
   *
   * Appends go through [[graft.GraftSession.appendToSampleForBatch]]: each
   * batch publishes under the path lock with a per-query replay fence.
   * Pass `checkpointLocation` to make the sink EXACTLY-ONCE across
   * crash/resume (the fence key is then stable, so a resumed query skips
   * batch ids its predecessor already published); without one a restart is
   * a NEW query whose batch ids restart at 0 over a possibly different
   * file grouping — a stable key would silently DROP its early batches, so
   * the fence key is unique per `start()` and restarts re-ingest (the
   * previous behavior, now explicit).
   */
  def sampleSink(gs: GraftSession, sampleName: String, baseName: String,
      stream: DataFrame, qcs: Seq[String], fraction: Double = 0.0,
      reservoirSize: Int = 50, path: String,
      trigger: Trigger = Trigger.ProcessingTime(0L),
      checkpointLocation: Option[String] = None): StreamingQuery = {
    val spark = gs.spark
    val streamKey = sinkFenceKey(sampleName, checkpointLocation)
    val writer0 = stream.writeStream.outputMode("append").trigger(trigger)
    val writer = checkpointLocation
      .fold(writer0)(c => writer0.option("checkpointLocation", c))
    writer
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          if (!gs.state.samples.contains(sampleName)) {
            // first sight in this session: create the path registry if the
            // store is brand new (under the lock — a concurrent sink to the
            // same path must not watch the meta appear mid-publish) and
            // register the sample so the ForBatch append can fence. A
            // RESUME over an existing store must sample under the STORED
            // parameters' contract: appending batches sampled under
            // drifted qcs/fraction into the same store would silently mix
            // two sampling designs, so drift is an error (same check the
            // DDL re-attach path applies to TopK options).
            graft.GraftSession.withPathLock(spark, path) {
              val conf = spark.sessionState.newHadoopConf()
              graft.GraftSession.readSampleMeta(path, conf) match {
                case None =>
                  graft.GraftSession.assertStoreFence(spark, path)
                  graft.GraftSession.writeSampleMeta(path, baseName, qcs,
                    fraction, reservoirSize, conf)
                case Some((_, storedQcs, storedFrac, storedRes)) =>
                  val drift = new scala.collection.mutable.ArrayBuffer[String]
                  if (storedQcs.map(_.toLowerCase) != qcs.map(_.toLowerCase))
                    drift += s"qcs ${qcs.mkString(",")} vs stored ${storedQcs.mkString(",")}"
                  if (storedFrac != fraction)
                    drift += s"fraction $fraction vs stored $storedFrac"
                  if (storedRes != reservoirSize)
                    drift += s"reservoirSize $reservoirSize vs stored $storedRes"
                  if (drift.nonEmpty) throw new IllegalArgumentException(
                    s"sampleSink($sampleName) resume over $path with drifted " +
                      s"options: ${drift.mkString("; ")}. Match the stored " +
                      "values or use a fresh path.")
              }
            }
            val existing =
              try spark.read.parquet(path)
              catch { case _: Exception => batch.limit(0) } // empty store
            gs.state.samples.put(sampleName, graft.SampleInfo(
              sampleName, baseName,
              // the registered "base" plan for query routing is whatever the
              // caller registered under baseName (batch view of the stream)
              spark.table(baseName).queryExecution.analyzed,
              existing, qcs, fraction, reservoirSize, Some(path)))
          } else {
            // the sample already lives in this session: the caller's path
            // must agree with where it actually persists — appending would
            // otherwise route on the REGISTERED state and silently send
            // this sink's data elsewhere (or, for an in-memory sample,
            // silently drop the durability the caller asked for). Same
            // refuse-loudly contract as topkSink's re-home check; an
            // in-memory sample isn't auto-persisted here because its
            // existing rows were sampled under a design this sink's
            // parameters may not match — drop it or use a fresh name.
            gs.state.samples(sampleName).persistPath match {
              case Some(existing) if existing == path => // durable here
              case Some(existing) => throw new IllegalArgumentException(
                s"sample $sampleName is already persisted at $existing; " +
                  s"cannot re-home it to $path via sampleSink")
              case None => throw new IllegalArgumentException(
                s"sample $sampleName exists in-memory in this session; " +
                  s"sampleSink(path=$path) would silently leave it " +
                  "non-durable — drop the in-memory sample or use a fresh name")
            }
          }
          gs.appendToSampleForBatch(sampleName, batch, streamKey, batchId,
            seed = 42L + batchId)
        }
        ()
      }
      .start()
  }
}
