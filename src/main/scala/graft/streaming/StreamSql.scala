package graft.streaming

import org.apache.spark.sql.Row
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.GraftSession

/** Definition of a SQL-declared stream table (`CREATE STREAM TABLE name
 * (schema) USING format OPTIONS(...)`). */
final case class StreamTableDef(
    name: String,
    format: String,
    schema: StructType,
    options: Map[String, String])

/**
 * SQL-declared streaming surface, the Structured-Streaming re-expression of
 * the reference's DStream DDL (`STREAMING INIT/START/STOP`,
 * `CREATE STREAM TABLE` — `SnappyContextAQPFunctions.scala:390-442`,
 * `AQPStreamingSuite.scala:63-123`):
 *
 *  - `CREATE STREAM TABLE` registers the source definition and an empty
 *    batch view with the declared schema, so dependent `CREATE SAMPLE/TOPK
 *    TABLE ... ON stream` DDL resolves before the stream starts;
 *  - `STREAMING START` launches one `foreachBatch` query per stream table.
 *    Each micro-batch (1) appends the raw rows to a parquet-backed history
 *    so `SELECT * FROM stream` sees all data so far, and (2) feeds every
 *    dependent sample/TopK structure — one pass over the batch per
 *    dependent, each a distributed aggregation (the reference's
 *    `aqpTablePopulator` did the same per-structure inserts from a DStream
 *    `foreachRDD`);
 *  - `STREAMING STOP` stops the queries; history and AQP structures stay
 *    queryable.
 *
 * Scale notes: give dependent samples a `path` option so batch appends go
 * to parquet rather than a growing in-memory union; TopK appends are
 * driver-bounded by the TopK guard. The history append is an append-only
 * parquet log, partitioned by the source's natural file batching.
 */
object StreamSql {

  /** Register the stream definition and its empty placeholder view. */
  def createStreamTable(gs: GraftSession, name: String, format: String,
      schemaDdl: Option[String], options: Map[String, String],
      ifNotExists: Boolean): Unit = {
    val spark = gs.spark
    if (gs.state.streams.contains(name.toLowerCase)) {
      if (ifNotExists) return
      throw new IllegalArgumentException(s"Stream table $name already exists")
    }
    val schema = schemaDdl.map(StructType.fromDDL).getOrElse {
      options.get("path") match {
        case Some(p) => spark.read.format(format).load(p).schema
        case None => throw new IllegalArgumentException(
          s"CREATE STREAM TABLE $name needs an explicit (schema) or a path " +
            "to infer one from")
      }
    }
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
      .createOrReplaceTempView(name)
    gs.state.streams.put(name.toLowerCase,
      StreamTableDef(name, format, schema, options))
  }

  def dropStreamTable(gs: GraftSession, name: String, ifExists: Boolean): Unit = {
    // dependent-object protection (reference `AQPStreamingSuite.scala:745-756`:
    // "tweetstable cannot be dropped because of dependent objects"): a TopK
    // or sample fed from this stream would silently stop populating — the
    // dependents must be dropped first
    if (gs.state.streams.contains(name.toLowerCase)) {
      val topkDeps = gs.state.topkBases.collect {
        case (tk, base) if base.equalsIgnoreCase(name) => tk
      }.toSeq
      val sampleDeps = gs.state.samples.values
        .filter(_.baseName.equalsIgnoreCase(name)).map(_.name).toSeq
      val deps = (topkDeps ++ sampleDeps).sorted
      if (deps.nonEmpty) throw new IllegalArgumentException(
        s"stream table $name cannot be dropped because of dependent objects: " +
          s"${deps.mkString(", ")}. Drop the dependents first.")
    }
    gs.state.activeStreams.remove(name.toLowerCase).foreach(_.stop())
    // drop this stream's in-memory replay fences: a same-name stream
    // recreated over a fresh query restarts batch ids at 0, and a stale
    // watermark would silently drop its early batches into any in-memory
    // sample it feeds (path-backed fences live in the store meta and are
    // deliberately durable)
    gs.state.streamSampleBatches.keys
      .filter(_._2 == name.toLowerCase)
      .foreach(gs.state.streamSampleBatches.remove)
    gs.state.streams.remove(name.toLowerCase) match {
      case Some(_) => gs.spark.catalog.dropTempView(name)
      case None if !ifExists =>
        throw new IllegalArgumentException(s"No stream table named $name")
      case None =>
    }
  }

  /** Start every registered stream table that is not already running. */
  def startAll(gs: GraftSession): Unit =
    gs.state.streams.values.foreach { d =>
      if (!gs.state.activeStreams.contains(d.name.toLowerCase)) {
        gs.state.activeStreams.put(d.name.toLowerCase,
          start(gs, d, gs.state.streamingBatchMs))
      }
    }

  def stopAll(gs: GraftSession): Unit = {
    gs.state.activeStreams.values.foreach(_.stop())
    gs.state.activeStreams.clear()
  }

  /** Build the streaming source frame for a declared stream table (shared
   * with [[StreamCq]] so CQs read the same source the populator does). */
  private[streaming] def sourceFor(
      spark: org.apache.spark.sql.SparkSession, d: StreamTableDef): DataFrame = {
    val reader = spark.readStream.format(d.format).schema(d.schema)
    d.options.get("path") match {
      case Some(p) => reader.options(d.options - "path" - "historypath").load(p)
      case None => reader.options(d.options - "historypath").load()
    }
  }

  private def start(gs: GraftSession, d: StreamTableDef,
      triggerMs: Long): StreamingQuery = {
    val spark = gs.spark
    val src = sourceFor(spark, d)
    val historyPath = d.options.getOrElse("historypath",
      s"${System.getProperty("java.io.tmpdir")}/graft_streams/${d.name}")
    src.writeStream
      .outputMode("append")
      // persistent checkpoint next to the history: STREAMING STOP → START
      // must RESUME the source offsets (the reference cycles INIT/START/STOP
      // repeatedly); a temp checkpoint would re-ingest every file into the
      // history and double-feed every dependent structure
      .option("checkpointLocation", s"${historyPath}_checkpoint")
      .trigger(Trigger.ProcessingTime(triggerMs))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) populate(gs, d, batch, batchId, historyPath)
        ()
      }
      .start()
  }

  /** One micro-batch: history append + dependent sample/TopK population.
   *
   * EXACTLY-ONCE across crash/resume: foreachBatch is at-least-once (a JVM
   * killed between this method and the source checkpoint's offset commit
   * replays the batch in the resumed query), so every persistent effect
   * here is idempotent per batch id —
   *  - the history write OVERWRITES a per-batch subdirectory instead of
   *    appending to a shared one (a replay rewrites the same directory);
   *  - path-backed samples/TopKs go through the ForBatch appends, which
   *    fence on a per-stream applied-batch watermark persisted atomically
   *    with the structure's own state ([[GraftSession.appendToTopKForBatch]],
   *    [[GraftSession.appendToSampleForBatch]]). */
  private def populate(gs: GraftSession, d: StreamTableDef, batch: DataFrame,
      batchId: Long, historyPath: String): Unit = {
    val spark = gs.spark
    batch.write.mode("overwrite")
      .parquet(s"$historyPath/__graft_batch=$batchId")
    spark.catalog.refreshByPath(historyPath)
    // project the inferred __graft_batch partition column back out: the
    // stream view's schema is the declared one
    val hist = spark.read.parquet(historyPath)
      .select(d.schema.fieldNames.toSeq.map(
        org.apache.spark.sql.functions.col): _*)
    hist.createOrReplaceTempView(d.name)
    val histPlan = hist.queryExecution.analyzed
    gs.state.samplesOn(d.name).foreach { s =>
      gs.appendToSampleForBatch(s.name, batch, d.name, batchId,
        seed = 43L + batchId)
      // re-point the routing plan at the refreshed history view so batch
      // queries over the stream table keep matching this sample
      gs.state.samples.get(s.name).foreach { cur =>
        gs.state.samples.put(s.name, cur.copy(basePlan = histPlan))
      }
    }
    gs.state.topkBases.foreach { case (tk, base) =>
      if (base.equalsIgnoreCase(d.name)) {
        gs.appendToTopKForBatch(tk, batch, System.currentTimeMillis(),
          d.name, batchId)
      }
    }
  }
}
