package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamSinks

class StreamingSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  test("topk sink accumulates micro-batches into the sketch") {
    val gs = new GraftSession(spark)
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val stream = mem.toDF().toDF("user_id", "event_type")

    val q = StreamSinks.topkSink(gs, "stream_tk", stream,
      Map("key" -> "event_type", "streamsummary" -> "true",
        "capacity" -> "10000", "size" -> "5"))
    mem.addData((1L, "click"), (2L, "click"), (3L, "view"))
    q.processAllAvailable()
    mem.addData((4L, "click"), (5L, "view"), (6L, "scroll"))
    q.processAllAvailable()
    q.stop()

    val top = gs.queryTopK("stream_tk", k = 3).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(top.toSeq === Seq(("click", 3L), ("view", 2L), ("scroll", 1L)))
  }

  test("sample sink: streaming stratified sample answers weighted queries") {
    val gs = new GraftSession(spark)
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_sample").toString
    val mem = MemoryStream[(Long, String, Double)]
    val stream = mem.toDF().toDF("id", "grp", "v")
    // register a batch view standing for the stream's full history
    val history = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Double)]

    val batch1 = (1L to 400L).map(i => (i, if (i % 2 == 0) "a" else "b", i.toDouble))
    val batch2 = (401L to 1000L).map(i => (i, if (i % 3 == 0) "a" else "b", i.toDouble))
    history ++= batch1 ++= batch2
    history.toSeq.toDF("id", "grp", "v").createOrReplaceTempView("stream_history")

    val q = StreamSinks.sampleSink(gs, "stream_sample", "stream_history", stream,
      qcs = Seq("grp"), fraction = 0.25, path = s"$dir/sample")
    mem.addData(batch1: _*)
    q.processAllAvailable()
    mem.addData(batch2: _*)
    q.processAllAvailable()
    q.stop()

    // the accumulated per-batch samples answer weighted queries over history
    val est = spark.table("stream_sample")
      .agg(graft.functions.weighted_count(col("id"))).collect()(0).getDouble(0)
    assert(math.abs(est - 1000.0) / 1000.0 < 0.05, s"estimated $est of 1000")

    // and the registered sample powers the WITH ERROR SQL path
    val viaSql = gs.sql(
      "SELECT count(*) AS c FROM stream_history WITH ERROR 0.5").collect()(0).getLong(0)
    assert(math.abs(viaSql - 1000.0) / 1000.0 < 0.05)
    gs.dropSampleTable("stream_sample")
  }

  test("sampleSink with a checkpoint resumes exactly-once; without one restarts re-ingest") {
    import org.apache.spark.sql.types._
    val gs = new GraftSession(spark)
    val root = java.nio.file.Files.createTempDirectory("graft_sink_eo").toString
    new java.io.File(s"$root/in").mkdirs()
    def addFile(n: Int, from: Long, count: Long): Unit = {
      val stage = java.nio.file.Files.createTempDirectory("graft_sink_stage")
      (from until from + count).map(i => (i, "g")).toDF("id", "grp")
        .coalesce(1).write.mode("overwrite").parquet(stage.toString)
      val part = new java.io.File(stage.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(root, "in", f"f$n%02d.parquet"))
    }
    (0 until 4).foreach(i => addFile(i, i * 10L, 10L))
    (1L to 40L).map(i => (i, "g")).toDF("id", "grp")
      .createOrReplaceTempView("sink_eo_base")
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("grp", StringType)))
    def start(ckpt: String = s"$root/ckpt") = StreamSinks.sampleSink(gs,
      "sink_eo_sample", "sink_eo_base",
      spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(s"$root/in"),
      qcs = Seq("grp"), fraction = 1.0, path = s"$root/sample",
      checkpointLocation = Some(ckpt))
    val q1 = start()
    q1.processAllAvailable(); q1.stop()
    assert(spark.read.parquet(s"$root/sample").count() === 40L)
    // resume from the checkpoint in a NEW query: committed batches are not
    // re-ingested (source offsets) and the fence key is stable, so only
    // the two new files land — every input row exactly once. The resume
    // RESPELLS the checkpoint (trailing slash): Spark resolves it to the
    // same query, and the fence key must too (it hashes the normalized
    // path, not the raw string)
    (4 until 6).foreach(i => addFile(i, 100L + i * 10L, 10L))
    gs.state.samples.remove("sink_eo_sample") // fresh-session registration path
    val q2 = start(s"$root/ckpt/")
    q2.processAllAvailable(); q2.stop()
    val rows = spark.read.parquet(s"$root/sample")
    assert(rows.count() === 60L, "resume must add only the new files' rows")
    assert(rows.select("id").distinct().count() === 60L,
      "no row may be ingested twice across the resume")
    gs.dropSampleTable("sink_eo_sample")
  }

  test("topkSink with path + checkpoint resumes exactly-once into the snapshot") {
    import org.apache.spark.sql.types._
    val gs = new GraftSession(spark)
    val root = java.nio.file.Files.createTempDirectory("graft_tks_eo").toString
    new java.io.File(s"$root/in").mkdirs()
    def addFile(n: Int, key: String, count: Int): Unit = {
      val stage = java.nio.file.Files.createTempDirectory("graft_tks_stage")
      Seq.fill(count)(key).toDF("event_type")
        .coalesce(1).write.mode("overwrite").parquet(stage.toString)
      val part = new java.io.File(stage.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(root, "in", f"f$n%02d.parquet"))
    }
    (0 until 3).foreach(i => addFile(i, "alpha", 10))
    val schema = StructType(Seq(StructField("event_type", StringType)))
    def start() = StreamSinks.topkSink(gs, "tks_eo",
      spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(s"$root/in"),
      Map("key" -> "event_type", "streamsummary" -> "true",
        "capacity" -> "10000", "size" -> "3", "path" -> s"$root/topk"),
      checkpointLocation = Some(s"$root/ckpt"))
    val q1 = start()
    q1.processAllAvailable(); q1.stop()
    assert(gs.queryFrequency("tks_eo", "alpha").map(_._2) === Some(30L))
    // resume in a fresh-session registration: the persisted snapshot is
    // re-attached, committed batches are not re-ingested, and only the new
    // file lands — counts are exact across the restart
    addFile(3, "alpha", 7)
    GraftState.of(spark).topks.remove("tks_eo")
    GraftState.of(spark).topkPaths.remove("tks_eo")
    val q2 = start()
    q2.processAllAvailable(); q2.stop()
    assert(gs.queryFrequency("tks_eo", "alpha").map(_._2) === Some(37L),
      "resume must add exactly the new file's rows")
  }

  test("windowedTopK: watermarked windowed sketch agg, fully distributed") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String)]
    val stream = mem.toDF().toDF("ts", "event_type")

    val out = graft.streaming.StreamOps.windowedTopK(
      stream, keyCol = "event_type", tsCol = "ts",
      windowDuration = "1 minute", watermarkDelay = "0 seconds", k = 3)
    val q = out.writeStream.format("memory").queryName("wtk")
      .outputMode("append").start()

    def t(min: Int, sec: Int) =
      java.sql.Timestamp.valueOf(f"2024-01-01 10:$min%02d:$sec%02d")
    // window 10:00: click x3, view x1 — window 10:01: view x2
    mem.addData((t(0, 5), "click"), (t(0, 10), "click"), (t(0, 20), "view"),
      (t(0, 40), "click"), (t(1, 10), "view"), (t(1, 20), "view"))
    q.processAllAvailable()
    // advance the watermark past both windows so append mode emits them
    mem.addData((t(30, 0), "late_marker"))
    q.processAllAvailable()
    q.stop()

    val rows = spark.table("wtk")
      .select(col("window_start"), col("event_type"), col("estimated_value"))
      .collect()
      .map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2)))
      .toSet
    assert(rows.contains(("2024-01-01 10:00:00.0", "click", 3L)))
    assert(rows.contains(("2024-01-01 10:00:00.0", "view", 1L)))
    assert(rows.contains(("2024-01-01 10:01:00.0", "view", 2L)))
  }

  test("windowedTopK: events behind the watermark are dropped, not misattributed") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String)]
    val stream = mem.toDF().toDF("ts", "event_type")
    val out = graft.streaming.StreamOps.windowedTopK(
      stream, keyCol = "event_type", tsCol = "ts",
      windowDuration = "1 minute", watermarkDelay = "0 seconds", k = 5)
    val q = out.writeStream.format("memory").queryName("wtk_late")
      .outputMode("append").start()
    def t(min: Int, sec: Int) =
      java.sql.Timestamp.valueOf(f"2024-01-01 10:$min%02d:$sec%02d")
    mem.addData((t(0, 5), "click"), (t(0, 10), "click"))
    q.processAllAvailable()
    // advance watermark far past window 10:00 (closes + emits it)
    mem.addData((t(30, 0), "marker"))
    q.processAllAvailable()
    // a LATE click for the already-closed 10:00 window: 0-second delay
    // watermark semantics say it must be dropped
    mem.addData((t(0, 50), "click"))
    q.processAllAvailable()
    mem.addData((t(60, 0), "marker2"))
    q.processAllAvailable()
    q.stop()
    val clicks = spark.table("wtk_late")
      .filter(col("event_type") === "click")
      .select(col("window_start"), col("event_type"), col("estimated_value"))
      .collect()
      .map(r => (r.getTimestamp(0).toString, r.getLong(2)))
    assert(clicks.toSeq === Seq(("2024-01-01 10:00:00.0", 2L)),
      s"late event leaked: ${clicks.toSeq}") // not 3, and no duplicate window
  }

  test("runningCounts: flatMapGroupsWithState accumulates across batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val stream = mem.toDF().toDF("k")

    val out = graft.streaming.StreamOps.runningCounts(stream, "k")
    val q = out.writeStream.format("memory").queryName("rc")
      .outputMode("update").start()
    mem.addData("a", "a", "b")
    q.processAllAvailable()
    mem.addData("a", "b", "c")
    q.processAllAvailable()
    q.stop()

    // last update per key wins
    val last = spark.table("rc").collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).max }
    assert(last === Map("a" -> 3L, "b" -> 2L, "c" -> 1L))
  }

  test("SQL-declared stream populates dependent sample and TopK per batch") {
    // the reference's DDL flow (AQPStreamingSuite): STREAMING INIT, CREATE
    // STREAM TABLE, dependent sample/TopK DDL, STREAMING START — dependents
    // auto-populate per micro-batch and are queryable mid-stream
    val gs = new GraftSession(spark)
    val srcDir = java.nio.file.Files.createTempDirectory("graft_sql_stream").toString
    val histDir = srcDir + "/history"
    def writeFile(rows: Seq[(Long, String, Double)]): Unit =
      rows.toDF("user_id", "event_type", "value")
        .coalesce(1).write.mode("append").parquet(s"$srcDir/in")
    val batch1 = (1L to 300L).map(i =>
      (i % 7, if (i % 3 == 0) "click" else "view", i.toDouble))
    writeFile(batch1)

    gs.sql("STREAMING INIT 0 MS")
    gs.sql("CREATE STREAM TABLE ev_sql_stream " +
      "(user_id long, event_type string, value double) USING parquet " +
      s"OPTIONS(path '$srcDir/in', historypath '$histDir', maxFilesPerTrigger '1')")
    gs.sql("CREATE SAMPLE TABLE ev_sql_stream_sample ON ev_sql_stream " +
      "OPTIONS(qcs 'event_type', fraction '1.0')")
    gs.sql("CREATE TOPK TABLE ev_sql_stream_topk ON ev_sql_stream " +
      "OPTIONS(key 'user_id', streamSummary 'true', capacity '100000', size '3')")
    gs.sql("STREAMING START")
    try {
      val q = gs.state.activeStreams("ev_sql_stream")
      q.processAllAvailable()

      def exactSums: Map[String, Double] = spark.table("ev_sql_stream")
        .groupBy(col("event_type")).agg(sum(col("value")).as("s"))
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      def sampledSums: (Map[String, Double], String) = {
        val df = gs.sql("SELECT event_type, round(sum(value), 4) AS s " +
          "FROM ev_sql_stream GROUP BY 1 WITH ERROR 0.9")
        (df.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap,
          df.queryExecution.analyzed.treeString)
      }
      // mid-stream after batch 1: the weighted query routes through the
      // sample (full fraction → exact)
      val (got1, plan1) = sampledSums
      assert(plan1.contains("mapcolumntoweight"), "query did not route via sample")
      assert(got1 === exactSums)
      val top1 = gs.queryTopK("ev_sql_stream_topk", k = 3).collect()
      assert(top1.length === 3)

      // second file: dependents must advance with the stream
      writeFile((301L to 700L).map(i =>
        (i % 5, if (i % 2 == 0) "click" else "scroll", i.toDouble)))
      q.processAllAvailable()
      val (got2, _) = sampledSums
      assert(got2 === exactSums)
      assert(got2.keySet === Set("click", "view", "scroll"))
      assert(spark.table("ev_sql_stream").count() === 700)
      // TopK reflects both batches: exact regime (capacity ≥ distinct keys)
      val want = spark.table("ev_sql_stream")
        .groupBy(col("user_id")).count()
        .collect().map(r => (r.getLong(0), r.getLong(1)))
        .sortBy { case (k, c) => (-c, k) }.take(3).toSeq
      val top2 = gs.queryTopK("ev_sql_stream_topk", k = 3).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(top2 === want)

      // STREAMING STOP → START must resume offsets, not re-ingest (the
      // reference cycles INIT/START/STOP; a temp checkpoint would double
      // the history and double-feed every dependent)
      gs.sql("STREAMING STOP")
      gs.sql("STREAMING START")
      val q2 = gs.state.activeStreams("ev_sql_stream")
      q2.processAllAvailable()
      assert(spark.table("ev_sql_stream").count() === 700,
        "restart re-ingested already-processed files")
      writeFile((701L to 800L).map(i => (i % 5, "view", i.toDouble)))
      q2.processAllAvailable()
      assert(spark.table("ev_sql_stream").count() === 800)
    } finally {
      gs.sql("STREAMING STOP")
      gs.sql("DROP SAMPLE TABLE IF EXISTS ev_sql_stream_sample")
      gs.sql("DROP TOPK TABLE IF EXISTS ev_sql_stream_topk")
      gs.sql("DROP STREAM TABLE IF EXISTS ev_sql_stream")
    }
    assert(gs.state.activeStreams.isEmpty)
  }

  test("two concurrent stream tables, each with its own dependents (SNAP-467 shape)") {
    // reference AQPStreamingSuite "SNAP-467": two CREATE STREAM TABLEs, a
    // TopK on one, STREAMING START/STOP cycled with re-INIT — both streams
    // ingest concurrently and each feeds only its own dependents
    val gs = new GraftSession(spark)
    val dir = java.nio.file.Files.createTempDirectory("graft_two_streams").toString
    def write(sub: String, rows: Seq[(Long, String, Double)]): Unit =
      rows.toDF("user_id", "event_type", "value")
        .coalesce(1).write.mode("append").parquet(s"$dir/$sub")
    write("a", (1L to 200L).map(i => (i % 5, "click", i.toDouble)))
    write("b", (1L to 100L).map(i => (i % 3, "view", i * 2.0)))

    gs.sql("STREAMING INIT 0 MS")
    gs.sql("CREATE STREAM TABLE ev_two_a (user_id long, event_type string, value double) " +
      s"USING parquet OPTIONS(path '$dir/a', historypath '$dir/hist_a')")
    gs.sql("CREATE STREAM TABLE ev_two_b (user_id long, event_type string, value double) " +
      s"USING parquet OPTIONS(path '$dir/b', historypath '$dir/hist_b')")
    gs.sql("CREATE SAMPLE TABLE ev_two_a_sample ON ev_two_a " +
      "OPTIONS(qcs 'user_id', fraction '1.0')")
    gs.sql("CREATE TOPK TABLE ev_two_b_topk ON ev_two_b " +
      "OPTIONS(key 'user_id', streamSummary 'true', capacity '1000', size '3')")
    gs.sql("STREAMING START")
    try {
      assert(gs.state.activeStreams.size === 2, "START must launch every stream")
      gs.state.activeStreams.values.foreach(_.processAllAvailable())
      // stream A's sample answers weighted queries over A only
      val est = gs.sql("SELECT round(sum(value), 4) AS s FROM ev_two_a WITH ERROR 0.9")
        .collect()(0).getDouble(0)
      assert(est === (1L to 200L).map(_.toDouble).sum)
      // stream B's TopK saw only B's keys
      val top = gs.queryTopK("ev_two_b_topk", k = 3).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      val want = spark.table("ev_two_b").groupBy(col("user_id")).count()
        .collect().map(r => (r.getLong(0), r.getLong(1)))
        .sortBy { case (k, c) => (-c, k) }.take(3).toSeq
      assert(top === want)
      assert(spark.table("ev_two_a").count() === 200)
      assert(spark.table("ev_two_b").count() === 100)

      // the reference cycle: STOP, re-INIT, START — both resume, no re-ingest
      gs.sql("STREAMING STOP")
      gs.sql("STREAMING INIT 0 MS")
      gs.sql("STREAMING START")
      gs.state.activeStreams.values.foreach(_.processAllAvailable())
      assert(spark.table("ev_two_a").count() === 200)
      write("b", (101L to 150L).map(i => (i % 3, "view", i * 2.0)))
      gs.state.activeStreams.values.foreach(_.processAllAvailable())
      assert(spark.table("ev_two_b").count() === 150)
      assert(spark.table("ev_two_a").count() === 200,
        "stream B's files must not leak into stream A")
    } finally {
      gs.sql("STREAMING STOP")
      gs.sql("DROP SAMPLE TABLE IF EXISTS ev_two_a_sample")
      gs.sql("DROP TOPK TABLE IF EXISTS ev_two_b_topk")
      gs.sql("DROP STREAM TABLE IF EXISTS ev_two_a")
      gs.sql("DROP STREAM TABLE IF EXISTS ev_two_b")
    }
  }

  test("registerCQ tumbling window: every row lands in exactly one firing") {
    // reference `registerCQ("SELECT * FROM t window (duration 2 seconds,
    // slide 2 seconds)")` + foreachDataFrame — duration == slide is the
    // tumbling shape the reference suite uses throughout
    val gs = new GraftSession(spark)
    val dir = java.nio.file.Files.createTempDirectory("graft_cq_tumble").toString
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dir/in"))
    def write(rows: Seq[(Long, String, Double)]): Unit =
      rows.toDF("user_id", "event_type", "value")
        .coalesce(1).write.mode("append").parquet(s"$dir/in")
    gs.sql("CREATE STREAM TABLE ev_cq_t (user_id long, event_type string, value double) " +
      s"USING parquet OPTIONS(path '$dir/in', maxFilesPerTrigger '1')")
    try {
      val perWindow = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Long]]()
      val cq = gs.registerCQ(
        "SELECT event_type, count(*) AS c FROM ev_cq_t WINDOW (DURATION 1 SECONDS) " +
          "GROUP BY event_type")
      val q = cq.foreachWindow { (df, _) =>
        perWindow.add(df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap)
        ()
      }
      try {
        write((1L to 60L).map(i => (i, if (i % 2 == 0) "click" else "view", i.toDouble)))
        q.processAllAvailable()
        write((61L to 100L).map(i => (i, "scroll", i.toDouble)))
        q.processAllAvailable()
        // each firing aggregates its own window only; summing the firings
        // must reproduce the full exact counts (exactly-once tumbling)
        import scala.jdk.CollectionConverters._
        val total = perWindow.asScala.toSeq.flatten
          .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sum }
        assert(total === Map("click" -> 30L, "view" -> 30L, "scroll" -> 40L))
      } finally q.stop()
    } finally gs.sql("DROP STREAM TABLE IF EXISTS ev_cq_t")
  }

  test("registerCQ sliding window: duration 2×slide overlaps adjacent firings") {
    val gs = new GraftSession(spark)
    val dir = java.nio.file.Files.createTempDirectory("graft_cq_slide").toString
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dir/in"))
    def write(rows: Seq[Long]): Unit =
      rows.toDF("user_id").coalesce(1).write.mode("append").parquet(s"$dir/in")
    gs.sql("CREATE STREAM TABLE ev_cq_s (user_id long) " +
      s"USING parquet OPTIONS(path '$dir/in', maxFilesPerTrigger '1')")
    try {
      val windows = new java.util.concurrent.ConcurrentLinkedQueue[Set[Long]]()
      val cq = gs.registerCQ(
        "SELECT user_id FROM ev_cq_s WINDOW (DURATION 2 SECONDS, SLIDE 1 SECONDS)")
      val q = cq.foreachWindow { (df, _) =>
        windows.add(df.collect().map(_.getLong(0)).toSet); ()
      }
      try {
        // one file per processAllAvailable → deterministic single-file batches
        write(1L to 10L); q.processAllAvailable()
        write(11L to 20L); q.processAllAvailable()
        write(21L to 30L); q.processAllAvailable()
        import scala.jdk.CollectionConverters._
        val ws = windows.asScala.toSeq
        assert(ws === Seq(
          (1L to 10L).toSet,            // w1 = f1
          (1L to 20L).toSet,            // w2 = f1 ∪ f2
          (11L to 30L).toSet),          // w3 = f2 ∪ f3 (f1 evicted)
          s"sliding frames wrong: $ws")
      } finally q.stop()
    } finally gs.sql("DROP STREAM TABLE IF EXISTS ev_cq_s")
  }

  test("registerCQ saveTo: CQ feeds a sample table (saveStream parity)") {
    // reference "sql stream sampling": registerCQ over the stream, then
    // saveStream(stream, Seq(sample)) — the sample answers weighted queries
    // over everything the CQ has delivered
    val gs = new GraftSession(spark)
    val dir = java.nio.file.Files.createTempDirectory("graft_cq_save").toString
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dir/in"))
    def write(rows: Seq[(Long, String, Double)]): Unit =
      rows.toDF("user_id", "event_type", "value")
        .coalesce(1).write.mode("append").parquet(s"$dir/in")
    gs.sql("CREATE STREAM TABLE ev_cq_sv (user_id long, event_type string, value double) " +
      s"USING parquet OPTIONS(path '$dir/in')")
    gs.sql("CREATE SAMPLE TABLE ev_cq_sv_sample " +
      "(user_id long, event_type string, value double) " +
      "OPTIONS(qcs 'event_type', fraction '1.0')")
    try {
      val q = gs.registerCQ(
        "SELECT * FROM ev_cq_sv WINDOW (DURATION 1 SECONDS)")
        .saveTo("ev_cq_sv_sample")
      try {
        write((1L to 80L).map(i => (i, if (i % 4 == 0) "click" else "view", i.toDouble)))
        q.processAllAvailable()
        write((81L to 120L).map(i => (i, "click", i.toDouble)))
        q.processAllAvailable()
        val est = spark.table("ev_cq_sv_sample")
          .agg(graft.functions.weighted_count(col("user_id")))
          .collect()(0).getDouble(0)
        assert(est === 120.0, s"sample estimates $est of 120 streamed rows")
      } finally q.stop()
    } finally {
      gs.sql("DROP SAMPLE TABLE IF EXISTS ev_cq_sv_sample")
      gs.sql("DROP STREAM TABLE IF EXISTS ev_cq_sv")
    }
  }

  test("SNAP-249 shape: frequencyCol-weighted stream TopK; DROP of the stream is fenced") {
    // reference `AQPStreamingSuite.scala:297-343` (frequencyCol 'retweets'
    // on a stream-fed TopK) + :745-756 (the stream table "cannot be
    // dropped because of dependent objects")
    val gs = new GraftSession(spark)
    val srcDir = java.nio.file.Files.createTempDirectory("graft_freq_stream").toString
    (1L to 200L).map(i => (s"tag${i % 6}", (i % 10) + 1L))
      .toDF("hashtag", "retweets")
      .coalesce(1).write.mode("append").parquet(s"$srcDir/in")
    gs.sql("STREAMING INIT 0 MS")
    gs.sql("CREATE STREAM TABLE tweet_stream (hashtag string, retweets long) " +
      s"USING parquet OPTIONS(path '$srcDir/in', historypath '$srcDir/hist')")
    gs.sql("CREATE TOPK TABLE tweet_topk ON tweet_stream OPTIONS(" +
      "key 'hashtag', frequencyCol 'retweets', streamSummary 'true', " +
      "capacity '100000', size '6')")
    gs.sql("STREAMING START")
    try {
      gs.state.activeStreams("tweet_stream").processAllAvailable()
      // frequency-weighted counts: each row contributes its retweets
      val want = spark.table("tweet_stream")
        .groupBy(col("hashtag")).agg(sum(col("retweets")).as("s"))
        .collect().map(r => r.getString(0) -> r.getLong(1))
        .sortBy { case (k, c) => (-c, k) }.toSeq
      val got = gs.queryTopK("tweet_topk", k = 6).collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(got === want, "frequencyCol must weight stream ingestion")
      // the stream table cannot be dropped while the TopK depends on it
      val e = intercept[IllegalArgumentException] {
        gs.sql("DROP STREAM TABLE tweet_stream")
      }
      assert(e.getMessage.contains("dependent objects"))
      assert(e.getMessage.contains("tweet_topk"))
      assert(gs.state.streams.contains("tweet_stream"),
        "failed DROP must leave the stream table registered")
      // a dependent SAMPLE fences the drop too
      gs.sql("CREATE SAMPLE TABLE tweet_sample ON tweet_stream OPTIONS(" +
        "qcs 'hashtag', fraction '1.0')")
      val e2 = intercept[IllegalArgumentException] {
        gs.sql("DROP STREAM TABLE tweet_stream")
      }
      assert(e2.getMessage.contains("tweet_sample"))
      // dropping the dependents unlocks the stream table
      gs.sql("DROP TOPK TABLE tweet_topk")
      gs.sql("DROP SAMPLE TABLE tweet_sample")
      gs.sql("DROP STREAM TABLE tweet_stream")
      assert(!gs.state.streams.contains("tweet_stream"))
    } finally {
      gs.sql("STREAMING STOP")
      gs.sql("DROP SAMPLE TABLE IF EXISTS tweet_sample")
      gs.sql("DROP TOPK TABLE IF EXISTS tweet_topk")
      gs.sql("DROP STREAM TABLE IF EXISTS tweet_stream")
    }
  }

  test("ForBatch appends fence replayed batch ids per stream (exactly-once)") {
    // foreachBatch is at-least-once: a crash between dependent population
    // and the checkpoint's offset commit replays the batch on resume. The
    // ForBatch appends must apply each (stream, batchId) at most once —
    // deterministic pin of the fence the crash-resume fuzz exercises
    // randomly (CrossJvmConcurrencySpec).
    val gs = new GraftSession(spark)
    val root = java.nio.file.Files.createTempDirectory("graft_fb").toString
    Seq("k1", "k2").toDF("event_type").createOrReplaceTempView("fb_base")
    gs.sql("CREATE SAMPLE TABLE fb_sample ON fb_base OPTIONS(" +
      s"qcs 'event_type', fraction '1.0', path '$root/sample')")
    gs.sql("CREATE TOPK TABLE fb_topk ON fb_base OPTIONS(" +
      "key 'event_type', streamSummary 'true', capacity '10000', " +
      s"size '3', path '$root/topk')")
    val createRows = spark.read.parquet(s"$root/sample").count()

    val batch = Seq.fill(10)("k1").toDF("event_type")
    // first application lands, REPLAY of the same batch id is skipped
    gs.appendToSampleForBatch("fb_sample", batch, "fb_stream", 0L)
    gs.appendToSampleForBatch("fb_sample", batch, "fb_stream", 0L)
    gs.appendToTopKForBatch("fb_topk", batch, 1000L, "fb_stream", 0L)
    gs.appendToTopKForBatch("fb_topk", batch, 1000L, "fb_stream", 0L)
    assert(spark.read.parquet(s"$root/sample").count() === createRows + 10,
      "a replayed sample batch must not double-append")
    assert(gs.queryFrequency("fb_topk", "k1").map(_._2) === Some(11L),
      "a replayed TopK batch must not double-count") // 1 from create + 10
    // a NEW batch id advances; an OLD one (late replay) is still fenced
    gs.appendToSampleForBatch("fb_sample", batch, "fb_stream", 1L)
    gs.appendToTopKForBatch("fb_topk", batch, 2000L, "fb_stream", 1L)
    gs.appendToSampleForBatch("fb_sample", batch, "fb_stream", 0L)
    gs.appendToTopKForBatch("fb_topk", batch, 1000L, "fb_stream", 0L)
    assert(spark.read.parquet(s"$root/sample").count() === createRows + 20)
    assert(gs.queryFrequency("fb_topk", "k1").map(_._2) === Some(21L))
    // a DIFFERENT stream feeding the same structure has its own watermark
    gs.appendToTopKForBatch("fb_topk", batch, 3000L, "fb_other", 0L)
    assert(gs.queryFrequency("fb_topk", "k1").map(_._2) === Some(31L))
    gs.appendToSampleForBatch("fb_sample", batch, "fb_other", 0L)
    assert(spark.read.parquet(s"$root/sample").count() === createRows + 30,
      "another stream's batch 0 must not be fenced by fb_stream's watermark")
    // the watermark lives in the meta under the stream's own key
    val conf = spark.sessionState.newHadoopConf()
    assert(GraftSession.readSampleMetaProp(s"$root/sample",
      "__streambatch.fb_stream", conf) === Some("1"))
    // and the fences survive a fresh attach (persisted with the state):
    // a resumed JVM replaying the last committed batch must skip it
    val s2 = spark.newSession()
    val g2 = GraftSession(s2)
    import s2.implicits._
    Seq("k1", "k2").toDF("event_type").createOrReplaceTempView("fb_base")
    g2.attachTopKTable("fb_topk2", s"$root/topk")
    g2.appendToTopKForBatch("fb_topk2", batch, 1000L, "fb_stream", 1L)
    assert(g2.queryFrequency("fb_topk2", "k1").map(_._2) === Some(31L),
      "the TopK watermark must survive the snapshot round-trip")
    g2.attachSampleTable("fb_sample2", s"$root/sample")
    g2.appendToSampleForBatch("fb_sample2", batch, "fb_stream", 1L)
    assert(s2.read.parquet(s"$root/sample").count() === createRows + 30,
      "the sample watermark must survive the meta round-trip")
    // the resumed stream's NEXT batch applies after the re-attach
    g2.appendToTopKForBatch("fb_topk2", batch, 4000L, "fb_stream", 2L)
    assert(g2.queryFrequency("fb_topk2", "k1").map(_._2) === Some(41L))
    g2.appendToSampleForBatch("fb_sample2", batch, "fb_stream", 2L)
    assert(s2.read.parquet(s"$root/sample").count() === createRows + 40)
    assert(GraftSession.readSampleMetaProp(s"$root/sample",
      "__streambatch.fb_stream", conf) === Some("2"))
    // IN-MEMORY samples fence too (session-level watermark): a same-JVM
    // STOP->START replays the last uncommitted batch and must not
    // double-append
    gs.sql("CREATE SAMPLE TABLE fb_mem ON fb_base OPTIONS(" +
      "qcs 'event_type', fraction '1.0')")
    val mem0 = spark.table("fb_mem").count()
    gs.appendToSampleForBatch("fb_mem", batch, "fb_stream", 0L)
    gs.appendToSampleForBatch("fb_mem", batch, "fb_stream", 0L)
    assert(spark.table("fb_mem").count() === mem0 + 10,
      "a replayed in-memory sample batch must not double-append")
    gs.appendToSampleForBatch("fb_mem", batch, "fb_stream", 1L)
    assert(spark.table("fb_mem").count() === mem0 + 20)
  }

  test("dropping a sample (or its stream) clears the in-memory replay fence") {
    // a same-name sample recreated over a FRESH query (batch ids restart at
    // 0) must not inherit the dropped sample's watermark and silently drop
    // its early batches
    val gs = new GraftSession(spark)
    Seq("k1", "k2").toDF("event_type").createOrReplaceTempView("fence_base")
    val batch = Seq.fill(10)("k1").toDF("event_type")
    gs.sql("CREATE SAMPLE TABLE fence_mem ON fence_base OPTIONS(" +
      "qcs 'event_type', fraction '1.0')")
    gs.appendToSampleForBatch("fence_mem", batch, "fence_stream", 5L)
    gs.sql("DROP SAMPLE TABLE fence_mem")
    gs.sql("CREATE SAMPLE TABLE fence_mem ON fence_base OPTIONS(" +
      "qcs 'event_type', fraction '1.0')")
    val base = spark.table("fence_mem").count()
    gs.appendToSampleForBatch("fence_mem", batch, "fence_stream", 0L)
    assert(spark.table("fence_mem").count() === base + 10,
      "recreated sample must accept batch 0 of its new query")
    gs.sql("DROP SAMPLE TABLE fence_mem")
    // stream drop clears fences keyed by the stream name too
    gs.state.streamSampleBatches.put(("s_any", "fence_stream2"), 7L)
    gs.sql("CREATE STREAM TABLE fence_stream2 (event_type string) USING parquet " +
      s"OPTIONS(path '${java.nio.file.Files.createTempDirectory("graft_fs2")}')")
    gs.sql("DROP STREAM TABLE fence_stream2")
    assert(!gs.state.streamSampleBatches.contains(("s_any", "fence_stream2")),
      "stream drop must clear its replay fences")
  }

  test("two streams whose sanitized names collide publish into one sample safely") {
    // 'a.b' and 'a_b' both sanitize to a_b: before the hash disambiguator,
    // one stream's replayed batch deleted the OTHER stream's published
    // files for the same batch id
    val gs = new GraftSession(spark)
    val root = java.nio.file.Files.createTempDirectory("graft_collide").toString
    Seq("k1").toDF("event_type").createOrReplaceTempView("collide_base")
    gs.sql("CREATE SAMPLE TABLE collide_sample ON collide_base OPTIONS(" +
      s"qcs 'event_type', fraction '1.0', path '$root/sample')")
    val createRows = spark.read.parquet(s"$root/sample").count()
    val b1 = Seq.fill(10)("s1").toDF("event_type")
    val b2 = Seq.fill(7)("s2").toDF("event_type")
    gs.appendToSampleForBatch("collide_sample", b1, "a.b", 0L)
    // a REPLAY of the colliding stream's batch 0 (its watermark is
    // independent) must not delete a.b's published files
    gs.appendToSampleForBatch("collide_sample", b2, "a_b", 0L)
    gs.appendToSampleForBatch("collide_sample", b2, "a_b", 0L)
    val rows = spark.read.parquet(s"$root/sample")
    assert(rows.count() === createRows + 17,
      "colliding sanitized stream names must not delete each other's batches")
    assert(rows.filter(col("event_type") === "s1").count() === 10)
    assert(rows.filter(col("event_type") === "s2").count() === 7)
    gs.sql("DROP SAMPLE TABLE collide_sample")
  }

  test("topkSink with path on an existing in-memory TopK persists it (no silent drop)") {
    implicit val sqlCtx = spark.sqlContext
    val gs = new GraftSession(spark)
    val root = java.nio.file.Files.createTempDirectory("graft_tks_home").toString
    Seq("alpha", "alpha", "beta").toDF("event_type")
      .createOrReplaceTempView("tks_home_base")
    gs.createTopK("tks_home", "tks_home_base",
      Map("key" -> "event_type", "streamsummary" -> "true",
        "capacity" -> "10000", "size" -> "3")) // NO path: in-memory
    val mem = MemoryStream[String]
    val stream = mem.toDF().toDF("event_type")
    val q = StreamSinks.topkSink(gs, "tks_home", stream,
      Map("key" -> "event_type", "streamsummary" -> "true",
        "capacity" -> "10000", "size" -> "3", "path" -> s"$root/topk"))
    try {
      mem.addData("alpha", "gamma")
      q.processAllAvailable()
    } finally q.stop()
    assert(gs.queryFrequency("tks_home", "alpha").map(_._2) === Some(3L))
    // the store is genuinely durable: a fresh session re-attaches it
    val s2 = spark.newSession()
    val g2 = GraftSession(s2)
    g2.attachTopKTable("tks_home2", s"$root/topk")
    assert(g2.queryFrequency("tks_home2", "alpha").map(_._2) === Some(3L),
      "path given to topkSink must make the existing TopK durable")
    // drift is refused loudly, not silently dropped
    val e = intercept[IllegalArgumentException] {
      StreamSinks.topkSink(gs, "tks_home", stream,
        Map("key" -> "event_type", "path" -> s"$root/elsewhere"))
    }
    assert(e.getMessage.contains("re-home"))
    // an in-memory TopK cannot be pointed at a path that already holds a store
    gs.createTopK("tks_other", "tks_home_base",
      Map("key" -> "event_type", "streamsummary" -> "true",
        "capacity" -> "10000", "size" -> "3"))
    val e2 = intercept[IllegalArgumentException] {
      StreamSinks.topkSink(gs, "tks_other", stream,
        Map("key" -> "event_type", "path" -> s"$root/topk"))
    }
    assert(e2.getMessage.contains("already holds"))
  }

  test("sampleSink resume with drifted options is an error, not silent mixing") {
    import org.apache.spark.sql.types._
    val gs = new GraftSession(spark)
    val root = java.nio.file.Files.createTempDirectory("graft_sink_drift").toString
    new java.io.File(s"$root/in").mkdirs()
    (1L to 20L).map(i => (i, "g")).toDF("id", "grp")
      .coalesce(1).write.mode("append").parquet(s"$root/in")
    (1L to 20L).map(i => (i, "g")).toDF("id", "grp")
      .createOrReplaceTempView("drift_base")
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("grp", StringType)))
    def start(fraction: Double) = StreamSinks.sampleSink(gs,
      "drift_sample", "drift_base",
      spark.readStream.schema(schema).parquet(s"$root/in"),
      qcs = Seq("grp"), fraction = fraction, path = s"$root/sample",
      checkpointLocation = Some(s"$root/ckpt"))
    val q1 = start(1.0)
    q1.processAllAvailable(); q1.stop()
    assert(spark.read.parquet(s"$root/sample").count() === 20L)
    // resume with a different fraction: batches sampled under a drifted
    // design must not mix into the same store
    gs.state.samples.remove("drift_sample")
    (21L to 30L).map(i => (i, "g")).toDF("id", "grp")
      .coalesce(1).write.mode("append").parquet(s"$root/in")
    val q2 = start(0.5)
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q2.processAllAvailable()
    }
    q2.stop()
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil else t.getMessage +: chain(t.getCause)
    assert(chain(e).exists(m => m != null && m.contains("drifted")),
      s"want a drifted-options error, got: ${chain(e)}")
    gs.state.samples.remove("drift_sample")
  }

  test("STREAMING INIT parses interval forms and gates the trigger") {
    val gs = new GraftSession(spark)
    gs.sql("STREAMING INIT 2 SECS")
    assert(gs.state.streamingBatchMs === 2000L)
    gs.sql("STREAMING INIT 250 MS")
    assert(gs.state.streamingBatchMs === 250L)
    gs.sql("STREAMING INIT 1secs")
    assert(gs.state.streamingBatchMs === 1000L)
    // restore the suite default so later scenarios keep sub-second triggers
    gs.sql("STREAMING INIT 0 MS")
    assert(gs.state.streamingBatchMs === 0L)
  }
}
