package graft

import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

/** The spill batch layout: one `part-00000.parquet` per `batch-<id>` dir,
 * written from the driver with the columns and codec a Spark write gives
 * (required int64 `start`/`len`, optional binary `bytes`). Batches a Spark
 * job wrote read, answer and compact together with driver-written ones,
 * and a failed spill write loses no bucket and leaves no batch behind. */
class TopKSpillLayoutSpec extends AnyFunSuite {
  import TestSpark._

  private val MinuteMs = 60000L

  /** Five users per minute over `minutes`, user u seen u+1 times. */
  private def events(minutes: Range) = {
    import spark.implicits._
    (for (m <- minutes; u <- 0 until 5; _ <- 0 to u) yield (m * MinuteMs, s"u$u"))
      .toDF("ts", "user")
  }

  /** Counted oracle: user u over `minutes` whole minutes. */
  private def expected(minutes: Int): Seq[(String, Long)] =
    (4 to 0 by -1).map(u => s"u$u" -> minutes.toLong * (u + 1))

  private def topK(gs: GraftSession, name: String, minutes: Range) =
    gs.queryTopK(name, minutes.start * MinuteMs, minutes.end * MinuteMs - 1, 5)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq

  private def create(gs: GraftSession, name: String, dir: String): Unit = {
    events(0 until 4).createOrReplaceTempView(s"${name}_base")
    gs.createTopK(name, s"${name}_base", Map("key" -> "user",
      "timeSeriesColumn" -> "ts", "timeInterval" -> "60000", "timeUnit" -> "ms",
      "size" -> "5", "streamSummary" -> "true", "capacity" -> "8",
      "maxInterval" -> "1000", "maxDriverEntries" -> "20", "path" -> dir))
  }

  private def filesUnder(dir: String): Seq[Path] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) Nil
    else {
      val it = fs.listFiles(p, true)
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next().getPath).toSeq
    }
  }

  /** (parquet schema, codec of every column) from a file's footer. */
  private def footer(file: Path): (String, Seq[String]) = {
    import scala.jdk.CollectionConverters._
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file,
      spark.sessionState.newHadoopConf())
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      val meta = r.getFooter
      (meta.getFileMetaData.getSchema.toString,
        meta.getBlocks.asScala.toSeq.flatMap(_.getColumns.asScala.map(_.getCodec.name)))
    } finally r.close()
  }

  test("Spark-written and driver-written spill batches re-attach, answer and compact together") {
    val gs = new GraftSession(spark)
    val dir = java.nio.file.Files.createTempDirectory("graft_tk_layout").toString + "/tk"
    create(gs, "tk_layout", dir)
    try {
      (1 to 6).foreach(b => gs.appendToTopK("tk_layout", events((2 + 2 * b) until (4 + 2 * b))))
      val batches = gs.topkState("tk_layout").spillView._1
      assert(batches.size === 6, s"every append spills one batch: $batches")
      batches.foreach { b =>
        assert(filesUnder(b).map(_.getName).filter(_.endsWith(".parquet")) ===
          Seq("part-00000.parquet"), s"$b holds one driver-written file")
      }
      // rewrite every other batch with a Spark job, as a store written by
      // the Spark writer holds them
      val rewritten = batches.indices.filter(_ % 2 == 0).map(batches)
      rewritten.foreach { b =>
        import spark.implicits._
        val rows = spark.read.parquet(b).as[(Long, Long, Array[Byte])].collect().toSeq
        val p = new Path(b)
        p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
        spark.createDataset(rows).toDF("start", "len", "bytes")
          .coalesce(1).write.mode("overwrite").parquet(b)
      }
      val driverFile = new Path(batches(1), "part-00000.parquet")
      val sparkFile = filesUnder(rewritten.head).find(_.getName.endsWith(".parquet")).get
      assert(sparkFile.getName !== "part-00000.parquet")
      val (driverSchema, driverCodecs) = footer(driverFile)
      val (sparkSchema, sparkCodecs) = footer(sparkFile)
      assert(driverSchema === sparkSchema, "the same parquet columns as a Spark write")
      assert(driverCodecs.distinct === Seq("SNAPPY") && sparkCodecs.distinct === Seq("SNAPPY"),
        s"the session codec on both: $driverCodecs / $sparkCodecs")

      // a fresh session's attach reads the mixed view
      GraftState.of(spark).topks.remove("tk_layout")
      GraftState.of(spark).topkPaths.remove("tk_layout")
      gs.attachTopKTable("tk_layout", dir)
      assert(topK(gs, "tk_layout", 0 until 16) === expected(16))
      assert(topK(gs, "tk_layout", 0 until 4) === expected(4), "spilled history only")
      (0 until 5).foreach { u =>
        val n = 6L * (u + 1)
        assert(gs.queryFrequency("tk_layout", s"u$u", 4 * MinuteMs, 10 * MinuteMs - 1) ===
          Some((n, n, n)))
      }

      // a level compaction merges both kinds into one level-1 batch
      val st = gs.topkState("tk_layout")
      st.compactThreshold = 2
      st.append(events(16 until 18))
      val levels = st.spillLevelCounts
      assert(levels.getOrElse(1, 0) === 1 && levels.getOrElse(0, 0) <= 2,
        s"the level-0 batches compact into level 1: $levels")
      assert(rewritten.forall(b => !st.spillView._1.contains(b)))
      assert(topK(gs, "tk_layout", 0 until 18) === expected(18))
      assert(topK(gs, "tk_layout", 0 until 4) === expected(4))
    } finally {
      gs.sql("DROP TOPK TABLE tk_layout")
      spark.catalog.dropTempView("tk_layout_base")
    }
  }

  test("a failed spill write fails the append, restores its buckets and leaves no batch") {
    val gs = new GraftSession(spark)
    val dir = java.nio.file.Files.createTempDirectory("graft_tk_spillfail").toString + "/tk"
    create(gs, "tk_spillfail", dir)
    val conf = spark.sessionState.newHadoopConf()
    val spillRoot = new Path(dir, GraftSession.TopkSpillDir)
    val fs = spillRoot.getFileSystem(conf)
    try {
      // a regular file where the spill root belongs: no batch dir can be made
      fs.create(spillRoot).close()
      intercept[Exception](gs.appendToTopK("tk_spillfail", events(4 until 6)))
      assert(gs.topkState("tk_spillfail").spilledBucketCount === 0)
      assert(topK(gs, "tk_spillfail", 0 until 6) === expected(6),
        "the parked buckets are back: the session's view keeps every count")
      assert(gs.queryFrequency("tk_spillfail", "u2", 0L, 6 * MinuteMs - 1) ===
        Some((18L, 18L, 18L)))
      assert(!filesUnder(dir).exists(_.toString.contains("/batch-")))

      // a writer that fails after creating its file: the partial batch goes
      fs.delete(spillRoot, false)
      val codecKey = "spark.sql.parquet.compression.codec"
      val codec = spark.conf.get(codecKey)
      spark.conf.set(codecKey, "lzo") // no LZO codec on the classpath
      try intercept[Exception](gs.appendToTopK("tk_spillfail", events(4 until 6)))
      finally spark.conf.set(codecKey, codec)
      assert(topK(gs, "tk_spillfail", 0 until 6) === expected(6))
      assert(!filesUnder(dir).exists(_.toString.contains("/batch-")),
        s"no partial batch is left: ${filesUnder(dir)}")

      // neither failed append published: the next one re-attaches the
      // store without them and spills normally
      gs.appendToTopK("tk_spillfail", events(4 until 6))
      assert(gs.topkState("tk_spillfail").spilledBucketCount > 0)
      assert(topK(gs, "tk_spillfail", 0 until 6) === expected(6))
      assert(topK(gs, "tk_spillfail", 0 until 2) === expected(2), "spilled history")
    } finally {
      gs.sql("DROP TOPK TABLE tk_spillfail")
      spark.catalog.dropTempView("tk_spillfail_base")
    }
  }
}
