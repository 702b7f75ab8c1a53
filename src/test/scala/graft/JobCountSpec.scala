package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

/** Spark jobs per call on the ingest-and-read path. At these sizes a job
 * costs more than the work it carries, so the count is the cost: a TopK
 * answer the driver already holds, a spill batch the driver writes and a
 * store whose schema the code knows start no job of their own, and a query
 * over an in-memory sample schedules only itself. */
class JobCountSpec extends AnyFunSuite {
  import TestSpark._

  private val Tag = "graft.jobcount"

  /** `body`'s result and the Spark jobs started for it on this thread. */
  private def jobsOf[A](body: => A): (A, Int) = {
    val (out, stages) = jobStagesOf(body)
    (out, stages.size)
  }

  /** `body`'s result and, per Spark job started for it on this thread, the
   * number of stages the job lists (skipped ones included). */
  private def jobStagesOf[A](body: => A): (A, Seq[Int]) = {
    val sc = spark.sparkContext
    val id = java.util.UUID.randomUUID().toString
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[Integer]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(p => p.getProperty(Tag) == id)) stages.add(e.stageInfos.size)
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty(Tag, id)
    try {
      val out = body
      org.apache.spark.GraftTestBus.drain(sc)
      (out, stages.toArray(Array.empty[Integer]).toSeq.map(_.intValue))
    } finally {
      sc.setLocalProperty(Tag, null)
      sc.removeSparkListener(listener)
    }
  }

  private val MinuteMs = 60000L

  /** Five users per minute over `minutes`, user u seen u+1 times. */
  private def events(minutes: Range) = {
    import spark.implicits._
    (for (m <- minutes; u <- 0 until 5; _ <- 0 to u) yield (m * MinuteMs, s"u$u"))
      .toDF("ts", "user")
  }

  test("in-memory TopK reads start no job; a spilled-history read starts one") {
    val opts = graft.topk.TopKOptions(key = "user", timeSeriesColumn = Some("ts"),
      timeIntervalMs = MinuteMs, timeUnit = "ms", size = 5, streamSummary = true,
      capacity = 8, maxInterval = 1000, maxDriverEntries = 20)
    val st = new graft.topk.TopKState("jc_mem", opts,
      org.apache.spark.sql.types.StringType)
    try {
      st.append(events(0 until 2))
      assert(st.spilledBucketCount === 0)
      val (rows, readJobs) = jobsOf(st.queryTopK(spark, 0L, 2 * MinuteMs - 1, 5).collect())
      assert(rows.map(r => r.getString(0) -> r.getLong(1)).toSeq ===
        (4 to 0 by -1).map(u => s"u$u" -> 2L * (u + 1)))
      assert(readJobs === 0, "an in-memory queryTopK(...).collect() starts no job")
      val (freq, freqJobs) = jobsOf(st.queryFrequency("u3", 0L, 2 * MinuteMs - 1))
      assert(freq === Some((8L, 8L, 8L)))
      assert(freqJobs === 0, "an in-memory queryFrequency starts no job")

      // four more minutes: 30 entries > 20, the oldest buckets spill
      val partials = st.buildPartials(events(2 until 6))
      val (_, spillJobs) = jobsOf(st.mergePartials(spark, partials))
      assert(st.spilledBucketCount > 0, "the merge must spill")
      assert(spillJobs === 0, "the spill writes its batch from the driver")
      val (hist, histJobs) = jobsOf(st.queryTopK(spark, 0L, MinuteMs - 1, 5).collect())
      assert(hist.map(r => r.getString(0) -> r.getLong(1)).toSeq ===
        (4 to 0 by -1).map(u => s"u$u" -> (u + 1L)))
      assert(histJobs === 1, "a spilled-history read is its one merge job")
      val (hf, hfJobs) = jobsOf(st.queryFrequency("u1", 0L, MinuteMs - 1))
      assert(hf === Some((2L, 2L, 2L)))
      assert(hfJobs === 1, "a spilled-history frequency is its one merge job")
    } finally st.spillDirOption.foreach { d =>
      val p = new org.apache.hadoop.fs.Path(d)
      p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    }
  }

  test("a spilling path-backed appendToTopKForBatch is its sketch build's two jobs") {
    val gs = new GraftSession(spark)
    val dir = java.nio.file.Files.createTempDirectory("graft_jc_tk").toString + "/tk"
    events(0 until 4).createOrReplaceTempView("jc_tk_base")
    gs.createTopK("jc_tk", "jc_tk_base", Map("key" -> "user", "timeSeriesColumn" -> "ts",
      "timeInterval" -> "60000", "timeUnit" -> "ms", "size" -> "5",
      "streamSummary" -> "true", "capacity" -> "8", "maxInterval" -> "1000",
      "maxDriverEntries" -> "20", "path" -> dir))
    try {
      (1 to 3).foreach { b =>
        val before = gs.topkState("jc_tk").spilledBucketCount
        val batch = events((2 + 2 * b) until (4 + 2 * b))
        val (_, jobs) = jobsOf(gs.appendToTopKForBatch("jc_tk", batch, 0L, "jc", b))
        assert(gs.topkState("jc_tk").spilledBucketCount > before, s"batch $b must spill")
        assert(jobs === 2, s"batch $b: buildPartials' two jobs and nothing else")
      }
      val (rows, jobs) = jobsOf(gs.queryTopK("jc_tk", 0L, 10 * MinuteMs - 1, 5).collect())
      assert(rows.map(r => r.getString(0) -> r.getLong(1)).toSeq ===
        (4 to 0 by -1).map(u => s"u$u" -> 10L * (u + 1)))
      assert(jobs === 1, "a read over spilled history is one merge job")
    } finally {
      gs.sql("DROP TOPK TABLE jc_tk")
      spark.catalog.dropTempView("jc_tk_base")
    }
  }

  test("a grouped WITH ERROR over an in-memory sample is one job of one stage") {
    import spark.implicits._
    val gs = new GraftSession(spark)
    (0 until 20000).map(i => (s"t${i % 4}", i.toDouble)).toDF("event_type", "v")
      .createOrReplaceTempView("jc_q_base")
    gs.sql("CREATE SAMPLE TABLE jc_q_sample ON jc_q_base OPTIONS(qcs 'event_type', " +
      "fraction '0.1')")
    try {
      val q = "SELECT event_type, sum(v) AS s, absolute_error(s) AS e FROM jc_q_base " +
        "GROUP BY event_type WITH ERROR 0.5"
      gs.sql(q).collect() // code generation outside the count
      val (rows, stages) = jobStagesOf(gs.sql(q).collect())
      assert(gs.state.lastChosenSample === Some("jc_q_sample"))
      assert(rows.length === 4)
      assert(stages === Seq(1), "one job listing one stage: no exchange, and no " +
        "skipped stage of the sampler that built the sample")
    } finally {
      gs.dropSampleTable("jc_q_sample")
      spark.catalog.dropTempView("jc_q_base")
    }
  }

  test("an ivfKnn probe over a cached index is one job; a pqKnn probe is two") {
    import graft.ann.Ann
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val q = emb.select("embedding").first().getSeq[Float](0).toArray
    val (assigned, cents) = Ann.ivfIndex(emb, "vec_id", "embedding", nClusters = 4)
    val cb = Ann.pqTrain(emb, "embedding", m = 8, k = 16, iterations = 2)
    val encoded = Ann.pqEncode(emb, "embedding", cb)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    try {
      encoded.count()
      val (ivfRows, ivfJobs) = jobsOf(
        Ann.ivfKnn(assigned, cents, "vec_id", "embedding", q, 5).collect())
      assert(ivfRows.length === 5)
      assert(ivfJobs === 1, "the probe scan, rank and limit are one job")
      val (pqRows, pqJobs) = jobsOf(
        Ann.pqKnn(encoded, cb, "vec_id", "embedding", q, 5).collect())
      assert(pqRows.length === 5)
      assert(pqJobs === 2, "the broadcast ADC candidates, then the exact re-rank")
    } finally {
      assigned.unpersist()
      encoded.unpersist()
    }
  }

  test("appendToSampleForBatch at fraction 0.05 is the sampler's jobs plus its write") {
    import spark.implicits._
    val gs = new GraftSession(spark)
    val dir = java.nio.file.Files.createTempDirectory("graft_jc_s").toString + "/s"
    def batch(b: Int) = (0 until 2000).map(i => (s"t${i % 4}", (b * 2000 + i).toLong))
      .toDF("event_type", "v")
    batch(0).createOrReplaceTempView("jc_s_base")
    gs.sql("CREATE SAMPLE TABLE jc_sample ON jc_s_base OPTIONS(qcs 'event_type', " +
      s"fraction '0.05', path '$dir')")
    try {
      (1 to 2).foreach { b =>
        val (df, jobs) = jobsOf(gs.appendToSampleForBatch("jc_sample", batch(b), "jc", b))
        assert(df.columns.contains(graft.sampling.StratifiedSampler.WeightColumn))
        assert(jobs === 4, s"batch $b: the sampler's three jobs and the write")
      }
    } finally {
      gs.dropSampleTable("jc_sample")
      spark.catalog.dropTempView("jc_s_base")
    }
  }
}
