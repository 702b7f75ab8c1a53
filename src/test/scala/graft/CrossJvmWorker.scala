package graft

import org.apache.spark.sql.SparkSession

/**
 * Child-process driver for [[CrossJvmConcurrencySpec]] — the repo's
 * analogue of the reference's multi-JVM dunit harness
 * (`tests/dunit/AQPCatalogConsistencyDUnitTest` family): each worker is a
 * REAL separate JVM with its own SparkSession mutating a shared persist
 * path, so cross-process lock acquisition, lease-break of a genuinely dead
 * holder, and torn-snapshot retry are exercised without any in-process
 * shortcuts.
 *
 * Modes:
 *  - `hold-lock-and-die <dir>`: acquire the path lock, then `halt` so the
 *    JVM dies WITHOUT running `finally` — the lock file survives, held by a
 *    dead process (a crashed writer).
 *  - `append-topk <dir> <marker> <batches> <perBatch>`: attach the TopK at
 *    `<dir>` and append `<batches>` batches of `<perBatch>` rows of
 *    `<marker>`, sleeping briefly between publishes so a polling reader
 *    observes many intermediate snapshots.
 */
object CrossJvmWorker {

  /** Shared fuzz keys for `append-topk-fuzz` — BOTH writers append the same
   * keys, so every (key, interval) cell accumulates mass from two processes
   * through interleaved RELOAD→MERGE→PUBLISH cycles. */
  val FuzzKeys: Vector[String] = Vector("alpha", "beta", "gamma", "delta")

  /** Deterministic append plan for `append-topk-fuzz`: the worker executes
   * it, the spec replays the SAME function to build the exact model — no
   * RNG-consumption drift between the two sides. Interval picks cover the
   * whole shared range non-monotonically (late re-appends into intervals
   * the other writer may have aged out) and include pre-epoch negatives. */
  def fuzzPlan(seed: Long, batches: Int, ivRange: Int,
      ivMs: Long): Seq[(Long, Map[String, Int])] = {
    val rnd = new scala.util.Random(seed)
    (0 until batches).map { _ =>
      val iv = rnd.nextInt(ivRange + 2) - 2 // [-2, ivRange): some pre-epoch
      val batchTime = iv * ivMs + rnd.nextLong(ivMs)
      val counts0 = FuzzKeys.map(k => k -> rnd.nextInt(4)).toMap
      // keep batches non-empty so every plan step really publishes
      val counts = if (counts0.valuesIterator.sum > 0) counts0
        else counts0.updated(FuzzKeys(rnd.nextInt(FuzzKeys.size)), 1)
      (batchTime, counts.filter(_._2 > 0))
    }
  }

  /** Per-key counts of the PUBLISHED TopK store at `path`, re-attached into
   * `probe` (a session apart from the populator's). The populator's own
   * state holds a batch's merge before that batch's snapshot publish
   * completes, and a STOP inside that window interrupts the publish (the
   * batch replays on the next START), so quiescence is judged on what is
   * persisted. */
  private def publishedTopk(probe: GraftSession, path: String): String => Long = {
    probe.attachTopKTable("probe_topk", path)
    k => probe.queryFrequency("probe_topk", k).map(_._2).getOrElse(0L)
  }

  def main(args: Array[String]): Unit = {
    val mode = args(0)
    val dir = args(1)
    val spark = SparkSession.builder()
      .master("local[2]")
      .appName("graft-xjvm-worker")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val g = GraftSession(spark)
    mode match {
      case "hold-lock-and-die" =>
        GraftSession.withPathLock(spark, dir) {
          // crash while holding: halt skips finally, so the lock is never
          // released — exactly a writer that died mid-publish
          Runtime.getRuntime.halt(7)
        }

      case "hold-lock-stall" =>
        // a LIVE holder stalled well past the lease: acquire, signal,
        // sleep `holdMs` (several multiples of the 1 s lease), then
        // "publish" (write the marker) and release. The parent contends
        // the whole time — with the pre-heartbeat fixed lease it broke
        // this lock after ~1 s and entered before the publish (the r13
        // cross-JVM failure, then worked around by raising the constant);
        // with heartbeat renewal it must wait the stall out.
        val holdMs = args(2).toLong
        val acquiredFlag = new java.io.File(args(3))
        val publishedFlag = new java.io.File(args(4))
        spark.conf.set("spark.graft.pathLock.leaseMs", "1000")
        GraftSession.withPathLock(spark, dir) {
          acquiredFlag.createNewFile()
          Thread.sleep(holdMs)
          publishedFlag.createNewFile()
        }
        spark.stop()

      case "hold-lock-frozen" =>
        // a WHOLE-PROCESS freeze (VM pause) in a real separate JVM: the
        // heartbeat neither refreshes nor detects, the parent breaks the
        // stale lease and republishes, and this zombie then (a) lands one
        // slipped batch file stamped with its SUPERSEDED fence epoch —
        // the write that beat the commit-point check — and (b) has its
        // guarded commit fenced. The parent asserts readSample
        // quarantines (a) and the log records (b).
        val acquiredFlag = new java.io.File(args(2))
        val proceedFlag = new java.io.File(args(3))
        spark.conf.set("spark.graft.pathLock.leaseMs", "800")
        graft.store.PathLock.heartbeatFreezeHook = (_, _) => true
        GraftSession.withPathLock(spark, dir) {
          val epoch = graft.store.PathLock.heldFence(spark, dir).get.epoch
          acquiredFlag.createNewFile()
          val deadline = System.currentTimeMillis() + 120000
          while (!proceedFlag.exists() &&
            System.currentTimeMillis() < deadline) Thread.sleep(100)
          // the slipped write: a batch-1 file byte-copied under OUR stale
          // epoch (the parent's batch-1 publish carries a newer one)
          val d = new java.io.File(dir)
          val pub = d.listFiles().filter(f =>
            f.getName.startsWith("stream-") && f.getName.contains("-b1-")).head
          val zombie = new java.io.File(d, pub.getName.replaceAll(
            "-([0-9]+)\\.e[0-9]+\\.parquet$", s"-9.e$epoch.parquet"))
          java.nio.file.Files.copy(pub.toPath, zombie.toPath)
          println(s"ZOMBIE-WROTE ${zombie.getName}")
          try {
            GraftSession.assertStoreFence(spark, dir)
            println("ZOMBIE-PUBLISH-ALLOWED")
          } catch { case _: FencedLockException => println("FENCED") }
        }
        spark.stop()

      case "append-topk" =>
        val marker = args(2)
        val batches = args(3).toInt
        val perBatch = args(4).toInt
        Seq("seed_x", "seed_y").toDF("event_type")
          .createOrReplaceTempView("xjvm_base")
        g.sql("CREATE TOPK TABLE IF NOT EXISTS xjvm_tk ON xjvm_base OPTIONS(" +
          s"key 'event_type', size '5', streamSummary 'true', " +
          s"capacity '100000', path '$dir')")
        var i = 0
        while (i < batches) {
          g.appendToTopK("xjvm_tk", Seq.fill(perBatch)(marker).toDF("event_type"))
          Thread.sleep(50)
          i += 1
        }
        spark.stop()

      case "append-topk-timed" =>
        // combined-mode cross-process appends: each batch lands in its own
        // daily interval, so the shared snapshot carries per-interval
        // sketches AND full-width dyadic history blocks (plus spilled
        // batches once the driver guard trips) through every
        // RELOAD→MERGE→PUBLISH cycle
        val marker = args(2)
        val batches = args(3).toInt
        val perBatch = args(4).toInt
        val dayOffset = args(5).toInt
        val dayMs = 86400000L
        Seq((0L, "seed_x"), (0L, "seed_y")).toDF("ts", "event_type")
          .createOrReplaceTempView("xjvm_base_t")
        g.sql("CREATE TOPK TABLE IF NOT EXISTS xjvm_tk_t ON xjvm_base_t OPTIONS(" +
          s"key 'event_type', size '5', depth '2', width '256', " +
          s"timeSeriesColumn 'ts', timeInterval '86400000', maxInterval '4', " +
          s"timeAndItemAggregation 'true', timeUnit 'ms', " +
          s"maxDriverEntries '1500', path '$dir')")
        var j = 0
        while (j < batches) {
          val ts = (dayOffset + j).toLong * dayMs
          g.appendToTopK("xjvm_tk_t",
            Seq.fill(perBatch)((ts, marker)).toDF("ts", "event_type"))
          Thread.sleep(50)
          j += 1
        }
        spark.stop()

      case "append-topk-fuzz" =>
        // batch-timed combined-mode fuzz appends: execute the deterministic
        // plan against the shared path — every append is a full
        // RELOAD→MERGE→PUBLISH under the path lock, interleaving with the
        // other writer's cycles at the filesystem. Touch the flag file if
        // this writer's state ever spilled, so the spec can require the
        // spill store actually participated in the cross-process merge.
        val seed = args(2).toLong
        val batches = args(3).toInt
        val ivRange = args(4).toInt
        val ivMs = args(5).toLong
        val spillFlag = new java.io.File(args(6))
        Seq.empty[String].toDF("event_type")
          .createOrReplaceTempView("xjvm_base_f")
        g.sql(s"CREATE TOPK TABLE IF NOT EXISTS xjvm_tk_f ON xjvm_base_f " +
          s"OPTIONS(path '$dir')")
        fuzzPlan(seed, batches, ivRange, ivMs).foreach { case (bt, counts) =>
          val rows = counts.toSeq.flatMap { case (k, n) => Seq.fill(n)(k) }
          g.appendToTopK("xjvm_tk_f", rows.toDF("event_type"), bt)
          val st = GraftState.of(spark).topks("xjvm_tk_f")
            .asInstanceOf[graft.topk.TopKState]
          if (st.spillLevelCounts.nonEmpty) spillFlag.createNewFile()
          Thread.sleep(20)
        }
        spark.stop()

      case "stream-populate" =>
        // crash-resume streaming populator: declare a file-source stream
        // plus PATH-BACKED sample and TopK dependents under <dir>, start
        // the populator, and run until every input row has landed in both
        // dependents — then touch the done flag, STREAMING STOP and exit 0.
        // The spec SIGKILLs this JVM at random points (mid-batch, between
        // dependent population and the checkpoint's offset commit, mid
        // snapshot publish — wherever the kill lands) and relaunches it;
        // exactly-once population across those crash/resume cycles is the
        // property under test. Short lock lease so a resumed JVM breaks the
        // dead predecessor's path lock quickly instead of sitting out the
        // 120 s default.
        val expected = args(2).toLong
        val doneFlag = new java.io.File(args(3))
        spark.conf.set("spark.graft.pathLock.leaseMs", "3000")
        g.sql("CREATE STREAM TABLE IF NOT EXISTS xjvm_stream " +
          "(event_type STRING) USING parquet OPTIONS(" +
          s"path '$dir/in', historypath '$dir/history', " +
          "maxFilesPerTrigger '1')")
        g.sql("CREATE SAMPLE TABLE IF NOT EXISTS xjvm_ss ON xjvm_stream " +
          s"OPTIONS(qcs 'event_type', fraction '1.0', path '$dir/sample')")
        g.sql("CREATE TOPK TABLE IF NOT EXISTS xjvm_st ON xjvm_stream " +
          "OPTIONS(key 'event_type', size '5', streamSummary 'true', " +
          s"capacity '100000', path '$dir/topk')")
        g.sql("STREAMING INIT 100 MS")
        g.sql("STREAMING START")
        val deadline = System.currentTimeMillis() + 150000
        val probe = GraftSession(spark.newSession())
        var done = false
        while (!done && System.currentTimeMillis() < deadline) {
          Thread.sleep(150)
          val sampleRows =
            try spark.read.parquet(s"$dir/sample").count()
            catch { case _: Exception => -1L }
          val topkTotal =
            try FuzzKeys.map(publishedTopk(probe, s"$dir/topk")).sum
            catch { case _: Exception => -1L }
          done = sampleRows == expected && topkTotal == expected
        }
        if (done) {
          g.sql("STREAMING STOP")
          doneFlag.createNewFile()
          spark.stop()
        } else {
          System.err.println("stream-populate: deadline without completion")
          sys.exit(3)
        }

      case "stream-populate-two" =>
        // TWO independent checkpointed streams feeding ONE sample and ONE
        // TopK (the shape the per-stream watermark design exists for): each
        // sink has its own batch-id sequence, so the replay fences must be
        // keyed per sink — a shared key would let stream A's batch N fence
        // out stream B's batch N. The spec SIGKILLs this JVM mid-ingest and
        // relaunches; at quiescence both structures must hold the exact
        // UNION multiset of both input dirs.
        val doneFlag = new java.io.File(args(2))
        spark.conf.set("spark.graft.pathLock.leaseMs", "3000")
        import org.apache.spark.sql.types._
        val schema = StructType(Seq(StructField("event_type", StringType)))
        Seq("seed_x").toDF("event_type").createOrReplaceTempView("xjvm2_base")
        // static inputs: the exact model is just the batch-read union
        val model = spark.read.parquet(s"$dir/in_a", s"$dir/in_b")
          .groupBy("event_type").count().collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        val expected = model.values.sum
        def src(sub: String) = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(s"$dir/$sub")
        val topkOpts = Map("key" -> "event_type", "streamsummary" -> "true",
          "capacity" -> "100000", "size" -> "16", "path" -> s"$dir/topk")
        graft.streaming.StreamSinks.sampleSink(g, "xjvm2_sample", "xjvm2_base",
          src("in_a"), qcs = Seq("event_type"), fraction = 1.0,
          path = s"$dir/sample", checkpointLocation = Some(s"$dir/ckpt_sa"))
        graft.streaming.StreamSinks.sampleSink(g, "xjvm2_sample", "xjvm2_base",
          src("in_b"), qcs = Seq("event_type"), fraction = 1.0,
          path = s"$dir/sample", checkpointLocation = Some(s"$dir/ckpt_sb"))
        graft.streaming.StreamSinks.topkSink(g, "xjvm2_topk", src("in_a"),
          topkOpts, checkpointLocation = Some(s"$dir/ckpt_ta"))
        graft.streaming.StreamSinks.topkSink(g, "xjvm2_topk", src("in_b"),
          topkOpts, checkpointLocation = Some(s"$dir/ckpt_tb"))
        // four concurrent streaming queries in one small JVM: on a loaded
        // box (the full suite's wake) a 150 s budget starves — exit 3 is
        // retried by the spec, but give honest work room first
        val deadline2 = System.currentTimeMillis() + 240000
        val probe2 = GraftSession(spark.newSession())
        var done2 = false
        while (!done2 && System.currentTimeMillis() < deadline2) {
          Thread.sleep(300)
          val sampleRows =
            try spark.read.parquet(s"$dir/sample").count()
            catch { case _: Exception => -1L }
          val topkOk =
            try {
              val published = publishedTopk(probe2, s"$dir/topk")
              model.forall { case (k, n) => published(k) == n }
            } catch { case _: Exception => false }
          done2 = sampleRows == expected && topkOk
        }
        if (done2) {
          spark.streams.active.foreach(_.stop())
          doneFlag.createNewFile()
          spark.stop()
        } else {
          System.err.println("stream-populate-two: deadline without completion")
          sys.exit(3)
        }

      case "read-sample-snapshot" =>
        // CROSS-JVM strong reader: loop readSample().count() from a real
        // separate process while the SPEC's JVM churns crash-recovery
        // republication of one batch on the same store. Unlike the
        // in-process race (same-JVM lock fast path), this exercises the
        // cross-process lock-FILE lease for the snapshot listing. Every
        // successful count must equal the expected full count — the
        // transient-miss state (full - recoveringBatch) is the bug class;
        // loud read failures while the writer churns the same batch are
        // the documented allowed outcome (callers retry).
        val expected = args(2).toLong
        val durationMs = args(3).toLong
        // keep the DEFAULT 120 s lease: nothing dies in this mode, and a
        // short lease lets this reader LEASE-BREAK the spec JVM's live
        // recovery when a loaded box stretches it past the lease — at
        // which point the listing lands mid-delete and reads the exact
        // transient-miss state the lock exists to prevent (observed: a
        // 3 s lease under full-suite load). Lease-break-of-a-dead-holder
        // has its own dedicated test.
        // the attach resolves the sample's BASE name from the store meta —
        // register a stand-in view under whatever name the spec used
        val baseName = graft.GraftSession.readSampleMeta(s"$dir/sample",
          spark.sessionState.newHadoopConf()).map(_._1).getOrElse("rrx_base")
        Seq("seed_r").toDF("event_type").createOrReplaceTempView(baseName)
        // attach retries with a generous deadline (the spec holds churn
        // until the flag below appears, but a loaded box can still make
        // individual attempts slow); plain read inside attach can race a
        // straggling recovery
        val attachDeadline = System.currentTimeMillis() + 60000
        var attached = false
        while (!attached) {
          try { g.attachSampleTable("rrx_sample", s"$dir/sample"); attached = true }
          catch {
            case e: Exception =>
              if (System.currentTimeMillis() > attachDeadline) {
                System.err.println(s"read-sample-snapshot: attach never succeeded: $e")
                sys.exit(7)
              }
              Thread.sleep(200)
          }
        }
        // signal the spec to START churning: reads below race recovery,
        // the attach above does not (a reader attaches during normal
        // operation; the crash it must survive comes later)
        new java.io.File(dir, "attached.flag").createNewFile()
        val deadline = System.currentTimeMillis() + durationMs
        var reads = 0L
        var failures = 0L
        while (System.currentTimeMillis() < deadline) {
          try {
            val n = g.readSample("rrx_sample").count()
            reads += 1
            if (n != expected) {
              System.err.println(
                s"read-sample-snapshot: saw $n, expected $expected")
              sys.exit(5)
            }
          } catch { case _: Exception => failures += 1 }
        }
        println(s"read-sample-snapshot: $reads clean reads, " +
          s"$failures loud transient failures")
        if (reads == 0) {
          System.err.println("read-sample-snapshot: no read ever completed")
          sys.exit(6)
        }
        spark.stop()

      case other =>
        System.err.println(s"unknown mode: $other")
        sys.exit(2)
    }
  }
}
