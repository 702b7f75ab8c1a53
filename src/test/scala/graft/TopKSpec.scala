package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class TopKSpec extends AnyFunSuite {
  import TestSpark._

  private lazy val gs: GraftSession = {
    val g = new GraftSession(spark)
    eventsLongNs(spark).createOrReplaceTempView("events")
    g
  }

  test("CREATE TOPK TABLE (streamSummary exact mode) matches exact GROUP BY") {
    gs.sql("CREATE TOPK TABLE tk_users ON events OPTIONS(key 'user_id', " +
      "streamSummary 'true', capacity '100000', size '10')")
    val got = gs.queryTopK("tk_users", k = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val want = spark.sql(
      """SELECT user_id, count(*) c FROM events
        |GROUP BY user_id ORDER BY c DESC, user_id ASC LIMIT 10""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq === want.toSeq)
  }

  test("Space-Saving queryFrequency bounds an evicted key by the minimum counter") {
    // capacity 2 over four keys: the summary evicts, and an untracked
    // key's true count lies anywhere in [0, min counter] — never (0, 0, 0)
    import spark.implicits._
    val counts = Seq("ss_a" -> 5, "ss_b" -> 4, "ss_c" -> 3, "ss_d" -> 2)
    counts.flatMap { case (k, n) => Seq.fill(n)(k) }.toDF("k").coalesce(1)
      .createOrReplaceTempView("ss_evict_src")
    gs.sql("CREATE TOPK TABLE tk_ss_evict ON ss_evict_src OPTIONS(key 'k', " +
      "streamSummary 'true', capacity '2', size '2')")
    try {
      val bounds = counts.map { case (k, n) =>
        (k, n.toLong, gs.queryFrequency("tk_ss_evict", k).get)
      }
      bounds.foreach { case (k, n, (lower, est, upper)) =>
        assert(lower <= n && n <= upper,
          s"$k: exact count $n outside [$lower, $upper] (estimate $est)")
      }
    } finally gs.sql("DROP TOPK TABLE tk_ss_evict")
  }

  test("CMS topk surfaces heavy hitters with sane bounds") {
    gs.sql("CREATE TOPK TABLE tk_types ON events OPTIONS(key 'event_type', " +
      "width '2000', depth '7', size '5')")
    val got = gs.queryTopK("tk_types", k = 5).collect()
    val exact = spark.sql("SELECT event_type, count(*) c FROM events GROUP BY 1")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.nonEmpty)
    got.foreach { r =>
      val (key, est, lower) = (r.getString(0), r.getLong(1), r.getLong(2))
      assert(est >= exact(key), "CMS must not underestimate")
      assert(lower <= exact(key), "lower bound must hold")
    }
  }

  test("time-bucketed topk: range query restricts to the time window") {
    gs.sql("CREATE TOPK TABLE tk_timed ON events OPTIONS(key 'user_id', " +
      "streamSummary 'true', capacity '100000', size '5', " +
      "timeSeriesColumn 'ts', timeInterval '3600000', maxInterval '20000', timeUnit 'ns')")
    val bounds = spark.sql("SELECT min(ts), max(ts) FROM events").collect()(0)
    val (t0, t1) = (bounds.getLong(0) / 1000000L, bounds.getLong(1) / 1000000L)
    val mid = t0 + (t1 - t0) / 2
    val got = gs.queryTopK("tk_timed", t0, mid, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    // compare against exact counts over intervals fully covering [t0, mid]
    val ivMs = 3600000L
    val lastIv = mid / ivMs
    val want = spark.sql(
      s"""SELECT user_id, count(*) c FROM events
         |WHERE floor(ts / 1000000 / $ivMs) <= $lastIv
         |GROUP BY user_id ORDER BY c DESC, user_id ASC LIMIT 5""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got === want)
  }

  test("timestamp-string window API matches the epoch-ms API (SNAP-463 shape)") {
    // reference AQPStreamingSuite queries
    // queryApproxTSTopK(name, "yyyy-MM-dd HH:mm:ss.fff", ...) with
    // null = open bound (SnappyContextAQPFunctions.scala:143-153)
    gs.sql("CREATE TOPK TABLE tk_strts ON events OPTIONS(key 'user_id', " +
      "streamSummary 'true', capacity '100000', size '5', " +
      "timeSeriesColumn 'ts', timeInterval '3600000', maxInterval '20000', timeUnit 'ns')")
    val bounds = spark.sql("SELECT min(ts), max(ts) FROM events").collect()(0)
    val (t0, t1) = (bounds.getLong(0) / 1000000L, bounds.getLong(1) / 1000000L)
    val mid = t0 + (t1 - t0) / 2
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val viaEpoch = rows(gs.queryTopK("tk_strts", t0, mid, 5))
    // same window as timestamp strings (JVM-timezone round-trip, like the
    // reference's Utils.parseTimestamp)
    val startStr = new java.sql.Timestamp(t0).toString
    val midStr = new java.sql.Timestamp(mid).toString
    assert(rows(gs.queryApproxTSTopK("tk_strts", startStr, midStr, 5)) === viaEpoch)
    // epoch-ms digits inside a string parse too
    assert(rows(gs.queryTopK("tk_strts", t0.toString, mid.toString, 5)) === viaEpoch)
    // null / empty strings are open bounds: full-history query
    val full = rows(gs.queryTopK("tk_strts", k = 5))
    assert(rows(gs.queryApproxTSTopK("tk_strts", null, null, 5)) === full)
    assert(rows(gs.queryTopK("tk_strts", "", "", 5)) === full)
    // frequency API takes the same string window
    val key = viaEpoch.head._1
    assert(gs.queryFrequency("tk_strts", key, startStr, midStr) ===
      gs.queryFrequency("tk_strts", key, t0, mid))
    // date-only form parses (whole-day bound, JVM timezone)
    val dayStr = new java.sql.Date(t0).toString
    assert(rows(gs.queryTopK("tk_strts", dayStr, midStr, 5)).nonEmpty)
  }

  test("batch-timed topk: timeInterval without a ts column buckets by arrival (SNAP-463)") {
    val s2 = spark
    import s2.implicits._
    Seq("seed").toDF("k").createOrReplaceTempView("tk_bt_base")
    // reference DDL form: interval with unit suffix, no timeSeriesColumn —
    // every append lands in the interval its batch TIME falls in,
    // relative to the declared epoch
    gs.sql("CREATE TOPK TABLE tk_bt ON tk_bt_base OPTIONS(key 'k', " +
      "streamSummary 'true', capacity '1000', size '5', " +
      "timeInterval '6000ms', epoch '0')")
    gs.appendToTopK("tk_bt", Seq.fill(3)("a").toDF("k"), batchTimeMs = 10000L)
    gs.appendToTopK("tk_bt", Seq.fill(2)("b").toDF("k"), batchTimeMs = 13000L)
    gs.appendToTopK("tk_bt", Seq.fill(5)("a").toDF("k"), batchTimeMs = 25000L)
    // window covering only interval 1 (6000-11999 ms): the first batch alone
    val w1 = gs.queryTopK("tk_bt", 6000L, 11999L, 5).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(w1 === Map("a" -> 3L))
    // interval 2 alone: the second batch
    val w2 = gs.queryTopK("tk_bt", 12000L, 17999L, 5).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(w2 === Map("b" -> 2L))
    // spanning window sums both "a" batches
    assert(gs.queryFrequency("tk_bt", "a", 0L, 30000L).map(_._2) === Some(8L))
    // -1/-1 is the reference's full-history form (includes the create scan)
    val full = gs.queryApproxTSTopK("tk_bt", -1L, -1L, 5).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(full === Map("a" -> 8L, "b" -> 2L, "seed" -> 1L))
  }

  test("batch-timed topk: established epoch survives a path re-attach") {
    val dir = java.nio.file.Files.createTempDirectory("graft_tk_bt").toString + "/tk"
    val s2 = spark
    import s2.implicits._
    Seq("seed").toDF("k").createOrReplaceTempView("tk_btp_base")
    gs.sql("CREATE TOPK TABLE tk_btp ON tk_btp_base OPTIONS(key 'k', " +
      "streamSummary 'true', capacity '1000', size '5', " +
      s"timeInterval '10s', epoch '0', path '$dir')")
    gs.appendToTopK("tk_btp", Seq.fill(4)("x").toDF("k"), batchTimeMs = 20000L)
    gs.appendToTopK("tk_btp", Seq.fill(6)("x").toDF("k"), batchTimeMs = 45000L)
    val mine = gs.queryFrequency("tk_btp", "x", 20000L, 29999L).map(_._2)
    assert(mine === Some(4L))
    // fresh session: IF NOT EXISTS re-attaches the snapshot; interval
    // numbering (and so every windowed answer) must be identical
    val sB = spark.newSession()
    val gB = GraftSession(sB)
    Seq("seed").toDF("k").createOrReplaceTempView("tk_btp_base")
    gB.sql("CREATE TOPK TABLE IF NOT EXISTS tk_btp ON tk_btp_base OPTIONS(" +
      s"key 'k', streamSummary 'true', capacity '1000', size '5', " +
      s"timeInterval '10s', epoch '0', path '$dir')")
    assert(gB.queryFrequency("tk_btp", "x", 20000L, 29999L).map(_._2) === Some(4L))
    assert(gB.queryFrequency("tk_btp", "x", 40000L, 49999L).map(_._2) === Some(6L))
    assert(gB.queryFrequency("tk_btp", "x", 0L, 60000L).map(_._2) === Some(10L))
  }

  test("append accumulates into existing sketch") {
    gs.sql("CREATE TOPK TABLE tk_app ON events OPTIONS(key 'event_type', " +
      "streamSummary 'true', capacity '1000', size '5')")
    val before = gs.queryTopK("tk_app", k = 1).collect()(0).getLong(1)
    gs.appendToTopK("tk_app", spark.table("events"))
    val after = gs.queryTopK("tk_app", k = 1).collect()(0).getLong(1)
    assert(after === 2 * before)
  }

  test("TopK structure queryable as a table via SQL (TopKRelation.buildScan)") {
    gs.sql("CREATE TOPK TABLE tk_view ON events OPTIONS(key 'event_type', " +
      "streamSummary 'true', capacity '100000', size '5')")
    val viaSql = spark.sql(
      "SELECT event_type, estimated_value FROM tk_view ORDER BY estimated_value DESC")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val want = spark.sql(
      """SELECT event_type, count(*) c FROM events
        |GROUP BY event_type ORDER BY c DESC, event_type ASC LIMIT 5""".stripMargin)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(viaSql.toSeq === want.toSeq)
  }

  test("TopK scan filter matrix: EqualTo / strict inequalities / no filters") {
    gs.sql("CREATE TOPK TABLE tk_fm ON events OPTIONS(key 'event_type', " +
      "streamSummary 'true', capacity '100000', size '5', " +
      "timeSeriesColumn 'ts', timeInterval '86400000', maxInterval '20000', timeUnit 'ns')")
    val bounds = spark.sql("SELECT min(ts), max(ts) FROM events").collect()(0)
    val (t0, t1) = (bounds.getLong(0) / 1000000L, bounds.getLong(1) / 1000000L)
    val ivMs = 86400000L
    val dayEnd = (t0 / ivMs + 1) * ivMs - 1 // end of the first day bucket
    def counts(sqlWhere: String): Long =
      spark.sql(s"SELECT sum(estimated_value) FROM tk_fm $sqlWhere")
        .collect()(0).getLong(0)
    val full = counts("")
    // EqualTo on both bounds (the reference's filter shape)
    val firstDayEq = counts(s"WHERE start_time = timestamp_millis($t0) AND end_time = timestamp_millis($dayEnd)")
    val exactFirstDay = spark.sql(
      s"SELECT count(*) FROM events WHERE floor(ts / 1000000 / $ivMs) = ${t0 / ivMs}")
      .collect()(0).getLong(0)
    assert(firstDayEq === exactFirstDay)
    assert(firstDayEq < full)
    // strict inequalities prune the same bucket
    val firstDayStrict =
      counts(s"WHERE start_time > timestamp_millis(${t0 - 1}) AND end_time < timestamp_millis(${dayEnd + 1})")
    assert(firstDayStrict === firstDayEq)
    // range wider than the data ≡ unfiltered
    assert(counts(s"WHERE start_time >= timestamp_millis(0) AND end_time <= timestamp_millis(${t1 + ivMs})") === full)
  }

  test("SQL time-range pruning through the TopK scan (PrunedFilteredScan)") {
    gs.sql("CREATE TOPK TABLE tk_sqlwin ON events OPTIONS(key 'user_id', " +
      "streamSummary 'true', capacity '100000', size '5', " +
      "timeSeriesColumn 'ts', timeInterval '86400000', maxInterval '20000', timeUnit 'ns')")
    val bounds = spark.sql("SELECT min(ts), max(ts) FROM events").collect()(0)
    val (t0, t1) = (bounds.getLong(0) / 1000000L, bounds.getLong(1) / 1000000L)
    val ivMs = 86400000L
    // [t0, mid]: align the requested end to a bucket boundary so the SQL
    // window and the exact count cover identical rows
    val endIv = (t0 + (t1 - t0) / 2) / ivMs
    val endMs = (endIv + 1) * ivMs - 1
    val got = spark.sql(
      s"""SELECT user_id, estimated_value FROM tk_sqlwin
         |WHERE start_time >= timestamp_millis($t0) AND end_time <= timestamp_millis($endMs)
         |ORDER BY estimated_value DESC, user_id ASC""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val want = spark.sql(
      s"""SELECT user_id, count(*) c FROM events
         |WHERE floor(ts / 1000000 / $ivMs) BETWEEN ${t0 / ivMs} AND $endIv
         |GROUP BY user_id ORDER BY c DESC, user_id ASC LIMIT 5""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got === want)
    // full-range scan must differ (more days merged) — proves the time
    // filters actually pruned the sketch merge
    val full = spark.sql(
      """SELECT user_id, estimated_value FROM tk_sqlwin
        |ORDER BY estimated_value DESC, user_id ASC""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(full.map(_._2).sum > got.map(_._2).sum)
    // start_time/end_time columns echo the queried bounds
    val echoed = spark.sql(
      s"""SELECT DISTINCT start_time, end_time FROM tk_sqlwin
         |WHERE start_time >= timestamp_millis($t0)
         |  AND end_time <= timestamp_millis($endMs)""".stripMargin).collect()
    assert(echoed.length === 1)
    // timestamp-typed echo columns clamp to the queried bounds
    assert(echoed(0).getTimestamp(0).getTime === t0 &&
      echoed(0).getTimestamp(1).getTime === endMs)
  }

  test("driver-state guard rejects actual held entries beyond the bound") {
    // a single interval sketch bigger than the bound fails at CREATE time
    val huge = graft.topk.TopKOptions(key = "user_id", streamSummary = true,
      capacity = 10000000, maxDriverEntries = 1000000L)
    val atCreate = intercept[IllegalArgumentException] {
      new graft.topk.TopKState("tk_guard0", huge,
        org.apache.spark.sql.types.LongType)
    }
    assert(atCreate.getMessage.contains("maxDriverEntries"))
    // append-time: the guard bounds ACTUAL driver-held counters (lazy
    // Space-Saving allocation means worst-case capacity × maxInterval is the
    // wrong thing to reject — the gate queries legitimately configure it)
    val viaSql = intercept[IllegalArgumentException] {
      gs.sql("CREATE TOPK TABLE tk_guard_sql ON events OPTIONS(key 'user_id', " +
        "streamSummary 'true', capacity '1000000', maxDriverEntries '50')")
    }
    assert(viaSql.getMessage.contains("maxDriverEntries"))
    assert(viaSql.getMessage.contains("windowedTopK"))
    // same shape under a sufficient bound succeeds and is queryable
    gs.sql("CREATE TOPK TABLE tk_guard_ok ON events OPTIONS(key 'user_id', " +
      "streamSummary 'true', capacity '1000000', maxDriverEntries '1000000')")
    assert(gs.queryTopK("tk_guard_ok", k = 5).collect().length === 5)
  }

  test("INSERT INTO <topk> SELECT streams rows into the sketch") {
    gs.sql("CREATE TOPK TABLE tk_ins ON events OPTIONS(key 'event_type', " +
      "size '5', streamSummary 'true', capacity '100000')")
    val before = gs.queryTopK("tk_ins", k = 3).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    gs.sql("INSERT INTO tk_ins SELECT * FROM events")
    val after = gs.queryTopK("tk_ins", k = 3).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    before.foreach { case (k, v) => assert(after(k) === 2 * v, s"$k") }
    gs.sql("DROP TOPK TABLE tk_ins")
  }

  test("path-backed TopK survives a 'restart': IF NOT EXISTS re-attaches the snapshot") {
    val dir = java.nio.file.Files.createTempDirectory("graft_tkp_").toString + "/tk"
    gs.sql("CREATE TOPK TABLE tk_persist ON events OPTIONS(key 'event_type', " +
      s"size '5', streamSummary 'true', capacity '100000', path '$dir')")
    val before = gs.queryTopK("tk_persist", k = 5).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toSeq.sorted
    // simulate a fresh session: forget the registry entry and the view
    GraftState.of(spark).topks.remove("tk_persist")
    GraftState.of(spark).topkPaths.remove("tk_persist")
    spark.catalog.dropTempView("tk_persist")
    gs.sql("CREATE TOPK TABLE IF NOT EXISTS tk_persist ON events OPTIONS(" +
      s"key 'event_type', size '5', streamSummary 'true', capacity '100000', path '$dir')")
    val after = gs.queryTopK("tk_persist", k = 5).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toSeq.sorted
    assert(after === before,
      "re-attached TopK must answer identically WITHOUT replaying the base " +
        "(a replay would double every count)")
    // appends keep flowing and re-persist: counts double after re-append
    gs.appendToTopK("tk_persist", spark.table("events"))
    GraftState.of(spark).topks.remove("tk_persist")
    spark.catalog.dropTempView("tk_persist")
    gs.attachTopKTable("tk_persist", dir)
    val doubled = gs.queryTopK("tk_persist", k = 5).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    before.foreach { case (k, v) =>
      assert(doubled(k) === 2 * v, s"$k: ${doubled(k)} != 2*$v")
    }
    gs.sql("DROP TOPK TABLE tk_persist")
  }

  test("over-guard buckets spill to the interval store; queries merge them back exactly") {
    val dir = java.nio.file.Files.createTempDirectory("graft_tks_").toString + "/tk"
    // 30 daily intervals x 5 event types = 150 counters >> maxDriverEntries
    // 16, so most buckets must leave the driver; Space-Saving stays exact
    // (5 keys < capacity 16), so the merged answer equals the exact counts
    gs.sql("CREATE TOPK TABLE tk_spill ON events OPTIONS(key 'event_type', " +
      "streamSummary 'true', capacity '16', size '5', timeSeriesColumn 'ts', " +
      "timeInterval '86400000', maxInterval '100', timeUnit 'ns', " +
      s"maxDriverEntries '16', path '$dir')")
    val st = GraftState.of(spark).topks("tk_spill")
      .asInstanceOf[graft.topk.TopKState]
    assert(st.spilledBucketCount > 0, "the guard must have forced a spill")
    assert(st.buckets.entryCount <= 16,
      s"driver still holds ${st.buckets.entryCount} counters")
    val expected = spark.table("events")
      .groupBy(col("event_type")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = gs.queryTopK("tk_spill", k = 5).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === expected, "full-range query over spilled buckets must be exact")
    // a bounded time range that lies entirely in the spilled region
    val windowed = gs.queryTopK("tk_spill",
      1704067200000L, 1704671999999L, 5).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val windowedExact = spark.table("events")
      .filter(col("ts") >= lit(1704067200000L * 1000000L) &&
        col("ts") < lit(1704672000000L * 1000000L))
      .groupBy(col("event_type")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(windowed === windowedExact)
    // restart: re-attach restores the resident snapshot AND the spill store
    GraftState.of(spark).topks.remove("tk_spill")
    GraftState.of(spark).topkPaths.remove("tk_spill")
    spark.catalog.dropTempView("tk_spill")
    gs.attachTopKTable("tk_spill", dir)
    val reattached = gs.queryTopK("tk_spill", k = 5).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(reattached === expected, "spilled buckets must survive a restart")
    gs.sql("DROP TOPK TABLE tk_spill")
    // DROP retires the spill store with the snapshot
    val conf = spark.sessionState.newHadoopConf()
    val spill = new org.apache.hadoop.fs.Path(dir, GraftSession.TopkSpillDir)
    assert(!spill.getFileSystem(conf).exists(spill))
  }

  test("compaction defers batch deletion one publish: retained snapshots stay readable") {
    val dir = java.nio.file.Files.createTempDirectory("graft_tkc_").toString + "/tk"
    gs.sql("CREATE TOPK TABLE tk_compact ON events OPTIONS(key 'event_type', " +
      "streamSummary 'true', capacity '16', size '5', timeSeriesColumn 'ts', " +
      "timeInterval '86400000', maxInterval '2000', timeUnit 'ns', " +
      s"maxDriverEntries '16', path '$dir')")
    val conf = spark.sessionState.newHadoopConf()
    val dirPath = new org.apache.hadoop.fs.Path(dir)
    val fs = dirPath.getFileSystem(conf)
    // parse every retained snapshot's spill-file list the way attach does
    def snapshotRefs(): Seq[(String, Seq[String])] =
      graft.store.Versioned.list(fs, dirPath, graft.store.TopkSnapshot.Kind).map { e =>
        val in = fs.open(e.path)
        try (e.path.getName, graft.store.TopkSnapshot.decode(in, dir).files)
        finally in.close()
      }
    // each shifted append lands in fresh day-intervals, forcing a spill
    // batch per append; 20 appends cross compactThreshold 16 with a
    // publish between every spill, so compaction runs with both retained
    // snapshot versions live
    (1 to 20).foreach { i =>
      gs.appendToTopK("tk_compact", spark.table("events")
        .withColumn("ts", col("ts") + lit(i * 40L * 86400000L * 1000000L)))
      // the invariant the deferral exists for: an in-flight reader holding
      // EITHER retained snapshot must find every spill file it references
      snapshotRefs().foreach { case (snap, files) =>
        files.foreach { f =>
          assert(fs.exists(new org.apache.hadoop.fs.Path(f)),
            s"$snap references missing spill file $f")
        }
      }
    }
    val st = GraftState.of(spark).topks("tk_compact")
      .asInstanceOf[graft.topk.TopKState]
    assert(st.spillBatchCount <= 17,
      s"compaction must have run, got ${st.spillBatchCount} batches")
    // and the deferred deletes DRAIN: compacted-away batches disappear one
    // publish later, so the on-disk store stays bounded instead of
    // accumulating every pre-compaction batch forever
    val spillDir = new org.apache.hadoop.fs.Path(dir, GraftSession.TopkSpillDir)
    val onDisk = fs.listStatus(spillDir)
      .count(_.getPath.getName.startsWith("batch-"))
    assert(onDisk <= st.spillBatchCount + 17,
      s"deferred deletes must drain ($onDisk batch dirs on disk for " +
        s"${st.spillBatchCount} live)")
    // correctness through compaction + deferral: full-range counts exact
    val got = gs.queryTopK("tk_compact", k = 5).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val perApp = spark.table("events").groupBy(col("event_type")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === perApp.map { case (k, v) => k -> v * 21 },
      "counts must be exact through compaction with deferred deletion")
    // NO ORPHANS: the append path re-attaches a FRESH state every time, so
    // the deferral list must ride the snapshot header (`__retired`) — without
    // that, every compacted-away batch dir whose stamped entry died with
    // the previous state leaks as a dir no retained snapshot references
    val latest = GraftState.of(spark).topks("tk_compact")
      .asInstanceOf[graft.topk.TopKState]
    val referenced = snapshotRefs().flatMap(_._2)
      .map(f => new org.apache.hadoop.fs.Path(f).getName).toSet
    val pending = latest.retiredView
      .map { case (_, p) => new org.apache.hadoop.fs.Path(p).getName }.toSet
    val orphans = fs.listStatus(spillDir).toSeq
      .map(_.getPath.getName).filter(_.startsWith("batch-"))
      .filterNot(n => referenced.contains(n) || pending.contains(n))
    assert(orphans.isEmpty,
      s"unreferenced spill batch dirs leaked past the deferral: $orphans")
    gs.sql("DROP TOPK TABLE tk_compact")
  }

  test("repeated queries of a spill-active CMS table return identical estimates") {
    // merge folds must never use a stored bucket as the receiver: CMS merge
    // adds in place, so a resident bucket corrupted by one query would make
    // every subsequent query report larger counts
    gs.sql("CREATE TOPK TABLE tk_stable ON events OPTIONS(key 'event_type', " +
      "size '5', depth '5', width '256', timeSeriesColumn 'ts', " +
      "timeInterval '86400000', maxInterval '100', timeUnit 'ns', " +
      "maxDriverEntries '1400')")
    val st = GraftState.of(spark).topks("tk_stable")
      .asInstanceOf[graft.topk.TopKState]
    assert(st.spilledBucketCount > 0, "setup must spill (resident + spilled merge)")
    def snap(): Map[String, Long] = gs.queryTopK("tk_stable", k = 5).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val first = snap()
    (1 to 3).foreach { i =>
      assert(snap() === first, s"estimates drifted on repeated query #$i")
    }
    // and the point-frequency path shares the merge plumbing
    val key = first.keys.head
    val f1 = gs.queryFrequency("tk_stable", key)
    assert(gs.queryFrequency("tk_stable", key) === f1)
    gs.sql("DROP TOPK TABLE tk_stable")
  }

  test("append tolerates NULL time values; inverted windows answer empty") {
    import spark.implicits._
    gs.sql("CREATE TOPK TABLE tk_nullts ON events OPTIONS(key 'event_type', " +
      "streamSummary 'true', capacity '64', size '5', " +
      "timeSeriesColumn 'ts', timeInterval '86400000', timeUnit 'ns', " +
      "maxInterval '100')")
    val before = gs.queryTopK("tk_nullts", k = 5).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // one real row + one NULL-ts row: the null row is skipped (same policy
    // as null keys), not an NPE aborting the append
    val extra = Seq(("click", Some(1704067200000000000L)), ("click", None))
      .toDF("event_type", "ts")
    gs.appendToTopK("tk_nullts", extra)
    val after = gs.queryTopK("tk_nullts", k = 5).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(after("click") === before("click") + 1)
    // start bound past the end bound: provably empty, even though coarse
    // folded buckets overlap any inverted range symmetrically
    assert(gs.queryTopK("tk_nullts",
      1704672000000L, 1704067200000L, 5).collect().isEmpty)
    assert(gs.queryFrequency("tk_nullts", "click",
      1704672000000L, 1704067200000L).isEmpty)
    gs.sql("DROP TOPK TABLE tk_nullts")
  }

  test("programmatic camelCase option keys resolve (topkSink spelling)") {
    val o = graft.topk.TopKOptions.fromOptions(Map(
      "key" -> "k", "timeSeriesColumn" -> "ts", "timeInterval" -> "5s",
      "streamSummary" -> "true", "maxDriverEntries" -> "99"),
      java.time.ZoneId.of("UTC"))
    assert(o.timeSeriesColumn === Some("ts"))
    assert(o.timeIntervalMs === 5000L)
    assert(o.streamSummary && o.maxDriverEntries === 99L)
  }

  test("IF NOT EXISTS re-attach rejects drifted options; DROP retires the snapshot") {
    val dir = java.nio.file.Files.createTempDirectory("graft_tkd_").toString + "/tk"
    gs.sql("CREATE TOPK TABLE tk_drift ON events OPTIONS(key 'event_type', " +
      s"size '5', streamSummary 'true', capacity '100000', path '$dir')")
    val before = gs.queryTopK("tk_drift", k = 5).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // forget the registry (restart), then restate with a DIFFERENT size —
    // silently attaching the old snapshot would misdescribe the statement
    GraftState.of(spark).topks.remove("tk_drift")
    GraftState.of(spark).topkPaths.remove("tk_drift")
    spark.catalog.dropTempView("tk_drift")
    val e = intercept[IllegalArgumentException] {
      gs.sql("CREATE TOPK TABLE IF NOT EXISTS tk_drift ON events OPTIONS(" +
        s"key 'event_type', size '9', streamSummary 'true', capacity '100000', path '$dir')")
    }
    assert(e.getMessage.contains("snapshot"))
    // a PATH-ONLY (or partial) statement inherits the stored options — the
    // normal restart shape must not require restating every option
    gs.sql(s"CREATE TOPK TABLE IF NOT EXISTS tk_drift ON events OPTIONS(path '$dir')")
    assert(gs.queryTopK("tk_drift", k = 5).collect().map(_.getString(0)).toSet ===
      before.keySet)
    GraftState.of(spark).topks.remove("tk_drift")
    GraftState.of(spark).topkPaths.remove("tk_drift")
    spark.catalog.dropTempView("tk_drift")
    // identical options re-attach fine
    gs.sql("CREATE TOPK TABLE IF NOT EXISTS tk_drift ON events OPTIONS(" +
      s"key 'event_type', size '5', streamSummary 'true', capacity '100000', path '$dir')")
    // explicit DROP retires the persisted snapshot: a later IF NOT EXISTS
    // on the same path rebuilds from the base instead of resurrecting
    // stale counts
    gs.sql("DROP TOPK TABLE tk_drift")
    val conf = spark.sessionState.newHadoopConf()
    assert(!GraftSession.topkMetaExists(dir, conf),
      "DROP must delete the persisted snapshot meta")
    gs.sql("CREATE TOPK TABLE IF NOT EXISTS tk_drift ON events OPTIONS(" +
      s"key 'event_type', size '5', streamSummary 'true', capacity '100000', path '$dir')")
    val rebuilt = gs.queryTopK("tk_drift", k = 5).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rebuilt === before, "rebuild after DROP must replay the base once")
    gs.sql("DROP TOPK TABLE tk_drift")
  }

  test("error_bounds_info struct: flattened ApproximateType on API and SQL scan") {
    // reference exposes CMS `ErrorBoundsInfo` as an ApproximateType UDT and
    // Space-Saving `DeltaError` (`approximate/TopKUtil.scala:40-56`); here
    // both flatten to one (lower_bound, estimate, max, confidence) struct
    gs.sql("CREATE TOPK TABLE tk_ebi ON events OPTIONS(key 'event_type', " +
      "width '2000', depth '7', size '5')")
    val viaApi = gs.queryTopK("tk_ebi", k = 5).collect()
    viaApi.foreach { r =>
      val ebi = r.getStruct(3)
      assert(ebi.getLong(0) === r.getLong(2), "struct lower == flat lower")
      assert(ebi.getLong(1) === r.getLong(1), "struct estimate == flat estimate")
      assert(ebi.getLong(2) >= ebi.getLong(1), "max >= estimate")
      assert(math.abs(ebi.getDouble(3) - (1.0 - math.exp(-7))) < 1e-12)
    }
    val viaSql = gs.sql(
      """SELECT event_type, error_bounds_info.estimate, error_bounds_info.confidence
        |FROM tk_ebi ORDER BY 2 DESC""".stripMargin).collect()
    assert(viaSql.map(r => r.getString(0) -> r.getLong(1)).toMap ===
      viaApi.map(r => r.getString(0) -> r.getLong(1)).toMap)
    gs.sql("DROP TOPK TABLE tk_ebi")
    // Space-Saving: deterministic bounds, confidence 1.0; exact regime has
    // zero delta (lower == estimate == max)
    gs.sql("CREATE TOPK TABLE tk_ebi_ss ON events OPTIONS(key 'event_type', " +
      "streamSummary 'true', capacity '100000', size '5')")
    gs.queryTopK("tk_ebi_ss", k = 5).collect().foreach { r =>
      val ebi = r.getStruct(3)
      assert(ebi.getLong(0) === ebi.getLong(1) && ebi.getLong(1) === ebi.getLong(2))
      assert(ebi.getDouble(3) === 1.0)
    }
    gs.sql("DROP TOPK TABLE tk_ebi_ss")
  }

  test("combined time+item aggregation: exact windows, correct mode, summary rejected") {
    gs.sql("CREATE TOPK TABLE tk_both ON events OPTIONS(key 'event_type', " +
      "width '2000', depth '5', size '5', timeSeriesColumn 'ts', " +
      "timeInterval '86400000', maxInterval '4', timeUnit 'ns', " +
      "timeAndItemAggregation 'true')")
    val st = GraftState.of(spark).topks("tk_both").asInstanceOf[graft.topk.TopKState]
    assert(st.buckets.timeAndItem)
    assert(st.buckets.history.nonEmpty, "aged intervals must snapshot into blocks")
    // ample width + few keys: full-range AND old-window queries stay exact
    val expected = spark.table("events").groupBy(col("event_type")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = gs.queryTopK("tk_both", k = 5).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === expected)
    // an old daily window (inside the dyadic history span)
    val dayMs = 86400000L
    val w0 = 1704067200000L
    val windowed = gs.queryTopK("tk_both", w0, w0 + 5 * dayMs - 1, 5).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val windowedExact = spark.table("events")
      .filter(col("ts") >= lit(w0 * 1000000L) &&
        col("ts") < lit((w0 + 5 * dayMs) * 1000000L))
      .groupBy(col("event_type")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(windowed === windowedExact,
      "combined-mode ragged window must clip per interval, not over-cover")
    gs.sql("DROP TOPK TABLE tk_both")
    // the n̂ structure is CMS-family — Space-Saving has no matching cells
    val e = intercept[IllegalArgumentException] {
      gs.sql("CREATE TOPK TABLE tk_bad ON events OPTIONS(key 'event_type', " +
        "streamSummary 'true', capacity '100', timeAndItemAggregation 'true')")
    }
    assert(e.getMessage.contains("timeAndItemAggregation"))
  }

  test("combined mode: block spill drops member detail but keeps counts; survives re-attach") {
    val dir = java.nio.file.Files.createTempDirectory("graft_tkb_").toString + "/tk"
    // one CMS interval = 2*512+5 = 1029 entries; 30 daily intervals plus
    // full-width history blocks blow far past 4000, forcing block spills
    // (which take their member intervals with them — counts must not
    // double through the block+member overlap)
    gs.sql("CREATE TOPK TABLE tk_bspill ON events OPTIONS(key 'event_type', " +
      "width '512', depth '2', size '5', timeSeriesColumn 'ts', " +
      "timeInterval '86400000', maxInterval '100', timeUnit 'ns', " +
      s"timeAndItemAggregation 'true', maxDriverEntries '4000', path '$dir')")
    val st = GraftState.of(spark).topks("tk_bspill").asInstanceOf[graft.topk.TopKState]
    assert(st.spilledBucketCount > 0, "the guard must have forced a spill")
    assert(st.buckets.entryCount <= 4000,
      s"driver still holds ${st.buckets.entryCount} counters")
    val expected = spark.table("events").groupBy(col("event_type")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = gs.queryTopK("tk_bspill", k = 5).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === expected, "block spill must neither lose nor double counts")
    // restart: snapshot + meta carry the combined mode through re-attach
    GraftState.of(spark).topks.remove("tk_bspill")
    GraftState.of(spark).topkPaths.remove("tk_bspill")
    spark.catalog.dropTempView("tk_bspill")
    gs.attachTopKTable("tk_bspill", dir)
    val st2 = GraftState.of(spark).topks("tk_bspill").asInstanceOf[graft.topk.TopKState]
    assert(st2.opts.timeAndItemAggregation && st2.buckets.timeAndItem,
      "re-attach must restore the combined mode")
    val reattached = gs.queryTopK("tk_bspill", k = 5).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(reattached === expected)
    gs.sql("DROP TOPK TABLE tk_bspill")
  }
}
