package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * Multi-session catalog consistency over one "warehouse" (shared persist
 * paths) — the local[n] analogue of the reference's
 * `AQPCatalogConsistencyDUnitTest`: registry entries are per-session
 * (like temp views), the durable ground truth is the path, and
 * create/drop/attach must propagate through it.
 *
 * The attach-vs-rebuild distinction is pinned by a marker append in the
 * creating session: the re-persisted snapshot includes the appended batch,
 * so a session that ATTACHES sees the appended counts while a session that
 * silently re-created from the base would not.
 */
class ConcurrentCatalogSpec extends AnyFunSuite {
  import TestSpark._

  private def freshSession(): (SparkSession, GraftSession) = {
    val s = spark.newSession()
    // runtime conf mutations don't propagate into new sessions
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    eventsLongNs(s).createOrReplaceTempView("events")
    s.read.parquet(s"$sf/lineitem.parquet").createOrReplaceTempView("lineitem")
    (s, GraftSession(s))
  }

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("path-backed sample: second session re-attaches (appends visible), never resamples") {
    val dir = tmpDir("graft_cc_s") + "/s"
    val (sA, gA) = freshSession()
    gA.sql("CREATE SAMPLE TABLE cc_sample ON lineitem OPTIONS(" +
      s"qcs 'l_returnflag', fraction '0.2', path '$dir')")
    val beforeAppend = sA.table("cc_sample").count()
    // marker batch: distinctive orderkeys far outside the base range
    import sA.implicits._
    val marker = sA.table("lineitem").limit(50)
      .withColumn("l_orderkey", col("l_orderkey") + lit(900000000L))
    gA.appendToSample("cc_sample", marker)
    val merged = sA.table("cc_sample")
    val mergedCount = merged.count()
    val markerKept = merged.filter(col("l_orderkey") >= 900000000L).count()
    assert(markerKept > 0, "the marker batch must land in the sample")

    val (sB, gB) = freshSession()
    gB.sql("CREATE SAMPLE TABLE IF NOT EXISTS cc_sample ON lineitem OPTIONS(" +
      s"qcs 'l_returnflag', fraction '0.2', path '$dir')")
    val attached = sB.table("cc_sample")
    assert(attached.count() === mergedCount,
      "session B must attach the persisted sample (merged rows), not resample")
    assert(attached.filter(col("l_orderkey") >= 900000000L).count() === markerKept,
      "the appended batch must be visible in session B")
    // registry metadata carried over
    val info = GraftState.of(sB).samples("cc_sample")
    assert(info.qcs.map(_.toLowerCase) === Seq("l_returnflag") &&
      info.fraction === 0.2)
    assert(beforeAppend < mergedCount)
  }

  test("path-backed TopK: second session re-attaches the appended snapshot, no replay") {
    val dir = tmpDir("graft_cc_t") + "/tk"
    val (_, gA) = freshSession()
    gA.sql("CREATE TOPK TABLE cc_topk ON events OPTIONS(key 'event_type', " +
      s"size '5', streamSummary 'true', capacity '100000', path '$dir')")
    val single = gA.queryTopK("cc_topk", k = 5).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // append the whole base once more — the persisted snapshot now holds 2×,
    // which is the attach-vs-rebuild signature for session B
    gA.appendToTopK("cc_topk", gA.spark.table("events"))

    val (_, gB) = freshSession()
    gB.sql("CREATE TOPK TABLE IF NOT EXISTS cc_topk ON events OPTIONS(" +
      s"key 'event_type', size '5', streamSummary 'true', capacity '100000', path '$dir')")
    val attached = gB.queryTopK("cc_topk", k = 5).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    single.foreach { case (k, v) =>
      assert(attached(k) === 2 * v,
        s"B must see the appended snapshot for $k (attach), got " +
          s"${attached(k)} vs single-replay $v — a rebuild or a " +
          "double-replay both break this")
    }
  }

  test("concurrent IF NOT EXISTS across sessions: every session attaches, none replays") {
    val dir = tmpDir("graft_cc_p") + "/tk"
    val (_, gA) = freshSession()
    gA.sql("CREATE TOPK TABLE cc_race ON events OPTIONS(key 'event_type', " +
      s"size '5', streamSummary 'true', capacity '100000', path '$dir')")
    val expected = gA.queryTopK("cc_race", k = 5).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

    val contenders = (1 to 4).map(_ => freshSession())
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val futures = contenders.map { case (_, g) =>
        pool.submit(new java.util.concurrent.Callable[Map[String, Long]] {
          override def call(): Map[String, Long] = {
            g.sql("CREATE TOPK TABLE IF NOT EXISTS cc_race ON events OPTIONS(" +
              s"key 'event_type', size '5', streamSummary 'true', " +
              s"capacity '100000', path '$dir')")
            g.queryTopK("cc_race", k = 5).collect()
              .map(r => r.getString(0) -> r.getLong(1)).toMap
          }
        })
      }
      futures.foreach { f =>
        assert(f.get(120, java.util.concurrent.TimeUnit.SECONDS) === expected,
          "every contender must answer the persisted snapshot's counts")
      }
    } finally pool.shutdownNow()
  }

  test("concurrent IF NOT EXISTS within ONE session: single consistent structure") {
    val dir = tmpDir("graft_cc_q") + "/tk"
    val (_, seeder) = freshSession()
    seeder.sql("CREATE TOPK TABLE cc_same ON events OPTIONS(key 'event_type', " +
      s"size '5', streamSummary 'true', capacity '100000', path '$dir')")
    val expected = seeder.queryTopK("cc_same", k = 5).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

    val (_, g) = freshSession()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val futures = (1 to 4).map { _ =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          override def call(): Unit =
            g.sql("CREATE TOPK TABLE IF NOT EXISTS cc_same ON events OPTIONS(" +
              s"key 'event_type', size '5', streamSummary 'true', " +
              s"capacity '100000', path '$dir')")
        })
      }
      futures.foreach(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
    } finally pool.shutdownNow()
    val got = g.queryTopK("cc_same", k = 5).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === expected, "racing IF NOT EXISTS must settle on the snapshot")
  }

  test("concurrent APPENDs from two sessions both land (reload-merge-publish under the path lock)") {
    val dir = tmpDir("graft_cc_a") + "/tk"
    val (_, gA) = freshSession()
    gA.sql("CREATE TOPK TABLE cc_app ON events OPTIONS(key 'event_type', " +
      s"size '5', streamSummary 'true', capacity '100000', path '$dir')")
    val base = gA.queryTopK("cc_app", k = 5).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

    // two sessions attach, then append DISTINCT marker batches concurrently
    val (sB, gB) = freshSession()
    val (sC, gC) = freshSession()
    Seq(gB, gC).foreach(_.sql(
      "CREATE TOPK TABLE IF NOT EXISTS cc_app ON events OPTIONS(" +
        s"key 'event_type', size '5', streamSummary 'true', " +
        s"capacity '100000', path '$dir')"))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      import sB.implicits._
      val futures = Seq(
        (gB, Seq.fill(120)("mk_b")), (gC, Seq.fill(80)("mk_c"))).map {
        case (g, rows) =>
          pool.submit(new java.util.concurrent.Callable[Unit] {
            override def call(): Unit =
              g.appendToTopK("cc_app", rows.toDF("event_type"))
          })
      }
      futures.foreach(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
    } finally pool.shutdownNow()

    // a fresh attach must see BOTH marker batches (serialized merge, no
    // lost update) and the base counts untouched
    val (_, gD) = freshSession()
    gD.sql("CREATE TOPK TABLE IF NOT EXISTS cc_app ON events OPTIONS(" +
      s"key 'event_type', size '5', streamSummary 'true', " +
      s"capacity '100000', path '$dir')")
    assert(gD.queryFrequency("cc_app", "mk_b").map(_._2) === Some(120L),
      "session B's concurrent append must survive C's publish")
    assert(gD.queryFrequency("cc_app", "mk_c").map(_._2) === Some(80L),
      "session C's concurrent append must survive B's publish")
    base.foreach { case (k, v) =>
      assert(gD.queryFrequency("cc_app", k).map(_._2) === Some(v),
        s"base counts for $k must be unchanged by the concurrent appends")
    }
  }

  test("another session's spill of a bucket resident HERE never double-counts") {
    val dir = tmpDir("graft_cc_i") + "/tk"
    val (sA, gA) = freshSession()
    import sA.implicits._
    def batch(days: Range, copies: Int) =
      (for { d <- days; k <- 0 until 100; _ <- 0 until copies }
        yield (d.toLong * 86400000L, s"key$k")).toDF("ts", "k")
    batch(0 until 10, 2).createOrReplaceTempView("cc_iso_base")
    // 100 distinct keys per day-interval; the 350-entry guard keeps ~3
    // intervals resident and spills the rest. capacity 300 ≥ distinct keys,
    // so every count stays EXACT through Space-Saving and the spill store.
    gA.sql("CREATE TOPK TABLE cc_iso ON cc_iso_base OPTIONS(key 'k', " +
      "timeSeriesColumn 'ts', timeInterval '86400000', timeUnit 'ms', " +
      "streamSummary 'true', capacity '300', size '5', " +
      s"maxDriverEntries '350', path '$dir')")
    assert(gA.queryFrequency("cc_iso", "key5").map(_._2) === Some(20L))

    // B attaches the published snapshot: some buckets spilled, some resident
    val (_, gB) = freshSession()
    gB.sql("CREATE TOPK TABLE IF NOT EXISTS cc_iso ON cc_iso_base OPTIONS(" +
      "key 'k', timeSeriesColumn 'ts', timeInterval '86400000', " +
      "timeUnit 'ms', streamSummary 'true', capacity '300', size '5', " +
      s"maxDriverEntries '350', path '$dir')")

    // A appends two more intervals — this SPILLS buckets that are still
    // RESIDENT in B's attached view, into the shared spill directory
    gA.appendToTopK("cc_iso", batch(10 until 12, 2))
    assert(gA.queryFrequency("cc_iso", "key5").map(_._2) === Some(24L),
      "A's own view includes its append")

    // B's queries read B's snapshot view: the re-spilled buckets must be
    // counted ONCE (from B's resident state), not again from the spill dir
    // another session wrote into. Stale (pre-append) is correct; 24 or
    // anything above 20 is the double-count bug.
    assert(gB.queryFrequency("cc_iso", "key5").map(_._2) === Some(20L),
      "B must see exactly its attached snapshot — a bucket merged from " +
        "both resident state and another session's spill double-counts")
  }

  test("stale lock is lease-broken; torn publish temps are ignored on attach") {
    val dir = tmpDir("graft_cc_l") + "/tk"
    val (sA, gA) = freshSession()
    gA.sql("CREATE TOPK TABLE cc_lock ON events OPTIONS(key 'event_type', " +
      s"size '5', streamSummary 'true', capacity '100000', path '$dir')")
    val single = gA.queryTopK("cc_lock", k = 5).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

    // a crashed writer left its lock behind an hour ago — the next append
    // must break the lease and proceed instead of deadlocking
    val lock = new java.io.File(dir, "_graft.lock")
    assert(lock.createNewFile())
    assert(lock.setLastModified(System.currentTimeMillis() - 3600L * 1000))
    gA.appendToTopK("cc_lock", sA.table("events"))
    assert(gA.queryTopK("cc_lock", k = 5).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap === single.map {
      case (k, v) => k -> 2 * v
    }, "append must proceed through a stale lock")

    // a crashed publish leaves a torn .tmp snapshot — attach must ignore it
    val torn = new java.io.File(dir, graft.store.TopkSnapshot.Kind + ".999.tmp-zz")
    val w = new java.io.FileOutputStream(torn)
    try w.write(Array[Byte](1, 2, 3)) finally w.close()
    val (_, gE) = freshSession()
    gE.sql("CREATE TOPK TABLE IF NOT EXISTS cc_lock ON events OPTIONS(" +
      s"key 'event_type', size '5', streamSummary 'true', " +
      s"capacity '100000', path '$dir')")
    assert(gE.queryTopK("cc_lock", k = 5).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap === single.map {
      case (k, v) => k -> 2 * v
    }, "attach must read the published snapshot and ignore torn temps")
  }

  test("a sample-meta update killed inside its replace leaves the store attachable") {
    val dir = tmpDir("graft_cc_sm") + "/s"
    val (sA, gA) = freshSession()
    import sA.implicits._
    Seq("seed").toDF("event_type").createOrReplaceTempView("cc_sm_base")
    gA.sql("CREATE SAMPLE TABLE cc_smeta ON cc_sm_base OPTIONS(" +
      s"qcs 'event_type', fraction '1.0', path '$dir')")
    gA.appendToSampleForBatch("cc_smeta", Seq.fill(30)("b0").toDF("event_type"), "cc_sm", 0L)
    // the meta replace is one rename to a fresh name: batch 1's meta
    // update is killed right after it, before the GC of the old version
    graft.store.Versioned.stepHook = (kind, step) =>
      if (kind == graft.store.SampleMeta.Kind && step == "rename") {
        throw new IllegalStateException("killed inside the meta replace")
      }
    try intercept[IllegalStateException] {
      gA.appendToSampleForBatch("cc_smeta", Seq.fill(20)("b1").toDF("event_type"), "cc_sm", 1L)
    } finally graft.store.Versioned.stepHook = (_, _) => ()
    sA.catalog.refreshByPath(dir)
    val full = sA.read.parquet(dir).count()

    val (sE, gE) = freshSession()
    sE.createDataFrame(Seq(Tuple1("seed"))).toDF("event_type")
      .createOrReplaceTempView("cc_sm_base")
    gE.sql("CREATE SAMPLE TABLE IF NOT EXISTS cc_smeta ON cc_sm_base OPTIONS(" +
      s"qcs 'event_type', fraction '1.0', path '$dir')")
    val attached = sE.table("cc_smeta")
    assert(attached.count() === full, "a resumed session must attach, not resample")
    assert(attached.filter(col("event_type") === "b0").count() === 30)
    assert(attached.filter(col("event_type") === "b1").count() === 20)
    gE.appendToSampleForBatch("cc_smeta",
      sE.createDataFrame(Seq.fill(7)(Tuple1("replay"))).toDF("event_type"), "cc_sm", 1L)
    sE.catalog.refreshByPath(dir)
    assert(sE.read.parquet(dir).count() === full, "the replay of batch 1 must be fenced")
  }

  test("concurrent sample APPENDs from two sessions: both batches land") {
    val dir = tmpDir("graft_cc_sa") + "/s"
    val (_, gA) = freshSession()
    gA.sql("CREATE SAMPLE TABLE cc_sapp ON lineitem OPTIONS(" +
      s"qcs 'l_returnflag', fraction '0.3', path '$dir')")

    val (sB, gB) = freshSession()
    val (sC, gC) = freshSession()
    Seq(gB, gC).foreach(_.sql(
      "CREATE SAMPLE TABLE IF NOT EXISTS cc_sapp ON lineitem OPTIONS(" +
        s"qcs 'l_returnflag', fraction '0.3', path '$dir')"))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val futures = Seq((sB, gB, 800000000L), (sC, gC, 900000000L)).map {
        case (s, g, shift) =>
          pool.submit(new java.util.concurrent.Callable[Unit] {
            override def call(): Unit = {
              val marker = s.table("lineitem").limit(60)
                .withColumn("l_orderkey", col("l_orderkey") + lit(shift))
              g.appendToSample("cc_sapp", marker)
            }
          })
      }
      futures.foreach(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
    } finally pool.shutdownNow()

    val (sD, gD) = freshSession()
    gD.sql("CREATE SAMPLE TABLE IF NOT EXISTS cc_sapp ON lineitem OPTIONS(" +
      s"qcs 'l_returnflag', fraction '0.3', path '$dir')")
    val attached = sD.table("cc_sapp")
    assert(attached.filter(col("l_orderkey").between(800000000L, 899999999L))
      .count() > 0, "session B's appended batch must be present")
    assert(attached.filter(col("l_orderkey") >= 900000000L).count() > 0,
      "session C's appended batch must be present")
  }

  test("DROP racing a concurrent APPEND: the path ends retired, never a resurrected snapshot") {
    val dir = tmpDir("graft_cc_da") + "/tk"
    val (_, gA) = freshSession()
    gA.sql("CREATE TOPK TABLE cc_dropr ON events OPTIONS(key 'event_type', " +
      s"size '5', streamSummary 'true', capacity '100000', path '$dir')")
    val (sB, gB) = freshSession()
    val (_, gC) = freshSession()
    Seq(gB, gC).foreach(_.sql(
      "CREATE TOPK TABLE IF NOT EXISTS cc_dropr ON events OPTIONS(" +
        s"key 'event_type', size '5', streamSummary 'true', " +
        s"capacity '100000', path '$dir')"))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      import sB.implicits._
      val append = pool.submit(new java.util.concurrent.Callable[Unit] {
        override def call(): Unit =
          // may fail loudly when the drop wins the lock first — both
          // orders must leave the path retired
          try gB.appendToTopK("cc_dropr", Seq.fill(50)("mk_x").toDF("event_type"))
          catch { case _: Exception => }
      })
      val drop = pool.submit(new java.util.concurrent.Callable[Unit] {
        override def call(): Unit = gC.sql("DROP TOPK TABLE cc_dropr")
      })
      append.get(120, java.util.concurrent.TimeUnit.SECONDS)
      drop.get(120, java.util.concurrent.TimeUnit.SECONDS)
    } finally pool.shutdownNow()
    // whichever order the lock served them in, the drop's retirement is
    // terminal: no registry metadata may survive on the path
    assert(!GraftSession.topkMetaExists(dir,
      TestSpark.spark.sessionState.newHadoopConf()),
      "a DROP racing an append must leave the path retired — a surviving " +
        "meta is the resurrection bug")
  }

  test("DROP in one session retires the snapshot: a fresh session rebuilds, never resurrects") {
    val dir = tmpDir("graft_cc_d") + "/tk"
    val (_, gA) = freshSession()
    gA.sql("CREATE TOPK TABLE cc_drop ON events OPTIONS(key 'event_type', " +
      s"size '5', streamSummary 'true', capacity '100000', path '$dir')")
    val single = gA.queryTopK("cc_drop", k = 5).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // doubled snapshot on disk, then DROP from A — the stale 2× counts must
    // not be re-attachable anywhere
    gA.appendToTopK("cc_drop", gA.spark.table("events"))
    gA.sql("DROP TOPK TABLE cc_drop")

    val (_, gC) = freshSession()
    gC.sql("CREATE TOPK TABLE IF NOT EXISTS cc_drop ON events OPTIONS(" +
      s"key 'event_type', size '5', streamSummary 'true', capacity '100000', path '$dir')")
    val rebuilt = gC.queryTopK("cc_drop", k = 5).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rebuilt === single,
      "after a DROP the fresh session must rebuild from the base once " +
        "(resurrecting the dropped 2x snapshot is the AQP-catalog bug)")
  }
}
