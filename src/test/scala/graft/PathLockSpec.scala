package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.scalatest.funsuite.AnyFunSuite

/**
 * In-JVM contract of [[GraftSession.withPathLock]]'s heartbeat lease:
 * liveness (a fresh heartbeat), not wall time, gates lease-breaking. The
 * pre-heartbeat design presumed any holder older than `leaseMs` dead —
 * under load a LIVE slow holder (recovery republication scales with store
 * size) was broken mid-critical-section (observed: a reader listing
 * mid-delete). The cross-process leg lives in [[CrossJvmConcurrencySpec]]
 * ("stalled-but-alive holder"); these threads pin the same rules cheaply
 * and deterministically in one JVM (the heartbeat/break mechanics are
 * identical — both sides see only the shared filesystem's mtime).
 */
class PathLockSpec extends AnyFunSuite {
  import TestSpark._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_lock").toString

  test("a live holder stalled well past the lease is NOT broken") {
    val s = spark.newSession()
    val dir = tmp()
    s.conf.set("spark.graft.pathLock.leaseMs", "1000")
    s.conf.set("spark.graft.pathLock.acquireTimeoutMs", "60000")
    try {
      val acquired = new CountDownLatch(1)
      val published = new java.util.concurrent.atomic.AtomicBoolean(false)
      val holderErr = new java.util.concurrent.atomic.AtomicReference[Throwable]()
      val holder = new Thread(() => {
        try GraftSession.withPathLock(s, dir) {
          acquired.countDown()
          // stall 4× the lease: the old fixed-lease contract broke this
          // holder after ~1 s; the heartbeat must keep it alive
          Thread.sleep(4000)
          published.set(true)
        } catch { case t: Throwable => holderErr.set(t); acquired.countDown() }
      })
      holder.start()
      assert(acquired.await(30, TimeUnit.SECONDS), "holder never acquired")
      assert(holderErr.get() == null, s"holder failed: ${holderErr.get()}")
      // contend for the whole stall — entry must come only after the
      // holder's publish landed
      GraftSession.withPathLock(s, dir) {
        assert(published.get(),
          "waiter entered before the live holder finished — the lease was " +
            "broken despite a fresh heartbeat")
      }
      holder.join(10000)
      assert(holderErr.get() == null, s"holder failed: ${holderErr.get()}")
    } finally {
      s.conf.unset("spark.graft.pathLock.leaseMs")
      s.conf.unset("spark.graft.pathLock.acquireTimeoutMs")
    }
  }

  test("a waiter gives up loudly after acquireTimeoutMs on a LIVE holder") {
    val s = spark.newSession()
    val dir = tmp()
    s.conf.set("spark.graft.pathLock.leaseMs", "1000")
    try {
      val acquired = new CountDownLatch(1)
      val release = new CountDownLatch(1)
      val holder = new Thread(() => {
        GraftSession.withPathLock(s, dir) {
          acquired.countDown()
          release.await(30, TimeUnit.SECONDS)
        }
      })
      holder.setDaemon(true)
      holder.start()
      assert(acquired.await(30, TimeUnit.SECONDS))
      s.conf.set("spark.graft.pathLock.acquireTimeoutMs", "1500")
      val e = intercept[IllegalStateException] {
        GraftSession.withPathLock(s, dir) { fail("must not enter") }
      }
      assert(e.getMessage.contains("LIVE writer"),
        s"give-up must name the live holder, got: ${e.getMessage}")
      release.countDown()
      holder.join(10000)
    } finally {
      s.conf.unset("spark.graft.pathLock.leaseMs")
      s.conf.unset("spark.graft.pathLock.acquireTimeoutMs")
    }
  }

  test("an abandoned lock (no heartbeat) is broken within one lease") {
    val s = spark.newSession()
    val dir = tmp()
    // simulate a crashed holder: a lock file nobody refreshes, mtime in
    // the past — the successor must break it and proceed
    new java.io.File(dir).mkdirs()
    val lock = new java.io.File(dir, "_graft.lock")
    assert(lock.createNewFile())
    lock.setLastModified(System.currentTimeMillis() - 5000)
    s.conf.set("spark.graft.pathLock.leaseMs", "1000")
    try {
      val t0 = System.nanoTime()
      var entered = false
      GraftSession.withPathLock(s, dir) { entered = true }
      assert(entered)
      assert((System.nanoTime() - t0) / 1e9 < 10.0,
        "breaking a dead holder must not wait out the acquire timeout")
      assert(!lock.exists(), "the successor must release cleanly")
    } finally s.conf.unset("spark.graft.pathLock.leaseMs")
  }

  // ---------------------------------------------------------------------
  // Store-level fencing: the residual hazard of any lease scheme is a
  // WHOLE-PROCESS stall (VM pause) longer than the lease — the frozen
  // holder resumes after a waiter broke the lock and its in-flight writes
  // would interleave with the successor's. The fence epoch in
  // epoch files + commit-point validation + reader-side quarantine
  // close it. heartbeatFreezeHook simulates the freeze deterministically.
  // ---------------------------------------------------------------------

  private def withFrozenFirstHolder(dirTag: String)(body: => Unit): Unit = {
    val frozen = new java.util.concurrent.atomic.AtomicReference[String](null)
    graft.store.PathLock.heartbeatFreezeHook = (p, tok) => {
      if (p.contains(dirTag)) {
        frozen.compareAndSet(null, tok)
        tok == frozen.get
      } else false
    }
    try body finally graft.store.PathLock.heartbeatFreezeHook = (_, _) => false
  }

  test("a frozen holder's publish is fenced at the commit point") {
    val s = spark.newSession()
    val dir = java.nio.file.Files
      .createTempDirectory("graft_fence_commit").toString
    s.conf.set("spark.graft.pathLock.leaseMs", "500")
    try withFrozenFirstHolder("graft_fence_commit") {
      val acquired = new CountDownLatch(1)
      val broken = new CountDownLatch(1)
      val outcome = new java.util.concurrent.atomic.AtomicReference[Any]()
      val holder = new Thread(() => {
        try GraftSession.withPathLock(s, dir) {
          acquired.countDown()
          // "VM pause": the heartbeat is frozen by the hook; wait until
          // the successor has broken the lease, then try to publish
          assert(broken.await(30, TimeUnit.SECONDS))
          try {
            GraftSession.assertStoreFence(s, dir)
            outcome.set("published")
          } catch { case e: FencedLockException => outcome.set(e) }
        } catch { case t: Throwable => outcome.set(t); acquired.countDown() }
      })
      holder.start()
      assert(acquired.await(30, TimeUnit.SECONDS))
      // successor: breaks the stale heartbeat (frozen holder never
      // refreshes), bumps the fence, publishes, releases
      GraftSession.withPathLock(s, dir) {
        GraftSession.assertStoreFence(s, dir) // the LIVE holder passes
      }
      broken.countDown()
      holder.join(30000)
      assert(outcome.get().isInstanceOf[FencedLockException],
        s"the zombie's commit must be fenced, got: ${outcome.get()}")
    } finally s.conf.unset("spark.graft.pathLock.leaseMs")
  }

  test("readSample quarantines a zombie's same-batch files; readers never see them") {
    val s = spark.newSession()
    val g = new GraftSession(s)
    import s.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft_fence_read").toString
    Seq("seed").toDF("event_type").createOrReplaceTempView("zz_base")
    g.sql("CREATE SAMPLE TABLE zz_sample ON zz_base OPTIONS(" +
      s"qcs 'event_type', fraction '1.0', path '$root/sample')")
    g.appendToSampleForBatch("zz_sample",
      Seq.fill(40)("zb0").toDF("event_type"), "zz_stream", 0L)
    val expected = g.readSample("zz_sample").count()
    // zombie residue: a lease-broken holder re-published batch 0 files
    // stamped with its SUPERSEDED epoch (here: a byte-copy of a real
    // batch-0 file under a lower `.e` tag — the duplicate-rows shape a
    // replayed publish leaves). Commit-point checks stop most of these;
    // this is the one that slipped through the microsecond window.
    val sampleDir = new java.io.File(s"$root/sample")
    val published = sampleDir.listFiles()
      .filter(f => f.getName.startsWith("stream-") &&
        f.getName.contains("-b0-")).head
    assert(published.getName.matches(".*\\.e[0-9]+\\.parquet"),
      s"publishes must be epoch-stamped: ${published.getName}")
    // the zombie's epoch is strictly OLDER than the batch's current one
    // (the successor that re-published acquired later, so its epoch is
    // higher by construction)
    val epoch = "\\.e([0-9]+)\\.parquet$".r
      .findFirstMatchIn(published.getName).get.group(1).toLong
    val zombieName = published.getName
      .replaceAll("-([0-9]+)\\.e[0-9]+\\.parquet$",
        s"-7.e${epoch - 1}.parquet")
    java.nio.file.Files.copy(published.toPath,
      new java.io.File(sampleDir, zombieName).toPath)
    // the strong reader: pinned snapshot excludes + quarantines the zombie
    assert(g.readSample("zz_sample").count() === expected,
      "readSample must not serve a superseded epoch's rows")
    assert(new java.io.File(sampleDir, s".fenced-$zombieName").exists(),
      "the zombie file must be quarantined under a dot prefix")
    assert(!new java.io.File(sampleDir, zombieName).exists())
    // the weak reader benefits too: dot-prefixed files are invisible
    assert(s.read.parquet(s"$root/sample").count() === expected)
    // and the next publish of that batch sweeps the quarantine with its
    // other leftovers (recovery owns the whole batch-prefix namespace)
    g.dropSampleTable("zz_sample")
  }

  test("a frozen TopK holder cannot clobber the successor's snapshot") {
    val s = spark.newSession()
    val g = new GraftSession(s)
    import s.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_fence_topk").toString
    Seq.fill(30)("k1").toDF("event_type")
      .createOrReplaceTempView("zz_topk_base")
    g.createTopK("zz_topk", "zz_topk_base", Map(
      "key" -> "event_type", "size" -> "5", "path" -> dir))
    val (hd, conf) = hadoopDir(s, dir)
    def snapshots() = graft.store.Versioned.list(hd.getFileSystem(conf), hd,
      graft.store.TopkSnapshot.Kind).map(_.path.getName)
    s.conf.set("spark.graft.pathLock.leaseMs", "500")
    try withFrozenFirstHolder("graft_fence_topk") {
      val acquired = new CountDownLatch(1)
      val broken = new CountDownLatch(1)
      val outcome = new java.util.concurrent.atomic.AtomicReference[Any]()
      val holder = new Thread(() => {
        try GraftSession.withPathLock(s, dir) {
          acquired.countDown()
          assert(broken.await(30, TimeUnit.SECONDS))
          try outcome.set(g.saveTopK("zz_topk", dir))
          catch { case e: FencedLockException => outcome.set(e) }
        } catch { case t: Throwable => outcome.set(t); acquired.countDown() }
      })
      holder.start()
      assert(acquired.await(30, TimeUnit.SECONDS))
      GraftSession.withPathLock(s, dir) { () } // break + take the next epoch
      val before = snapshots()
      broken.countDown()
      holder.join(30000)
      assert(outcome.get().isInstanceOf[FencedLockException],
        s"the zombie's saveTopK must be fenced, got: ${outcome.get()}")
      assert(snapshots() === before, "the zombie must not have published")
    } finally s.conf.unset("spark.graft.pathLock.leaseMs")
  }

  // ---------------------------------------------------------------------
  // Acquire-time fence: the epoch create is NOT atomic with the lock
  // create. A holder frozen between the two can resume after a
  // successor's takeover — it must stand down at its own verify. Epoch
  // files are created exclusively, so no two holders share one, and fence
  // state must survive loss of the fence files themselves.
  // ---------------------------------------------------------------------

  private def hadoopDir(s: org.apache.spark.sql.SparkSession, dir: String) =
    (new org.apache.hadoop.fs.Path(dir), s.sessionState.newHadoopConf())

  private def fenceEpochs(hd: org.apache.hadoop.fs.Path,
      conf: org.apache.hadoop.conf.Configuration): Seq[Long] =
    graft.store.PathLock.fenceEpochs(hd.getFileSystem(conf), hd)

  private def createEpoch(hd: org.apache.hadoop.fs.Path,
      conf: org.apache.hadoop.conf.Configuration, epoch: Long, token: String): Boolean =
    graft.store.PathLock.createExclusive(hd.getFileSystem(conf),
      graft.store.PathLock.fenceFile(hd, epoch), token.getBytes("UTF-8"))

  test("a holder frozen between lock create and fence bump stands down") {
    val s = spark.newSession()
    val dir = tmp()
    val (hd, conf) = hadoopDir(s, dir)
    // the hook fires in the exact window the non-atomic create→epoch
    // sequence leaves open; it simulates the successor's FULL takeover
    // while the first acquirer was frozen there: lease-break (lock
    // re-created under a new token) + the next fence epoch
    val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
    graft.store.Versioned.stepHook = (kind, step) => {
      if (kind == graft.store.PathLock.FenceKind && step == "create" &&
          fired.compareAndSet(false, true)) {
        val lock = new java.io.File(dir, "_graft.lock")
        assert(lock.delete())
        java.nio.file.Files.write(lock.toPath, "successor-token".getBytes("UTF-8"))
        assert(createEpoch(hd, conf, fenceEpochs(hd, conf).max + 1, "successor-token"))
      }
    }
    try {
      val e = intercept[FencedLockException] {
        GraftSession.withPathLock(s, dir) {
          fail("a superseded acquirer must never enter the critical section")
        }
      }
      assert(e.getMessage.contains("standing down"))
      // the stood-down holder withdrew its epoch; the successor's is the
      // store's fence
      assert(fenceEpochs(hd, conf) === Seq(2L))
      assert(new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
        graft.store.PathLock.fenceFile(hd, 2L).toString)), "UTF-8") === "successor-token")
    } finally graft.store.Versioned.stepHook = (_, _) => ()
  }

  test("a held fence epoch cannot be taken twice; a higher epoch fences the holder") {
    val s = spark.newSession()
    val dir = tmp()
    val (hd, conf) = hadoopDir(s, dir)
    GraftSession.withPathLock(s, dir) { () } // epoch 1
    GraftSession.withPathLock(s, dir) {
      val h = graft.store.PathLock.heldFence(s, dir).get
      assert(h.epoch === 2L)
      // a stalled acquirer that read the same previous epoch: its create
      // of the held epoch under another token fails
      assert(!createEpoch(hd, conf, h.epoch, "zombie-token"))
      GraftSession.assertStoreFence(s, dir) // the holder is not disturbed
      // a REAL takeover (higher epoch) still fences us
      assert(createEpoch(hd, conf, h.epoch + 1, "successor-token"))
      intercept[FencedLockException] { GraftSession.assertStoreFence(s, dir) }
    }
    // the next acquisition moves past the successor's epoch, and GC keeps
    // only the epoch before its own
    GraftSession.withPathLock(s, dir) { () }
    assert(fenceEpochs(hd, conf) === Seq(3L, 4L))
  }

  test("fence epochs survive fence-file loss: seeded from artifact stamps") {
    val s = spark.newSession()
    val dir = tmp()
    // a store whose fence files were lost (copied store, swept underscore
    // files) while published artifacts retain epoch stamps — restarting
    // at 1 would let readSample's max-epoch rule quarantine a legitimate
    // fresh republish in favor of these stale files
    java.nio.file.Files.createFile(java.nio.file.Paths.get(dir,
      "stream-x-abcd1234-b0-0.e7.parquet"))
    java.nio.file.Files.createFile(java.nio.file.Paths.get(dir,
      ".fenced-stream-x-abcd1234-b0-1.e4.parquet"))
    java.nio.file.Files.createFile(java.nio.file.Paths.get(dir,
      graft.store.TopkSnapshot.Kind + ".3.f9"))
    java.nio.file.Files.createFile(java.nio.file.Paths.get(dir,
      "part-00000-plain.c000.parquet")) // unstamped: contributes nothing
    var heldEpoch = -1L
    GraftSession.withPathLock(s, dir) {
      heldEpoch = graft.store.PathLock.heldFence(s, dir).get.epoch
    }
    assert(heldEpoch === 10L,
      s"epoch must seed past the max artifact stamp (9), got $heldEpoch")
  }

  test("an append fenced mid-job lands nothing; a live append publishes epoch-stamped files") {
    val s = spark.newSession()
    val g = new GraftSession(s)
    import s.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft_fence_append").toString
    Seq("a", "b").toDF("event_type").createOrReplaceTempView("zz_ap_base")
    g.sql("CREATE SAMPLE TABLE zz_ap ON zz_ap_base OPTIONS(" +
      s"qcs 'event_type', fraction '1.0', path '$root/sample')")
    val sampleDir = new java.io.File(s"$root/sample")
    val (hd, conf) = hadoopDir(s, s"$root/sample")
    val before = g.readSample("zz_ap").count()
    // takeover lands DURING the staging job (the window the single
    // pre-write check left open): the commit-point re-validation must
    // fence the append before anything reaches the store
    GraftSession.appendStagingHook = () => {
      assert(createEpoch(hd, conf, fenceEpochs(hd, conf).max + 1, "successor-token"))
    }
    try {
      intercept[FencedLockException] {
        g.appendToSample("zz_ap", Seq.fill(25)("c").toDF("event_type"))
      }
    } finally GraftSession.appendStagingHook = () => ()
    assert(g.readSample("zz_ap").count() === before,
      "a fenced append must land nothing")
    assert(!sampleDir.listFiles().exists(_.getName.startsWith("append-")),
      "no fenced part files may reach the store")
    assert(!sampleDir.listFiles().exists(
      _.getName.startsWith(".staging-append-")),
      "the fenced append must clean its staging residue")
    // the live path: files land renamed-complete and epoch-stamped
    g.appendToSample("zz_ap", Seq.fill(25)("c").toDF("event_type"))
    val landed = sampleDir.listFiles().filter(_.getName.startsWith("append-"))
    assert(landed.nonEmpty)
    assert(landed.forall(_.getName.matches("append-[0-9a-f]{8}-[0-9]+\\.e[0-9]+\\.parquet")),
      s"append publishes must be epoch-stamped: ${landed.map(_.getName).mkString(",")}")
    assert(g.readSample("zz_ap").count() === before + 25)
    assert(s.read.parquet(s"$root/sample").count() === before + 25)
    g.dropSampleTable("zz_ap")
  }

  test("the heartbeat keeps the lock's mtime fresh while the holder runs") {
    val s = spark.newSession()
    val dir = tmp()
    s.conf.set("spark.graft.pathLock.leaseMs", "1000")
    try {
      GraftSession.withPathLock(s, dir) {
        val lock = new java.io.File(dir, "_graft.lock")
        Thread.sleep(2500) // several heartbeat periods (lease/4 = 250 ms)
        val age = System.currentTimeMillis() - lock.lastModified()
        assert(age < 1000,
          s"heartbeat must refresh the lock inside the lease (age $age ms)")
      }
    } finally s.conf.unset("spark.graft.pathLock.leaseMs")
  }
}
