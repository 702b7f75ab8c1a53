package graft.store

import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.atomic.AtomicBoolean

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileSystem, Path}
import org.apache.spark.sql.SparkSession

import graft.FencedLockException

/**
 * The path lock and store fence that every store publish runs under.
 *
 * The lock serializes mutations of a shared persist path across sessions
 * and JVMs: an exclusive lock file (`_graft.lock`) holding the holder's
 * token, with a HEARTBEAT LEASE — the holder refreshes the file's mtime
 * every `leaseMs / 4` from a daemon thread, and a waiter breaks the lock
 * only when the heartbeat is STALE, mtime older than
 * `spark.graft.pathLock.leaseMs` (default 120 s). Liveness, not wall time,
 * gates breaking, so a live holder may run arbitrarily long (recovery
 * republication scales with store size) while a crashed one is broken
 * within one lease. Waiters give up loudly after
 * `spark.graft.pathLock.acquireTimeoutMs` (default 2 × leaseMs).
 *
 * A lease cannot tell a crashed holder from a whole-process stall longer
 * than the lease (the heartbeat thread frozen too), so every acquisition
 * also takes the next FENCE EPOCH: a file `_graft.fence.<epoch>` created
 * exclusively, so no two holders ever own one epoch. The held epoch is
 * exposed to the critical section ([[heldFence]]), publishes stamp it into
 * their artifact names, every commit point re-validates that it is still
 * the store's highest ([[assertStoreFence]]), and readers prefer the
 * newest epoch's artifacts — a stalled holder that resumes after a
 * successor took over is refused at its next commit point, and whatever
 * it landed before is never read over the successor's.
 */
object PathLock {
  private val log = org.slf4j.LoggerFactory.getLogger(getClass)
  private val LockFile = "_graft.lock"
  private[graft] val FenceKind = "_graft.fence"

  /** The fencing identity of a held path lock: the acquisition epoch, the
   * lock token, and the heartbeat's lease-break flag. */
  private[graft] final case class FenceHold(epoch: Long, token: String, lost: AtomicBoolean)

  private val holds = new ThreadLocal[Map[String, FenceHold]] {
    override def initialValue(): Map[String, FenceHold] = Map.empty
  }

  /** Test hook: a heartbeat whose (lock path, token) this predicate
   * matches behaves as a FROZEN process — neither refreshing the lease
   * nor detecting its break — so specs reproduce a whole-process stall. */
  @volatile private[graft] var heartbeatFreezeHook: (String, String) => Boolean =
    (_, _) => false

  private def key(dir: Path, conf: Configuration): String =
    dir.getFileSystem(conf).makeQualified(dir).toString

  private def localFile(fs: FileSystem, p: Path): Option[java.io.File] =
    fs.makeQualified(p).toUri match {
      case u if u.getScheme == "file" => Some(new java.io.File(u.getPath))
      case _ => None
    }

  /** Create `p` holding `bytes` only if it does not exist. On the local
   * file system Hadoop's create(overwrite = false) is check-then-act, so
   * two processes could both succeed; `File.createNewFile` is one atomic
   * O_EXCL open. Elsewhere (HDFS) create(overwrite = false) is atomic. */
  private[graft] def createExclusive(fs: FileSystem, p: Path, bytes: Array[Byte]): Boolean =
    localFile(fs, p) match {
      case Some(f) =>
        f.createNewFile() && {
          val out = new java.io.FileOutputStream(f)
          try out.write(bytes) finally out.close()
          true
        }
      case None =>
        try {
          val out = fs.create(p, false)
          try out.write(bytes) finally out.close()
          true
        } catch { case _: FileAlreadyExistsException => false }
    }

  /** Token of the current `_graft.lock` holder under `dir` (None: no lock
   * file, or unreadable — both read as "not ours"). */
  private def lockToken(fs: FileSystem, dir: Path): Option[String] =
    try {
      val in = fs.open(new Path(dir, LockFile))
      try Some(new String(in.readAllBytes(), UTF_8)).filter(_.nonEmpty)
      finally in.close()
    } catch { case _: java.io.IOException => None }

  /** The file of one fence epoch. */
  private[graft] def fenceFile(dir: Path, epoch: Long): Path =
    new Path(dir, s"$FenceKind.$epoch")

  /** The fence epochs present under `dir`, lowest first. */
  private[graft] def fenceEpochs(fs: FileSystem, dir: Path): Seq[Long] =
    Versioned.list(fs, dir, FenceKind).map(_.version)

  /** Highest fence epoch stamped into any artifact name under `dir`
   * (`….e<N>.parquet` sample files, `….f<N>` versioned files, including
   * `.fenced-` quarantined ones) — the seed when every fence file is lost
   * (store copied, underscore files swept): epochs restarting below live
   * stamps would make readers prefer stale artifacts over a fresh
   * republish. 0 for a store without stamped artifacts. */
  private[graft] def maxArtifactEpoch(fs: FileSystem, dir: Path): Long = {
    val pat = "\\.(?:e|f)([0-9]+)(?:\\.parquet)?$".r
    val names =
      try fs.listStatus(dir).toSeq.map(_.getPath.getName)
      catch { case _: java.io.FileNotFoundException => Nil }
    names.flatMap(n => pat.findFirstMatchIn(n).map(_.group(1).toLong)).foldLeft(0L)(math.max)
  }

  /** Run `body` holding the lock of the store at `path` (not reentrant). */
  def withPathLock[A](spark: SparkSession, path: String)(body: => A): A = {
    val conf = spark.sessionState.newHadoopConf()
    val dir = new Path(path)
    val lockPath = new Path(dir, LockFile)
    val fs = lockPath.getFileSystem(conf)
    fs.mkdirs(dir)
    // unique per acquisition: the heartbeat and the release verify that
    // the lock file is still OURS after a possible lease break
    val token = java.util.UUID.randomUUID().toString
    val tokenBytes = token.getBytes(UTF_8)
    val leaseMs = spark.conf.get("spark.graft.pathLock.leaseMs", "120000").toLong
    val acquireTimeoutMs = spark.conf.get(
      "spark.graft.pathLock.acquireTimeoutMs", (2 * leaseMs).toString).toLong
    val deadline = System.currentTimeMillis() + acquireTimeoutMs
    while (!(try createExclusive(fs, lockPath, tokenBytes)
             catch { case _: java.io.IOException => false })) {
      val age =
        try System.currentTimeMillis() - fs.getFileStatus(lockPath).getModificationTime
        catch { case _: java.io.FileNotFoundException => 0L }
      if (age > leaseMs) {
        // stale heartbeat: presume the holder dead and break the lease by
        // an atomic rename to a unique tombstone, so of N waiters that saw
        // the stale lock only one removes it (a plain delete could remove
        // a fresh lock another waiter re-created in between)
        val tomb = new Path(dir,
          s"$LockFile.tomb-${java.util.UUID.randomUUID().toString.take(8)}")
        try {
          if (fs.rename(lockPath, tomb)) fs.delete(tomb, false)
        } catch { case _: java.io.IOException => /* another breaker won */ }
      } else if (System.currentTimeMillis() > deadline) {
        throw new IllegalStateException(
          s"could not acquire $lockPath within $acquireTimeoutMs ms — " +
            "a LIVE writer holds it (its heartbeat is fresh); raise " +
            "spark.graft.pathLock.acquireTimeoutMs to wait longer")
      } else Thread.sleep(50)
    }
    // the next fence epoch, created exclusively: a racing acquirer that
    // took the same number makes our create fail, and we move past it.
    // Seeded from artifact stamps when every fence file is gone.
    val previous = Versioned.list(fs, dir, FenceKind)
    var epoch = previous.lastOption.fold(maxArtifactEpoch(fs, dir))(_.version) + 1
    while (!createExclusive(fs, fenceFile(dir, epoch), tokenBytes)) {
      epoch = math.max(epoch, fenceEpochs(fs, dir).lastOption.getOrElse(0L)) + 1
    }
    Versioned.stepHook(FenceKind, "create")
    // the epoch create is not atomic with the lock create: a holder
    // stalled between the two may find its lock broken by a successor.
    // Then its epoch must not outrank the successor's — it withdraws the
    // epoch and never enters the critical section
    if (!lockToken(fs, dir).contains(token)) {
      fs.delete(fenceFile(dir, epoch), false)
      throw new FencedLockException(
        s"lost $lockPath between acquiring it and taking fence epoch " +
          s"$epoch — a successor holds the store now; standing down " +
          "before the critical section")
    }
    previous.lastOption.foreach(last => Versioned.gc(fs, previous, last.version))
    Versioned.stepHook(FenceKind, "gc")
    val lost = new AtomicBoolean(false)
    val fenceKey = key(dir, conf)
    val outerHolds = holds.get()
    holds.set(outerHolds.updated(fenceKey, FenceHold(epoch, token, lost)))
    val stop = new AtomicBoolean(false)
    val hb = new Thread(() => {
      try {
        while (!stop.get && !lost.get) {
          Thread.sleep(math.max(100L, leaseMs / 4))
          if (heartbeatFreezeHook(lockPath.toString, token)) {
            // frozen process: no refresh and no loss detection
          } else if (!stop.get) {
            if (lockToken(fs, dir).contains(token)) {
              val now = System.currentTimeMillis()
              try {
                localFile(fs, lockPath) match {
                  case Some(f) => f.setLastModified(now)
                  case None => fs.setTimes(lockPath, now, -1)
                }
              } catch { case _: java.io.IOException => /* next check decides */ }
            } else {
              // broken by a waiter that saw a stale heartbeat: stop
              // refreshing what is now someone else's lock
              lost.set(true)
              log.warn(s"path lock $lockPath was lease-broken while held " +
                s"(heartbeat stale past $leaseMs ms); this holder's next " +
                "commit point will refuse")
            }
          }
        }
      } catch { case _: InterruptedException => () }
    })
    hb.setDaemon(true)
    hb.setName(s"graft-lock-heartbeat-${dir.getName}")
    hb.start()
    try body finally {
      holds.set(outerHolds)
      stop.set(true)
      hb.interrupt()
      hb.join(2000)
      // release only OUR lock: after a break the file is the successor's
      if (!lost.get && lockToken(fs, dir).contains(token)) fs.delete(lockPath, false)
    }
  }

  /** The fence held BY THIS THREAD for the store at `dir`, if any. */
  private[graft] def heldFence(dir: Path, conf: Configuration): Option[FenceHold] =
    holds.get().get(key(dir, conf))

  private[graft] def heldFence(spark: SparkSession, path: String): Option[FenceHold] =
    heldFence(new Path(path), spark.sessionState.newHadoopConf())

  /** Commit-point check for a publisher holding the path lock: its epoch
   * must still be the store's highest. A holder whose lease was broken
   * gets a [[FencedLockException]] BEFORE its mutation lands. A thread
   * holding no lock on the store passes — fencing guards the
   * cross-session protocol, not single-owner direct calls. */
  def assertStoreFence(dir: Path, conf: Configuration): Unit =
    heldFence(dir, conf).foreach { h =>
      def refuse(cause: String): Nothing =
        throw new FencedLockException(
          s"store fence for $dir moved past this holder (epoch ${h.epoch}): " +
            s"$cause — the lease was broken while this process was stalled; " +
            "standing down instead of interleaving with the successor's writes")
      if (h.lost.get()) refuse("heartbeat flagged the lease break")
      fenceEpochs(dir.getFileSystem(conf), dir).lastOption match {
        case Some(e) if e == h.epoch => ()
        case Some(e) if e > h.epoch => refuse(s"current fence epoch is $e")
        case _ => refuse(s"fence epoch ${h.epoch} is missing")
      }
    }
}
