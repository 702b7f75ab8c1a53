package graft.store

import java.io.{FileNotFoundException, InputStream, OutputStream}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

/**
 * The one commit protocol of every persisted store (sample metas, TopK
 * snapshots; fence epochs share its naming): a store kind is a family of
 * WRITE-ONCE files `<kind>.<version>[.f<epoch>]` in the store directory.
 *
 *  - A publish writes the next version to a temp name, then renames it to
 *    a name that does not exist yet — never over an existing file, so no
 *    reader can find the kind without a complete version, and a fresh name
 *    never pairs new bytes with an old checksum sidecar.
 *  - A reader lists the kind and opens the highest (version, epoch). The
 *    epoch is the publisher's fence ([[PathLock]]): a lease-broken holder
 *    and its successor can never write the same name.
 *  - GC keeps one version back, so a reader that listed just before a
 *    publish still opens its version; a reader that loses that race to a
 *    second publish re-lists.
 *
 * Publishers hold the store's path lock; the fence is re-validated right
 * before the rename, the commit point.
 */
object Versioned {

  /** One published version of a kind (`epoch` -1: published unfenced). */
  final case class Entry(path: Path, version: Long, epoch: Long)

  /** Test hook, called after each step of a publish — `temp`, `rename`
   * and `gc` for versioned kinds; `create` and `gc` for fence epochs,
   * which are created in place. A hook that throws leaves the store
   * exactly as a writer killed at that step would. */
  @volatile private[graft] var stepHook: (String, String) => Unit = (_, _) => ()

  private def scan(fs: FileSystem, dir: Path, kind: String): (Seq[Entry], Seq[Path]) = {
    val pat = ("^" + java.util.regex.Pattern.quote(kind) +
      "\\.([0-9]+)(?:\\.f([0-9]+))?$").r
    val listed =
      try fs.listStatus(dir).toSeq.map(_.getPath)
      catch { case _: FileNotFoundException => Nil }
    val entries = listed.flatMap { p =>
      p.getName match {
        case pat(v, e) => Some(Entry(p, v.toLong, Option(e).fold(-1L)(_.toLong)))
        case _ => None
      }
    }
    val temps = listed.filter(p =>
      p.getName.startsWith(kind + ".") && p.getName.contains(".tmp-"))
    (entries.sortBy(e => (e.version, e.epoch)), temps)
  }

  /** Every published version of `kind` under `dir`, oldest first. */
  def list(fs: FileSystem, dir: Path, kind: String): Seq[Entry] = scan(fs, dir, kind)._1

  /** Delete the versions below `keepFrom` — the GC half of a publish. */
  private[store] def gc(fs: FileSystem, entries: Seq[Entry], keepFrom: Long): Unit =
    entries.filter(_.version < keepFrom).foreach(e => fs.delete(e.path, false))

  /** Read the latest version of `kind` (None: the kind has no version). A
   * version GC'd between the listing and the open is retried on a fresh
   * listing — a newer version exists by then. */
  def read[A](dir: Path, kind: String, conf: Configuration)(f: InputStream => A): Option[A] = {
    val fs = dir.getFileSystem(conf)
    @annotation.tailrec
    def attempt(left: Int): Option[A] = list(fs, dir, kind).lastOption match {
      case None => None
      case Some(e) =>
        val got =
          try {
            val in = fs.open(e.path)
            try Some(f(in)) finally in.close()
          } catch { case _: FileNotFoundException if left > 1 => None }
        if (got.isDefined) got else attempt(left - 1)
    }
    attempt(8)
  }

  /** Publish the next version of `kind`: `write` gets the current latest
   * version (for read-modify-write kinds) and the new version number.
   * Returns the new version. */
  def publish(dir: Path, kind: String, conf: Configuration)(
      write: (Option[Entry], Long, OutputStream) => Unit): Long = {
    val fs = dir.getFileSystem(conf)
    fs.mkdirs(dir)
    PathLock.assertStoreFence(dir, conf)
    val (entries, temps) = scan(fs, dir, kind)
    val prev = entries.lastOption
    val version = prev.fold(1L)(_.version + 1)
    val name = s"$kind.$version" +
      PathLock.heldFence(dir, conf).fold("")(h => s".f${h.epoch}")
    val dst = new Path(dir, name)
    val tmp = new Path(dir, s"$name.tmp-${java.util.UUID.randomUUID().toString.take(8)}")
    val out = fs.create(tmp, false)
    try write(prev, version, out) finally out.close()
    stepHook(kind, "temp")
    PathLock.assertStoreFence(dir, conf)
    if (fs.exists(dst) || !fs.rename(tmp, dst)) {
      fs.delete(tmp, false)
      throw new IllegalStateException(s"could not publish $dst: the name is taken")
    }
    stepHook(kind, "rename")
    // temps seen under the lock are residue of killed or fenced publishes
    gc(fs, entries, version - 1)
    temps.foreach(fs.delete(_, false))
    stepHook(kind, "gc")
    version
  }

  /** Delete every version (and temp) of `kind` — a DROP of the store. */
  def retire(dir: Path, kind: String, conf: Configuration): Unit = {
    val fs = dir.getFileSystem(conf)
    val (entries, temps) = scan(fs, dir, kind)
    (entries.map(_.path) ++ temps).foreach(fs.delete(_, false))
  }
}
