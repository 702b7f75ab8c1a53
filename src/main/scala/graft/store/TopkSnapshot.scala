package graft.store

import java.io.{DataInputStream, DataOutputStream, InputStream}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

/**
 * A path-backed TopK store: one versioned file per publish,
 * `_graft_topk.snapshot.<v>[.f<e>]`, holding the whole state — a header
 * (the table's options, `__`-prefixed internal keys such as the base
 * table, the retired spill batches and the per-stream `__streambatch`
 * watermarks) followed by the spill view and the bucket bytes. One file
 * per publish makes every publish atomic: the counts, the watermarks that
 * fence them and the options that describe them land together.
 */
object TopkSnapshot {
  val Kind = "_graft_topk.snapshot"

  /** `files`: spill batch dirs (absolute); `spans`: spilled bucket spans. */
  final case class Snapshot(header: Map[String, String], files: Seq[String],
      spans: Seq[(Long, Long)], buckets: Array[Byte])

  private def readHeader(in: DataInputStream): Map[String, String] = {
    val bytes = new Array[Byte](in.readInt())
    in.readFully(bytes)
    val props = new java.util.Properties()
    props.load(new java.io.ByteArrayInputStream(bytes))
    props.stringPropertyNames().asScala.map(k => k -> props.getProperty(k)).toMap
  }

  /** Decode one snapshot file of the store at `path`. */
  private[graft] def decode(in0: InputStream, path: String): Snapshot = {
    val in = new DataInputStream(in0)
    val header = readHeader(in)
    val prefix = path.stripSuffix("/") + "/"
    val files = (0 until in.readInt()).map { _ =>
      val rel = in.readUTF()
      // absolute = rooted path OR any URI scheme (qualified Hadoop paths
      // can be single-slash, file:/tmp/...)
      if (rel.startsWith("/") || rel.matches("^[a-zA-Z][a-zA-Z0-9+.-]*:/.*")) rel
      else prefix + rel
    }
    val spans = (0 until in.readInt()).map(_ => (in.readLong(), in.readLong()))
    val buckets = new Array[Byte](in.readInt())
    in.readFully(buckets)
    Snapshot(header, files, spans, buckets)
  }

  /** The latest snapshot of the store at `path` (None: no store there). */
  def read(path: String, conf: Configuration): Option[Snapshot] =
    Versioned.read(new Path(path), Kind, conf)(decode(_, path))

  /** Only the header of the latest snapshot — options for drift checks. */
  def readHeader(path: String, conf: Configuration): Option[Map[String, String]] =
    Versioned.read(new Path(path), Kind, conf)(in => readHeader(new DataInputStream(in)))

  def exists(path: String, conf: Configuration): Boolean = {
    val dir = new Path(path)
    Versioned.list(dir.getFileSystem(conf), dir, Kind).nonEmpty
  }

  /** Publish the next snapshot; `content` gets the new version number. */
  def publish(path: String, conf: Configuration)(content: Long => Snapshot): Long = {
    val dir = new Path(path)
    val fs = dir.getFileSystem(conf)
    Versioned.publish(dir, Kind, conf) { (_, version, out0) =>
      val snap = content(version)
      val out = new DataOutputStream(out0)
      val props = new java.util.Properties()
      snap.header.foreach { case (k, v) => props.setProperty(k, v) }
      val header = new java.io.ByteArrayOutputStream()
      props.store(header, "graft topk snapshot")
      out.writeInt(header.size())
      header.writeTo(out)
      // spill batch dirs live under the store path: store them relative so
      // the directory can be relocated. Qualify both sides first —
      // listStatus-derived paths come back scheme-qualified while the
      // store path is usually raw
      val prefix = fs.makeQualified(dir).toString.stripSuffix("/") + "/"
      out.writeInt(snap.files.size)
      snap.files.foreach { f =>
        val qf = fs.makeQualified(new Path(f)).toString
        out.writeUTF(if (qf.startsWith(prefix)) qf.stripPrefix(prefix) else f)
      }
      out.writeInt(snap.spans.size)
      snap.spans.foreach { case (s, l) => out.writeLong(s); out.writeLong(l) }
      out.writeInt(snap.buckets.length)
      out.write(snap.buckets)
      out.flush()
    }
  }

  /** Delete every snapshot — a DROP of the store. */
  def retire(path: String, conf: Configuration): Unit =
    Versioned.retire(new Path(path), Kind, conf)
}
