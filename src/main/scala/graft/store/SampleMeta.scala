package graft.store

import java.util.Properties

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

/**
 * The registry metadata of a path-backed sample: versioned properties
 * files `_graft_sample.meta.<v>[.f<e>]` next to the sample's parquet
 * (underscore-prefixed, so parquet readers skip them). Every write is a
 * read-modify-write of the latest version under the path lock, so keys
 * one writer does not know about — a stream's `__streambatch.<key>`
 * watermark, say — survive another writer's update.
 */
object SampleMeta {
  val Kind = "_graft_sample.meta"

  /** The latest published meta of the sample at `path` (None: none yet). */
  def read(path: String, conf: Configuration): Option[Properties] =
    Versioned.read(new Path(path), Kind, conf) { in =>
      val props = new Properties()
      props.load(in)
      props
    }

  /** Publish the next version: the latest one with `update` applied. */
  def update(path: String, conf: Configuration)(update: Properties => Unit): Unit = {
    val dir = new Path(path)
    Versioned.publish(dir, Kind, conf) { (prev, _, out) =>
      val props = new Properties()
      prev.foreach { e =>
        val in = dir.getFileSystem(conf).open(e.path)
        try props.load(in) finally in.close()
      }
      update(props)
      props.store(out, "graft sample registry")
    }
  }
}
