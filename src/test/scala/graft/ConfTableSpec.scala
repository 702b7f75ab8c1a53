package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.core.HotBuckets

/**
 * README "Session confs" lists every `spark.graft.*` and `spark.sql.aqp.*`
 * key the library reads and the files that read it. This pins the table
 * to the sources: the keys quoted in `src/main` are exactly the table's
 * keys, and every file a row names quotes that row's key. Runs from the
 * project root, where sbt starts the forked test JVM.
 */
class ConfTableSpec extends AnyFunSuite {

  private val KeyLiteral = "\"(spark\\.(?:graft|sql\\.aqp)\\.[A-Za-z0-9_.]*[A-Za-z0-9_])".r
  private val Cell = "`([^`]+)`".r

  private def read(p: Path): String = new String(Files.readAllBytes(p), UTF_8)

  private lazy val sources: Seq[Path] = {
    val walk = Files.walk(Paths.get("src/main"))
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }

  /** key -> the "Read in" cell's file names, one entry per table row. */
  private lazy val table: Seq[(String, Seq[String])] = {
    val readme = Paths.get("README.md")
    assert(Files.exists(readme), s"README.md not found from ${Paths.get("").toAbsolutePath}")
    read(readme).linesIterator
      .dropWhile(_ != "## Session confs")
      .drop(1).takeWhile(!_.startsWith("## "))
      .filter(_.startsWith("| `"))
      .map { row =>
        val cells = row.split('|').map(_.trim)
        val key = Cell.findFirstMatchIn(cells(1)).get.group(1)
        key -> Cell.findAllMatchIn(cells(3)).map(_.group(1)).toSeq
      }.toSeq
  }

  test("README Session confs lists exactly the keys src/main reads") {
    val quoted = sources.flatMap(p => KeyLiteral.findAllMatchIn(read(p)).map(_.group(1)))
      .toSet + HotBuckets.ConfKey
    val listed = table.map(_._1)
    assert(listed.distinct.size == listed.size, s"a key is listed twice: $listed")
    assert(quoted -- listed == Set.empty, "keys read in src/main but missing from the table")
    assert(listed.toSet -- quoted == Set.empty, "keys in the table that src/main no longer reads")
  }

  test("each Session confs row names files that read its key") {
    table.foreach { case (key, files) =>
      assert(files.nonEmpty, s"$key: no Read in file")
      files.foreach { name =>
        val hits = sources.filter(_.toString.endsWith("/" + name))
        assert(hits.size == 1, s"$key: Read in `$name` matches ${hits.size} files in src/main")
        val quotesKey = read(hits.head).contains("\"" + key + "\"")
        assert(quotesKey, s"$key is not read in $name")
      }
    }
  }
}
