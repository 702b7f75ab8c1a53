package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.store.{PathLock, SampleMeta, TopkSnapshot, Versioned}

/**
 * A store publish killed at every step. The step hook of
 * [[graft.store.Versioned]] throws after the temp write, after the rename
 * and after GC (after the exclusive create and after GC for a fence
 * epoch), which leaves the store exactly as a writer killed there would.
 * A fresh session must then read the last complete publish: never an
 * empty store, never half of a publish.
 */
class StoreCommitSpec extends AnyFunSuite {
  import TestSpark._

  private final class Killed extends RuntimeException("killed by the step hook")

  private def killedAt(kind: String, step: String)(body: => Any): Unit = {
    Versioned.stepHook = (k, s) => if (k == kind && s == step) throw new Killed
    try intercept[Killed](body) finally Versioned.stepHook = (_, _) => ()
  }

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def freshSession(): (SparkSession, GraftSession) = {
    val s = spark.newSession()
    s.createDataFrame(Seq(Tuple1("seed"))).toDF("k").createOrReplaceTempView("sc_base")
    (s, GraftSession(s))
  }

  private def rows(s: SparkSession, values: Seq[String]) =
    s.createDataFrame(values.map(Tuple1(_))).toDF("k")

  /** After the next complete publish: no temp residue, one version back. */
  private def assertCollected(dir: String, kind: String): Unit = {
    val hd = new org.apache.hadoop.fs.Path(dir)
    val fs = hd.getFileSystem(spark.sessionState.newHadoopConf())
    assert(!new java.io.File(dir).list().exists(_.contains(".tmp-")),
      "the next publish must sweep a killed publish's temp")
    assert(Versioned.list(fs, hd, kind).size <= 2, "GC keeps one version back")
  }

  Seq("temp", "rename", "gc").foreach { step =>
    test(s"sample meta: a publish killed after its $step step leaves the last complete one") {
      val dir = tmp("graft_sc_s") + "/s"
      val (sA, gA) = freshSession()
      gA.sql("CREATE SAMPLE TABLE sc_s ON sc_base OPTIONS(" +
        s"qcs 'k', fraction '1.0', path '$dir')")
      gA.appendToSampleForBatch("sc_s", rows(sA, Seq.fill(10)("b0")), "sc", 0L)
      killedAt(SampleMeta.Kind, step) {
        gA.appendToSampleForBatch("sc_s", rows(sA, Seq.fill(5)("b1")), "sc", 1L)
      }
      val (sB, gB) = freshSession()
      val conf = sB.sessionState.newHadoopConf()
      // batch 1's watermark is published by the rename, not before it
      val committed = step != "temp"
      assert(GraftSession.readSampleMetaProp(dir, "__streambatch.sc", conf) ===
        Some(if (committed) "1" else "0"))
      gB.sql("CREATE SAMPLE TABLE IF NOT EXISTS sc_s ON sc_base OPTIONS(" +
        s"qcs 'k', fraction '1.0', path '$dir')")
      assert(GraftSession.readSampleMeta(dir, conf) ===
        Some(("sc_base", Seq("k"), 1.0, 50)), "the attach reads a whole meta")
      // the replay of batch 1 converges to one copy: fenced once the
      // watermark landed, republished over its own files before that
      gB.appendToSampleForBatch("sc_s", rows(sB, Seq.fill(5)("b1")), "sc", 1L)
      gB.appendToSampleForBatch("sc_s", rows(sB, Seq.fill(3)("b2")), "sc", 2L)
      sB.catalog.refreshByPath(dir)
      val counts = sB.read.parquet(dir).groupBy("k").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(counts === Map("seed" -> 1L, "b0" -> 10L, "b1" -> 5L, "b2" -> 3L))
      assertCollected(dir, SampleMeta.Kind)
    }

    test(s"TopK snapshot: a publish killed after its $step step leaves the last complete one") {
      val dir = tmp("graft_sc_t") + "/tk"
      val (sA, gA) = freshSession()
      val ddl = "CREATE TOPK TABLE IF NOT EXISTS sc_t ON sc_base OPTIONS(key 'k', " +
        s"size '5', streamSummary 'true', capacity '100', path '$dir')"
      gA.sql(ddl)
      gA.appendToTopKForBatch("sc_t", rows(sA, Seq.fill(10)("x")), 1000L, "sc", 0L)
      killedAt(TopkSnapshot.Kind, step) {
        gA.appendToTopKForBatch("sc_t", rows(sA, Seq.fill(5)("x")), 2000L, "sc", 1L)
      }
      val (sB, gB) = freshSession()
      gB.sql(ddl)
      val committed = step != "temp"
      assert(gB.queryFrequency("sc_t", "x").map(_._2) === Some(if (committed) 15L else 10L),
        "a fresh session attaches the last complete snapshot")
      // the batch-1 watermark rides the same file as the counts it fences
      gB.appendToTopKForBatch("sc_t", rows(sB, Seq.fill(5)("x")), 2000L, "sc", 1L)
      assert(gB.queryFrequency("sc_t", "x").map(_._2) === Some(15L))
      gB.appendToTopKForBatch("sc_t", rows(sB, Seq.fill(2)("x")), 3000L, "sc", 2L)
      assertCollected(dir, TopkSnapshot.Kind)
    }
  }

  Seq("create", "gc").foreach { step =>
    test(s"fence epoch: an acquisition killed after its $step step is never reused") {
      val dir = tmp("graft_sc_f") + "/tk"
      val (sA, gA) = freshSession()
      gA.sql("CREATE TOPK TABLE sc_f ON sc_base OPTIONS(key 'k', size '5', " +
        s"streamSummary 'true', capacity '100', path '$dir')") // epoch 1
      gA.appendToTopK("sc_f", rows(sA, Seq.fill(10)("x"))) // epoch 2
      // killed inside the acquisition: its lock file stays behind, as a
      // dead process's would, with epoch 3 taken
      killedAt(PathLock.FenceKind, step) {
        gA.appendToTopK("sc_f", rows(sA, Seq.fill(5)("x")))
      }
      val hd = new org.apache.hadoop.fs.Path(dir)
      val fs = hd.getFileSystem(spark.sessionState.newHadoopConf())
      assert(PathLock.fenceEpochs(fs, hd).last === 3L)
      val (sB, gB) = freshSession()
      sB.conf.set("spark.graft.pathLock.leaseMs", "300")
      gB.sql(s"CREATE TOPK TABLE IF NOT EXISTS sc_f ON sc_base OPTIONS(path '$dir')")
      assert(gB.queryFrequency("sc_f", "x").map(_._2) === Some(10L))
      Thread.sleep(600) // the dead holder's heartbeat goes stale
      gB.appendToTopK("sc_f", rows(sB, Seq.fill(5)("x")))
      assert(gB.queryFrequency("sc_f", "x").map(_._2) === Some(15L))
      assert(Versioned.list(fs, hd, TopkSnapshot.Kind).last.epoch === 4L,
        "the successor publishes under a fresh epoch above the killed one")
      assert(PathLock.fenceEpochs(fs, hd) === Seq(3L, 4L))
    }
  }
}
