package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.UnresolvedHint
import org.scalatest.funsuite.AnyFunSuite

import graft.core.CandidateJoin

/** Pins the candidate-join strategy policy's SIZE WINDOW: no hint below
 * the broadcast threshold (AQE broadcasts), `shuffle_hash` inside the
 * window, and NO hint above the geometry cap — the r14 third-decade
 * lesson: a shuffled-hash build side cannot spill, and the pinned shape
 * OOM'd at 5M docs ("not enough memory to build hash map") while
 * sort-merge spills and finishes. */
class CandidateJoinSpec extends AnyFunSuite {
  import TestSpark.spark

  private def hinted(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.logical.collect { case h: UnresolvedHint => h.name }
      .contains("shuffle_hash")

  /** A session clone with the broadcast threshold set: the policy reads
   * it through `df.sparkSession`, so frames built from the clone see it
   * and the shared session's conf is never touched. */
  private def withThreshold(bytes: Long)(body: SparkSession => Unit): Unit = {
    val s = spark.newSession()
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", bytes.toString)
    body(s)
  }

  private def frame(s: SparkSession) = {
    import s.implicits._
    (1 to 1000).map(i => (i.toLong, s"content-$i")).toDF("id", "text")
  }

  test("below the broadcast threshold: no hint (AQE broadcasts)") {
    withThreshold(10L << 20) { s =>
      val df = frame(s)
      assert(!hinted(CandidateJoin.maybeShuffleHash(df)(df)))
    }
  }

  test("inside the window: shuffle_hash pinned") {
    withThreshold(1024L) { s =>
      val df = frame(s) // estimate is tens of KB: above 1 KB, below 64 MB
      assert(hinted(CandidateJoin.maybeShuffleHash(df)(df)))
    }
  }

  test("above shuffleHashMaxBytes: no hint (sort-merge spills; " +
    "a shuffled-hash build side cannot)") {
    // the window on its own: no local input reaches a geometry cap, so
    // the over-cap edge is pinned on the pure function
    val cap = CandidateJoin.FallbackShuffleHashMaxBytes
    val sentinel = Long.MaxValue
    def window(est: BigInt, threshold: Long): Boolean =
      CandidateJoin.inShuffleHashWindow(est, threshold, cap, sentinel)
    assert(window(BigInt(cap), 10L << 20), "at the cap: still hinted")
    assert(!window(BigInt(cap) + 1, 10L << 20), "over the cap: no hint")
    assert(!window(BigInt(10L << 20), 10L << 20), "at the threshold: no hint")
    assert(window(BigInt(10L << 20) + 1, 10L << 20), "just above: hinted")
    // broadcast disabled: everything up to the cap is hinted
    assert(window(BigInt(1), -1L))
    assert(!window(BigInt(cap) + 1, -1L))
    // the no-stats sentinel is never a measurement
    assert(!window(BigInt(sentinel), -1L))
  }

  test("geometry-derived cap: 2/5 of the per-task execution share") {
    // this box's bench geometry resolves to the r14 measured constant
    assert(CandidateJoin.derivedShuffleHashMaxBytes(
      8L << 30, 0.6, 32) === 64424509L) // ~61 MiB ≈ the r14 64 MB window
    // a 4 GB x 8-core executor has 2x this box's per-task share…
    assert(CandidateJoin.derivedShuffleHashMaxBytes(
      4L << 30, 0.6, 8) === 128849018L)
    // …and a 16 GB x 4-core one is ~16x this box's per-task share (exact
    // up to the per-call double rounding)
    assert(CandidateJoin.derivedShuffleHashMaxBytes(
      16L << 30, 0.6, 4) === 1030792151L)
    // degenerate cores never divide by zero
    assert(CandidateJoin.derivedShuffleHashMaxBytes(1L << 30, 0.6, 0) > 0)
  }

  test("cluster cap refuses to derive when spark.executor.cores is unset") {
    // standalone/Mesos coarse-grained: cores legitimately unset while
    // executors run worker-core-many concurrent tasks — defaulting cores
    // to 1 inflated the cap ~cores×, pinning shuffle-hash at sizes where
    // the unspillable build maps OOM. Unset must fall back, not derive.
    assert(CandidateJoin.clusterShuffleHashMaxBytes(
      64L << 30, 0.6, None) === CandidateJoin.FallbackShuffleHashMaxBytes)
    // with cores set the derivation applies unchanged
    assert(CandidateJoin.clusterShuffleHashMaxBytes(8L << 30, 0.6, Some(32))
      === CandidateJoin.derivedShuffleHashMaxBytes(8L << 30, 0.6, 32))
  }

  test("no-stats sentinel: never treated as a real measurement") {
    // an RDD-backed plan has no file-scan stats — its estimate is
    // spark.sql.defaultSizeInBytes (Long.MaxValue), which must read as
    // "unknown" (sort-merge, spill-safe), not as "huge input"
    withThreshold(1024L) { s =>
      val rows = (1 to 100).map(i =>
        org.apache.spark.sql.Row(i.toLong, s"content-$i"))
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType)))
      val rddDf = s.createDataFrame(
        s.sparkContext.parallelize(rows, 2), schema)
      assert(rddDf.queryExecution.optimizedPlan.stats.sizeInBytes >=
        BigInt(s.sessionState.conf.defaultSizeInBytes))
      assert(!hinted(CandidateJoin.maybeShuffleHash(rddDf)(rddDf)))
    }
  }
}
