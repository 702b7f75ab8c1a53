package graft.perf

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Stage decomposition of the fraction-mode sampler at sf10u: which part
 * of the 16.9 s (60M rows, 3 strata, fraction 0.1) is plan cost vs
 * machinery. Also times the survivors-only prefilter (no rank machinery)
 * for comparison.
 *
 * Usage: Test/runMain graft.perf.Q02Stages [sfDir]
 */
object Q02Stages {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/tmp/sf10u")
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.graft.materialize.storageLevel", "MEMORY_ONLY")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select("l_returnflag", "l_orderkey", "l_linenumber", "l_partkey",
        "l_suppkey")
    def timed(tag: String)(f: => Unit): Unit = {
      f
      val ts = (1 to 3).map { _ =>
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }.sorted
      println(f"Q02S $tag median=${ts(1)}%.2fs")
    }
    def sampleCount(): Unit = {
      graft.sampling.StratifiedSampler.sample(li, Seq("l_returnflag"),
        fraction = 0.1, reservoirSize = 10).count(); ()
    }
    timed("sampler")(sampleCount())
    // survivors-only: keyed + broadcast-targets filter, no rank machinery
    timed("survivors_only") {
      val K = "__k"; val R1 = "__r"
      val keyed = li.withColumn(K, col("l_returnflag"))
        .withColumn(R1, xxhash64(struct(li.columns.map(col).toSeq: _*), lit(42L)))
      val counts = keyed.groupBy(col(K)).agg(count(lit(1)).as("__tot"))
      val joined = keyed.join(broadcast(counts.withColumnRenamed(K, K + "c")),
        col(K) <=> col(K + "c"), "inner")
      val tgt = ceil(col("__tot") * lit(0.1))
      val cush = tgt + greatest(ceil(tgt * lit(0.05)), lit(50.0))
      val p = least(lit(1.0), cush / col("__tot"))
      val thr = (lit(2.0) * p - lit(1.0)) * lit(Long.MaxValue.toDouble)
      joined.filter(col(R1).cast("double") < thr).count(); ()
    }
    spark.stop()
  }
}
