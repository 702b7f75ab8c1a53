package graft.perf

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Phase decomposition of the fraction==0 (pure reservoir) sampler path,
  * to size the win of a one-pass bounded-reservoir aggregate before
  * building it (r16 optimization round, guide §1: measure first).
  *
  * Previous plan = TWO full scans + a window:
  *   pass A: per-stratum totals (QCS-pruned scan, map-side agg)
  *   pass B: full-width scan + full-row xxhash64 + broadcast-join to
  *           totals + Bernoulli prefilter + row_number window over the
  *           ~2·N+50 survivors per stratum
  * Candidate = ONE full scan:
  *   groupBy(K).agg(total, bounded n-smallest-by-hash rows) — shuffle is
  *   N rows per stratum per map task.
  * This probe times: (a) the totals pass alone, (b) the hash+prefilter
  * scan alone (no window), (c) the one-pass sampler that replaced the
  * two-pass plan.
  */
object ReservoirPhaseProbe {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val dataCols = li.columns.map(col).toSeq
    val key = struct(col("l_returnflag"), col("l_linestatus"))

    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    def time(label: String)(f: => Unit): Unit = {
      f // warm
      val times = (1 to 5).map { _ =>
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }
      println(f"$label%-28s runs=${times.map(t => f"$t%.2f").mkString(",")} " +
        f"median=${times.sorted.apply(times.size / 2)}%.2f s")
    }

    // (a) totals pass (pass A of the current plan)
    time("A: totals agg") {
      noop(li.withColumn("__k__", key).groupBy(col("__k__"))
        .agg(count(lit(1)).as("__tot__")))
    }
    // (b) hash + scan only (the irreducible full-width work of pass B)
    time("B: full-row hash scan") {
      noop(li.withColumn("__k__", key)
        .withColumn("__r__", xxhash64(struct(dataCols: _*), lit(42L)))
        .filter(col("__r__") % 1000 === 0))
    }
    // (c) the one-pass sampler (the fraction == 0 plan)
    time("C: one-pass sampler") {
      noop(graft.sampling.StratifiedSampler
        .sample(li, Seq(col("l_returnflag"), col("l_linestatus")),
          fraction = 0.0, reservoirSize = 25, seed = 42L, rankCols = Nil))
    }
    spark.stop()
  }
}
