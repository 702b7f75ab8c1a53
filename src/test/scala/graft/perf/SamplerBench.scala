package graft.perf

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Ad-hoc micro-benchmark for the stratified-sampler bench outliers
  * (q37 reservoir / q02 fraction): repeated timed runs at the bench's own
  * scale and parallelism, to separate plan cost from single-run JIT/GC
  * noise in BENCH numbers. */
object SamplerBench {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val li = spark.read.parquet(s"$dir/lineitem.parquet")

    def q37() = graft.sampling.StratifiedSampler
      .sample(li, Seq(col("l_returnflag"), col("l_linestatus")),
        fraction = 0.0, reservoirSize = 25, seed = 42L, rankCols = Nil)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("kept"))
      .collect()

    def q02() = graft.sampling.StratifiedSampler
      .sample(li, Seq(col("l_returnflag")),
        fraction = 0.1, reservoirSize = 10, seed = 42L, rankCols = Nil)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("sampled_rows"))
      .collect()

    def time(label: String)(f: => Unit): Unit = {
      f // warm
      val times = (1 to 5).map { _ =>
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }
      println(f"$label: runs=${times.map(t => f"$t%.2f").mkString(",")} " +
        f"median=${times.sorted.apply(times.size / 2)}%.2f s")
    }
    time("q37 reservoir")(q37())
    time("q02 fraction")(q02())
    spark.stop()
  }
}
