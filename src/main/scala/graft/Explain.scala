package graft

import org.apache.spark.sql.SparkSession

/** Plan-audit tool: print the formatted physical plan of named gate
  * queries without running their ACTIONS (pass query names; no args =
  * list). `runMain graft.Explain q60_cap_per_key` — the fast loop for
  * checking pushdown/pruning/codegen/shuffle shape while iterating on an
  * operator. Caveat: queries whose CONSTRUCTION runs jobs still pay that
  * cost — the media queries (q15/q58/q59) synthesize their blob fixture
  * before a plan exists, and TopK/sample DDL-backed queries build their
  * structures; only the final query's execution is skipped. */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    if (args.isEmpty) {
      println(SparkEntry.queries.keys.toSeq.sorted.mkString("\n"))
      return
    }
    // Honor the bench harness's parallelism knob: size-conditional plans
    // (candidate-join broadcast hints, unigram adaptive tiering) can pick a
    // different physical shape at 4 cores than at the bench's 32 — auditing
    // the wrong shape hides the plan that actually runs.
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // '*' (all cores) is valid for local[...] but not for
    // shuffle.partitions — resolve it before applying to both
    val parts =
      if (cpus.forall(_.isDigit)) cpus
      else Runtime.getRuntime.availableProcessors().toString
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", parts)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // SPARK_GRAFT_CONF="k=v,k2=v2" applies session confs before planning
    // (e.g. spark.sql.autoBroadcastJoinThreshold, to print the plan an
    // input above the size gates would take)
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(',').foreach { kv =>
      kv.split("=", 2) match {
        case Array(k, v) if k.nonEmpty => spark.conf.set(k.trim, v.trim)
        case _ =>
      }
    })
    args.foreach { name =>
      println(s"===== $name =====")
      SparkEntry.queries.get(name) match {
        case Some(fn) => fn(spark, sfDir).explain("formatted")
        case None => println(s"unknown query: $name")
      }
    }
    spark.stop()
  }
}
