package graft.perf

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Probe for the two-stage (ADC-prefiltered) cosineDedupPairs verify:
 *
 *  - `parity`: runs the FULL operator with the ADC stage forced on and
 *    forced off and asserts the outputs are set-identical (the at-scale
 *    companion to AdcVerifySpec's parity leg — same pairs, same cosines,
 *    on a real scale corpus);
 *  - `time`: median wall of the full operator in one forced mode;
 *  - `decomp`: one pass of the two-stage pipeline with the residue
 *    persisted between stages, reporting candidate→residue→final counts
 *    and per-stage walls (the addendum decomposition for the 20M run —
 *    runs the candidate join ONCE, not once per count).
 *
 * Usage: Test/runMain graft.perf.AdcVerifyProbe <sfDir> <mode> [threshold]
 *        [passes] [m] [k] [pairEmit] — mode = parity | time-on | time-off
 *        | decomp; pairEmit = auto | grouped | join (auto = the emit the
 *        operator's plan rule picks for this input). The forced modes run
 *        through the operator's private plan seam; an m/k other than the
 *        operator's 32/64 trains that codebook once, outside the timed
 *        region, and passes it in (`codebooks`).
 */
object AdcVerifyProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/tmp/sf10u")
    val mode = if (args.length > 1) args(1) else "parity"
    val threshold = if (args.length > 2) args(2).toDouble else 0.99
    val passes = if (args.length > 3) args(3).toInt else 1
    val mArg = if (args.length > 4) args(4).toInt else 32
    val kArg = if (args.length > 5) args(5).toInt else 64
    val pairEmit = if (args.length > 6) args(6) else "auto"
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // plant 500 exact copies (re-keyed) so the FINAL pair set is non-empty
    // at dedup thresholds — the scale corpora's replicas are decorrelated
    // by construction, so without planting, parity would compare two empty
    // sets (q28's own gate shape, scaled)
    val raw = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val emb = raw.unionByName(raw.orderBy(col("vec_id")).limit(500)
      .withColumn("vec_id", col("vec_id") + lit(100000000000L)))

    val vecs = emb.filter(col("embedding").isNotNull)
    val dim = vecs.select(size(col("embedding"))).head().getInt(0)
    val grouped = pairEmit match {
      case "grouped" => true
      case "join" => false
      case _ => graft.ann.Ann.pairPlan(
        graft.ann.Ann.inputEstimate(emb, dim, vecs.count()), idIsLong = true,
        spark.sessionState.conf.autoBroadcastJoinThreshold).grouped
    }
    val codebooks =
      if (mArg == graft.ann.Ann.AdcM && kArg == graft.ann.Ann.AdcK) None
      else Some(graft.ann.Ann.pqTrain(vecs, "embedding",
        graft.ann.Ann.chooseM(dim, mArg), math.min(256, kArg),
        iterations = 10, seed = 7L))

    def full(adc: Boolean) =
      graft.ann.Ann.cosineDedupPairsWith(
        Some(graft.ann.Ann.PairPlan(adc, grouped)))(
        emb, "vec_id", "embedding", threshold, codebooks = codebooks)

    mode match {
      case "parity" =>
        val on = full(adc = true)
        val nOn = on.count()
        val off = full(adc = false)
        val nOff = off.count()
        val onlyOn = on.exceptAll(off).count()
        val onlyOff = off.exceptAll(on).count()
        println(f"PROBE adc-parity sf=$sfDir t=$threshold on=$nOn " +
          f"off=$nOff onlyOn=$onlyOn onlyOff=$onlyOff " +
          (if (nOn == nOff && onlyOn == 0 && onlyOff == 0) "MATCH"
           else "MISMATCH"))
      case m if m.startsWith("time") =>
        val adc = m == "time-on"
        var pairs = 0L
        def once(): Double = {
          val t0 = System.nanoTime()
          pairs = full(adc).count()
          (System.nanoTime() - t0) / 1e9
        }
        if (passes > 1) once()
        val ts = (1 to passes).map(_ => once()).sorted
        println(f"PROBE adc-${if (adc) "on" else "off"} sf=$sfDir t=$threshold " +
          f"wall=${ts(ts.size / 2)}%.2fs pairs=$pairs")
      case "decomp" =>
        // replicate the operator's internals (codes RIDE the banding
        // shuffle — the operator's own shape) with the residue persisted
        // between the two stages so the candidate join runs once
        import graft.ann.Ann
        val src = emb.select(col("vec_id").as("id"), col("embedding").as("v"))
        val n = src.filter(col("v").isNotNull).count()
        val (p, b) = Ann.autoLshParams(n, threshold, 4)
        val dim = src.select(size(col("v"))).head().getInt(0)
        val planes = Ann.hyperplanes(dim, p * b)
        val hint = graft.core.CandidateJoin.maybeShuffleHash(src) _
        var t0 = System.nanoTime()
        val cb = Ann.pqTrain(src.filter(col("v").isNotNull), "v",
          Ann.chooseM(dim, mArg), kArg, iterations = 10)
        val tTrain = (System.nanoTime() - t0) / 1e9
        val (gram, k) = Ann.sdcGram(cb)
        val banded = src.select(col("id"),
          org.apache.spark.sql.graft.PqEncodeStats(col("v"), cb.centroids)
            .as("s"),
          posexplode(org.apache.spark.sql.graft.HyperplaneBandBuckets(
            col("v"), planes, p)))
          .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
        val residue = hint(banded.select(col("band"), col("bucket"),
            col("id").as("id_a"), col("s").as("sa")))
          .join(hint(banded.select(col("band"), col("bucket"),
            col("id").as("id_b"), col("s").as("sb"))), Seq("band", "bucket"))
          .filter(col("id_a") < col("id_b"))
          .filter(org.apache.spark.sql.graft.PqCosineUpperBound(
            col("sa"), col("sb"), gram, k) >= threshold - Ann.AdcFpEps)
          .select(col("id_a"), col("id_b")).distinct()
          .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
        t0 = System.nanoTime()
        val nResidue = residue.count()
        val tStage1 = (System.nanoTime() - t0) / 1e9
        val va = src.select(col("id").as("id_a"), col("v").as("v_a"))
        val vb = src.select(col("id").as("id_b"), col("v").as("v_b"))
        t0 = System.nanoTime()
        val nFinal = residue.join(va, "id_a").join(vb, "id_b")
          .select(col("id_a"), col("id_b"),
            Ann.cosine(col("v_a"), col("v_b")).as("cosine"))
          .filter(col("cosine") >= threshold).distinct().count()
        val tStage2 = (System.nanoTime() - t0) / 1e9
        residue.unpersist()
        println(f"PROBE adc-decomp sf=$sfDir t=$threshold n=$n p=$p b=$b " +
          f"m=${cb.m} train=$tTrain%.1fs stage1(cand+bound)=$tStage1%.1fs " +
          f"residue=$nResidue stage2(exact)=$tStage2%.1fs final=$nFinal")
      case "kernels" =>
        // split the candidates+bound stage into its four cost terms:
        // per-vector banding eval, per-vector PQ-stats eval, the
        // sort-merge join/shuffle itself, and per-pair bound eval.
        // toRdd.count() keeps the projection unpruned (a plain count()
        // would drop the very expressions under measurement), and the
        // first pass of each term is discarded (the GateVarianceProbe
        // JIT policy).
        import graft.ann.Ann
        val src = emb.select(col("vec_id").as("id"), col("embedding").as("v"))
        val n = src.filter(col("v").isNotNull).count()
        val (p, b) = Ann.autoLshParams(n, threshold, 4)
        val dim = src.select(size(col("v"))).head().getInt(0)
        val planes = Ann.hyperplanes(dim, p * b)
        val cb = Ann.pqTrain(src.filter(col("v").isNotNull), "v",
          Ann.chooseM(dim, mArg), kArg, iterations = 10)
        val (gram, k) = Ann.sdcGram(cb)
        val hint = graft.core.CandidateJoin.maybeShuffleHash(src) _
        def timed(df: org.apache.spark.sql.DataFrame): (Double, Long) = {
          var rows = 0L
          def once(): Double = {
            val t0 = System.nanoTime()
            rows = df.queryExecution.toRdd.count()
            (System.nanoTime() - t0) / 1e9
          }
          once() // discard: JIT/compile pass
          val ts = (1 to math.max(1, passes)).map(_ => once()).sorted
          (ts(ts.size / 2), rows)
        }
        val bandCol = posexplode(org.apache.spark.sql.graft
          .HyperplaneBandBuckets(col("v"), planes, p))
        val (tBand, nBanded) = timed(src.select(col("id"), bandCol))
        val (tBandStats, _) = timed(src.select(col("id"),
          org.apache.spark.sql.graft.PqEncodeStats(col("v"), cb.centroids)
            .as("s"), bandCol))
        val banded = src.select(col("id") +:
            org.apache.spark.sql.graft.PqEncodeStats(col("v"), cb.centroids)
              .as("s") +: Seq(bandCol): _*)
          .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
        val a = banded.select(col("band"), col("bucket"),
          col("id").as("id_a"), col("s").as("sa"))
        val bb = banded.select(col("band"), col("bucket"),
          col("id").as("id_b"), col("s").as("sb"))
        val joined = hint(a).join(hint(bb), Seq("band", "bucket"))
          .filter(col("id_a") < col("id_b"))
        val (tJoin, nCand) = timed(joined)
        val (tJoinBound, nPass) = timed(joined.filter(
          org.apache.spark.sql.graft.PqCosineUpperBound(
            col("sa"), col("sb"), gram, k) >= threshold - Ann.AdcFpEps))
        println(f"PROBE adc-kernels sf=$sfDir t=$threshold n=$n p=$p b=$b " +
          f"m=${cb.m} banded=$nBanded cand=$nCand pass=$nPass " +
          f"tBand=$tBand%.1fs tBandStats=$tBandStats%.1fs " +
          f"(statsEval=${tBandStats - tBand}%.1fs) tJoin=$tJoin%.1fs " +
          f"tJoinBound=$tJoinBound%.1fs " +
          f"(boundEval=${tJoinBound - tJoin}%.1fs)")
      case other =>
        sys.error(s"unknown mode $other")
    }
    spark.stop()
  }
}
