package graft.sampling

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{PackWeightage, Weightage}

/**
 * Batch stratified sampling as a declarative Dataset transform.
 *
 * Semantics follow the reference samplers (snappy-aqp
 * `execution/StratifiedSamplerReservoir.scala:33-78`,
 * `execution/StratifiedSamplerCached.scala:39-120`,
 * options parsed at `execution/stratifiedSampling.scala:295-359`):
 *
 *  - The stratum key (QCS — "query column set") is an arbitrary list of
 *    projection expressions evaluated per row.
 *  - `fraction == 0` → fixed-size reservoir per stratum (`reservoirSize`
 *    rows, default 50 per `stratifiedSampling.scala:289-291`).
 *  - `fraction > 0`  → per-stratum target `max(reservoirSize,
 *    ceil(fraction · stratumSize))`, so small strata keep full
 *    representation while big strata are sampled at the fraction.
 *  - Every output row carries the hidden packed weight column
 *    ([[org.apache.spark.sql.graft.Weightage]]) encoding
 *    (keptRows, stratumTotal, keyHash) — weight = total/kept.
 *
 * Implementation is Spark-first rather than a port of the reference's
 * per-executor reservoir cache: rows are ranked inside each stratum by a
 * content-seeded xxhash64 (deterministic for a given seed + input), and the
 * `target` lowest-ranked rows are kept. This is one shuffle (hash partition
 * by stratum key) and both the per-stratum total and kept count are exact —
 * the reference's accuracy tests demand |kept − fraction·N| ≤ 2
 * (`SamplingAccuracySuite.scala:234-235`); this construction is exact by
 * design.
 *
 * Scale notes (100 TB): the rank is a per-stratum sort, so a single giant
 * stratum would land on one task. When `fraction` is small (below 0.45),
 * the sampler first computes per-stratum counts with a map-side-combined
 * `groupBy.count` (tiny shuffle), broadcasts them, and Bernoulli-prefilters
 * to ~`2 × target + 50` rows by the same hash *before* the window sort.
 * The kept set is unchanged — the target-smallest hashes survive any
 * prefilter keeping all hashes below a threshold at ~margin× the target
 * quantile. The additive cushion covers tiny strata and the
 * multiplicative factor bounds the big-stratum shuffle at ~factor× the
 * sample size: a false cut needs Binomial(total, (f·t+50)/total) < t, i.e.
 * probability ≤ exp(−((f−1)t+50)²/(2(f·t+50))) ≤ e^−25 for every t ≥ 1 at
 * f = 2. AQE handles residual skew.
 *
 * One plan per mode, chosen from the inputs alone:
 *  - `fraction >= 1`: a zero-job projection with a sentinel weight;
 *  - `fraction == 0`: a one-pass bounded-reservoir aggregate;
 *  - `0 < fraction < 1`: counts + prefilter + exact rank, the rank sharded
 *    by hash range when the input is large; at `fraction >= 0.45` the
 *    prefilter cannot cut and a window count replaces it;
 *  - error limit: per-stratum targets from the moments, then the same
 *    prefilter + exact rank as the fraction mode.
 */
object StratifiedSampler {

  final val WeightColumn: String = Weightage.WeightColumn

  private val K = "__graft_key__"
  private val R1 = "__graft_rank__"
  private val TOT = "__graft_total__"
  private val TGT = "__graft_target__"

  /** Prefilter cushion for small targets: keep ~`PreFilterFactor × target
    * + 50` rows per stratum before the rank. */
  private val PreFilterFactor = 2.0

  /** Above this per-stratum target, the Bernoulli prefilter cushion drops
    * from `factor × target` to `target + max(5% of target, 50)`: the
    * selected multiset is the `target` smallest hashes either way (the
    * prefilter only has to keep a SUPERSET of them), and at large targets
    * the count of sub-threshold hashes concentrates so tightly around its
    * mean (Chernoff: P[short by 5% at 10k+ expected] < e^-12, and it falls
    * exponentially from there) that a 2x cushion just doubles the volume
    * the rank pass materializes and sorts. Small strata keep the full
    * factor — there the cushion is what absorbs real variance. */
  private val CushionSwitch = 10000L

  /** Full prefilter numerator (target + cushion), the ONE definition both
    * the driver-side and column-side threshold formulas use. */
  private def cushioned(tgt: Long): Double =
    if (tgt >= CushionSwitch) tgt + math.max(math.ceil(tgt * 0.05), 50.0)
    else tgt * PreFilterFactor + 50.0

  private def keyHash: Column = pmod(hash(col(K)), lit(256)).cast("int")

  /** Attach the packed weight and drop every helper column. */
  private def packed(df: DataFrame, kept: Column, total: Column,
      dataCols: Seq[Column]): DataFrame =
    df.withColumn(WeightColumn, PackWeightage(kept, total, keyHash))
      .select(dataCols :+ col(WeightColumn): _*)

  /** Keep the `target` rows with the smallest R1 per stratum; the target
    * is attached as TGT after the rank. */
  private def ranked(df: DataFrame, target: Column): DataFrame =
    df.withColumn("__graft_rn__",
        row_number().over(Window.partitionBy(col(K)).orderBy(col(R1))))
      .withColumn(TGT, target)
      .filter(col("__graft_rn__") <= col(TGT))

  /**
   * The exact rank-select shared by the fraction and error-limit modes.
   * `joined` carries the stratum key K, the content hash R1 and the
   * stratum total TOT; `target` is the per-stratum row target as a column
   * over it. A Bernoulli prefilter by the same hash first cuts each
   * stratum to ~`cushioned(target)` rows, then the rank keeps the `target`
   * smallest hashes. After a prefilter the kept count can (with
   * astronomically small probability) fall short of the target, so it is
   * counted exactly; this window runs on already-sampled data that is
   * already partitioned by the key.
   */
  private def rankSelect(joined: DataFrame, target: Column,
      dataCols: Seq[Column]): DataFrame = {
    // column mirror of cushioned() — keep the two bit-identical
    val cushionedTgt = when(target >= lit(CushionSwitch),
      target + greatest(ceil(target * lit(0.05)), lit(50.0)))
      .otherwise(target * lit(PreFilterFactor) + lit(50.0))
    val p = least(lit(1.0), cushionedTgt / col(TOT))
    // xxhash64 is uniform over the full signed-long range:
    // P(h < (2p−1)·MaxLong) = p; p == 1 keeps everything
    val threshold = (lit(2.0) * p - lit(1.0)) * lit(Long.MaxValue.toDouble)
    val pre = joined.filter(col(TOT) <= target || col(R1).cast("double") < threshold)
    val kept = ranked(pre, target).withColumn("__graft_kept__",
      count(lit(1)).over(Window.partitionBy(col(K))))
    packed(kept, col("__graft_kept__"), col(TOT), dataCols)
  }

  /** Convenience: qcs by column name / SQL expression strings. */
  def sample(
      df: DataFrame,
      qcs: Seq[String],
      fraction: Double = 0.0,
      reservoirSize: Int = 50,
      seed: Long = 42L,
      rankCols: Seq[String] = Nil): DataFrame =
    sample(df, qcs.map(expr), fraction, reservoirSize, seed, rankCols.map(col(_)))

  /**
   * Error-limit sampling (reference `StratifiedSamplerErrorLimit.scala:33-45`,
   * selection logic `stratifiedSampling.scala:418-440`): size each stratum so
   * the closed-form relative error of `errorColumn`'s mean stays under
   * `errorLimitPercent` at `confidence`:
   *
   *   n_s = ceil( (z · σ_s / (limit · |μ_s|))² ),  clamped to
   *         [reservoirSize, stratumTotal]
   *
   * Batch (two-pass) formulation of the reference's adaptive streaming
   * sampler: pass 1 is a map-side-combined per-stratum moment aggregation
   * (count/avg/variance — tiny shuffle), pass 2 the fraction mode's exact
   * rank-select with these targets. The inner expression is rounded to 6
   * decimals before `ceil` so the target is robust to last-ulp differences.
   */
  def sampleWithErrorLimit(
      df: DataFrame,
      qcs: Seq[Column],
      errorColumn: Column,
      errorLimitPercent: Double,
      confidence: Double = 0.95,
      reservoirSize: Int = 50,
      seed: Long = 42L): DataFrame = {
    require(errorLimitPercent > 0, "errorLimitPercent must be > 0")
    val z = org.apache.spark.sql.graft.ClosedFormAggregate.zFactor(confidence)
    val limit = errorLimitPercent / 100.0

    val dataCols = df.columns.map(col).toSeq
    val key = if (qcs.isEmpty) lit(0) else struct(qcs: _*)
    val keyed = df
      .withColumn(K, key)
      .withColumn(R1, xxhash64(struct(dataCols: _*), lit(seed)))

    val stats = keyed.groupBy(col(K)).agg(
      count(lit(1)).as(TOT),
      avg(errorColumn).as("__graft_mu__"),
      coalesce(stddev_pop(errorColumn), lit(0.0)).as("__graft_sigma__"))
    val needed = ceil(round(
      pow(lit(z) * col("__graft_sigma__") /
        (lit(limit) * greatest(abs(col("__graft_mu__")), lit(1e-12))), 2.0),
      6)).cast("long")
    val targets = stats.withColumn(TGT,
      least(greatest(lit(reservoirSize.toLong), needed), col(TOT)))
      .select(col(K).as(K + "c"), col(TOT), col(TGT))

    val joined = keyed.join(broadcast(targets), col(K) <=> col(K + "c"), "inner")
    rankSelect(joined, col(TGT), dataCols)
  }

  /**
   * @param qcs stratum-key expressions (may be arbitrary projections, e.g.
   *            `hour(pickup_datetime)` — reference
   *            `sampling/ColumnFormatSamplingRelation.scala:170-229`)
   * @param rankCols columns the content-seeded rank hash reads. Default
   *            (empty) hashes EVERY column — always safe. Callers that
   *            know a row-distinguishing key (a primary key, an id) should
   *            pass it: the rank then forces only those columns into the
   *            scan's read schema, so a wide fact table samples off a
   *            narrow key scan instead of decoding every column of every
   *            row — at 100 TB the difference between hashing 3 ints and
   *            hashing a kilobyte of strings per row. CONTRACT: the
   *            columns must distinguish rows; if two rows collide on them,
   *            the winner among the tied ranks is layout-dependent and the
   *            sampled multiset loses its layout-independence guarantee
   *            (identical full rows remain interchangeable either way).
   */
  def sample(
      df: DataFrame,
      qcs: Seq[Column],
      fraction: Double,
      reservoirSize: Int,
      seed: Long,
      // no default here: a second defaulted overload of `sample` is a
      // compile error; the string-qcs convenience overload carries it
      rankCols: Seq[Column])(
      // erases to the string-qcs overload's signature without this marker
      implicit d: DummyImplicit): DataFrame = {
    require(fraction >= 0.0 && fraction <= 1.0, s"fraction must be in [0,1]: $fraction")
    require(reservoirSize > 0 || fraction > 0, "need reservoirSize > 0 or fraction > 0")

    val dataCols = df.columns.map(col).toSeq
    val key = if (qcs.isEmpty) lit(0) else struct(qcs: _*)

    // fraction == 1.0 keeps every row with weight total/total = 1 — and
    // EVERY consumer of the packed weight depends on (kept, total) only
    // through quantities that are invariant when kept == total: the
    // decoded Horvitz–Thompson ratio total/kept (MapColumnToWeight,
    // BootstrapAggregate: x/x = 1.0 exactly in IEEE for any x > 0) and
    // the closed-form FPC factor R·(R−L)/(L−1) (ClosedFormAggregate:
    // exactly 0 for L == R ≥ 2; L == R == 1 skips as NaN — the same 0
    // contribution). So a per-stratum totals pass — one FULL extra scan
    // of the base plus an aggregate pair and a broadcast round PER QUERY,
    // at 100 TB a second read of the fact table — would compute values
    // whose every use cancels. The sentinel pack(1, 1,
    // keyHash) preserves every consumer's arithmetic (estimates, bounds,
    // errors, sample_count — see FullFractionWeightSpec) while making
    // the full-fraction "sample" a pure zero-job projection.
    if (fraction >= 1.0) {
      return packed(df.withColumn(K, key), lit(1L), lit(1L), dataCols)
    }

    // Content-seeded rank: deterministic for a fixed seed, uniform per row.
    // A single 64-bit hash ranks the rows; ties occur only for identical
    // rows (interchangeable — any winner yields the same sample) or 2^-64
    // cross-row collisions, the same determinism class as the reference
    // (which pins partition counts in tests because its per-partition RNG
    // order is config-dependent). A second independent hash would double the
    // dominant scan-side compute for no material gain. With `rankCols` the
    // hash reads only the caller's row-key columns — column pruning then
    // reaches the scan for queries that don't touch the other columns.
    val hashInput = if (rankCols.isEmpty) dataCols else rankCols
    val keyed = df
      .withColumn(K, key)
      .withColumn(R1, xxhash64(struct(hashInput: _*), lit(seed)))

    // ONE-PASS pure-reservoir mode (fraction == 0): a totals scan PLUS a
    // full-width scan feeding a prefilter + rank window (the fraction
    // mode's plan) would cost two scans. The selection criterion ("the
    // reservoirSize rows with the smallest content hash per stratum") and
    // the weight inputs (kept = min(reservoir, total), total) are both
    // computable in a single map-side-combined aggregate whose partial
    // buffers hold at most `reservoirSize` rows per stratum per task
    // ([[org.apache.spark.sql.graft.BoundedReservoirRows]]), so ONE scan
    // replaces two and the rank-window shuffle disappears — measured at
    // sf0.1 lineitem, timing each phase alone: totals pass 0.34 s + hash
    // scan 0.31 s + join/window 0.18 s → one 0.35 s-class pass. The retained
    // multiset is IDENTICAL: ties on the full-width hash are identical
    // rows (or 2⁻⁶⁴ collisions), the same determinism class the rank
    // window documents above.
    if (fraction == 0.0) {
      import org.apache.spark.sql.graft.{BoundedReservoirRows, Exprs}
      val res = Exprs.column(BoundedReservoirRows(
        Exprs.expression(col(R1)),
        Exprs.expression(struct(dataCols: _*)),
        reservoirSize).toAggregateExpression())
      val perStratum = keyed.groupBy(col(K)).agg(res.as("__graft_res__"))
      return perStratum
        .select(col(K), col("__graft_res__.total").as(TOT),
          explode(col("__graft_res__.rows")).as("__graft_row__"))
        .withColumn(WeightColumn,
          PackWeightage(least(lit(reservoirSize.toLong), col(TOT)), col(TOT),
            keyHash))
        .select(df.columns.toSeq.map(name =>
          col("__graft_row__").getField(name).as(name)) :+
          col(WeightColumn): _*)
    }

    def targetOf(total: Column): Column =
      least(greatest(lit(reservoirSize.toLong), ceil(total * lit(fraction))), total)

    // Attach per-stratum total; Bernoulli-prefilter big strata before the
    // exact rank to keep the per-stratum sort input ~factor×target. At a
    // fraction the prefilter cannot cut, the totals come from a window
    // count instead, shuffling every row into one task per stratum.
    val usePrefilter = fraction * PreFilterFactor < 0.9

    // SUB-STRATUM PARALLEL RANK (the low-cardinality-QCS scale path): a
    // plain `row_number over (partitionBy K orderBy R1)` sorts each stratum
    // on ONE task, so 3 strata bound the whole job at 3 cores no matter the
    // cluster. R1 is a uniform 64-bit hash, so fixed equal-width ranges of
    // the hash value (top bits, monotone in the SIGNED order the rank
    // sorts by) split every stratum into balanced shards with no extra data
    // pass, and the exact global rank is `shard-local rank + exclusive sum
    // of lower-shard counts`. The selected multiset is IDENTICAL to the
    // one-task sort's: the same `target` smallest hashes per stratum
    // survive.
    //
    // The FULL-WIDTH content hash is computed exactly ONCE over the input:
    // the only eager job is a per-stratum totals count whose scan prunes to
    // the QCS columns (R1 never enters it), and the prefiltered survivors
    // — ~factor×target rows per stratum, a small multiple of the sample —
    // are evaluated once into executor storage shared by the offsets branch
    // and the rank pass, released after the caller's first action. The
    // shard offsets are exclusive sums of SURVIVOR counts, cumulated per
    // stratum in a bounded ≤64-row-per-stratum window and broadcast — no
    // driver collect. Survivor counts compose the same global rank the full
    // counts did: every shard below the threshold shard survives whole, and
    // shards above it have no survivors at all.
    //
    // Driver-side state stays bounded: this path engages only when the
    // stratum count is at most `maxOffsetStrata` (collected with a limit
    // guard); past it, per-stratum tasks already saturate any cluster and
    // the classic one-window plan is used unchanged. It is also SIZE-GATED:
    // the extra counts-collect job is pure overhead on an input small
    // enough that the one-task sort is trivial anyway — below the
    // threshold the classic plan runs. An input without size statistics
    // (an RDD-backed frame) counts as large.
    val maxOffsetStrata = 4096
    val B = "__graft_shard__"
    val shardBits = 58 // 64 shards: top 6 bits of the signed hash
    val shardRank = {
      val threshold = math.max(
        8L * df.sparkSession.sessionState.conf.autoBroadcastJoinThreshold,
        64L * 1024 * 1024)
      df.queryExecution.optimizedPlan.stats.sizeInBytes > BigInt(threshold)
    }
    if (usePrefilter && shardRank) {
      // the ONLY eager job: per-stratum totals on a QCS-pruned scan — R1
      // (which would force every column into the read schema) never
      // enters this branch
      val totals = df.withColumn(K, key).groupBy(col(K))
        .agg(count(lit(1)).as(TOT))
        .limit(maxOffsetStrata + 1)
        .collect()
      if (totals.length <= maxOffsetStrata) {
        // ---- bucketed exact-rank path ----
        val keyType = keyed.schema.find(_.name == K).get.dataType
        val targetRows = totals.map { r =>
          val tot = r.getLong(1)
          val tgt = math.min(math.max(reservoirSize.toLong,
            math.ceil(tot * fraction).toLong), tot)
          val p = math.min(1.0, cushioned(tgt) / tot)
          val threshold = (2.0 * p - 1.0) * Long.MaxValue.toDouble
          org.apache.spark.sql.Row(r.get(0), tot, tgt, threshold)
        }.toSeq
        val spark = df.sparkSession
        val targetsSchema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField(K + "c", keyType),
          org.apache.spark.sql.types.StructField(TOT,
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField(TGT,
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("__thr__",
            org.apache.spark.sql.types.DoubleType)))
        val targets = broadcast(spark.createDataFrame(
          new java.util.ArrayList(scala.jdk.CollectionConverters
            .SeqHasAsJava(targetRows).asJava), targetsSchema))
        // PUSH the prefilter BELOW the targets join: the thresholds are
        // driver-known (they were just computed from the collected
        // totals), so for a small stratum count the per-stratum cut can be
        // a literal predicate sitting directly on the scan — measured at
        // sf10u (60M rows, 3 strata), letting all 60M rows ride the
        // broadcast join just to evaluate this filter cost ~6 s of a 17 s
        // sample; the literal pre-cut drops the join input to
        // ~cushion×target rows. The predicate reproduces the join-side
        // filter EXACTLY (same thresholds, same keep-all branch), so the
        // selected multiset is unchanged and the join-side filter stays on
        // as a free re-check. Beyond `maxPredStrata` strata a giant
        // OR-chain would bloat codegen for no win (many strata ⇒ the join
        // pass is not the bottleneck) — fall back to join-then-filter; a
        // key field type Literal.create can't carry falls back too.
        val maxPredStrata = 64
        val preCut: Option[Column] =
          if (totals.length > maxPredStrata) None
          else try {
            val keyFields = keyed.schema(K).dataType match {
              case s: org.apache.spark.sql.types.StructType => s.fields.toSeq
              case _ => Seq.empty
            }
            val parts = targetRows.map { r =>
              val tot = r.getLong(1)
              val tgt = r.getLong(2)
              val thr = r.getDouble(3)
              val keyEq: Column =
                if (keyFields.isEmpty) lit(true)
                else {
                  val kr = r.get(0).asInstanceOf[org.apache.spark.sql.Row]
                  keyFields.zipWithIndex.map { case (f, i) =>
                    col(K).getField(f.name) <=> org.apache.spark.sql.graft
                      .Exprs.column(org.apache.spark.sql.catalyst.expressions
                        .Literal.create(kr.get(i), f.dataType))
                  }.reduce(_ && _)
                }
              if (tot <= tgt) keyEq
              else keyEq && col(R1).cast("double") < lit(thr)
            }
            Some(parts.reduce(_ || _))
          } catch {
            // expected: Literal.create cannot carry a key field's type
            // (its converter failures span exception classes, so the
            // catch stays broad) — but the fallback must never be SILENT:
            // a genuine bug (schema drift between keyed and targets)
            // would otherwise just disable the measured ~6 s/pass
            // optimization with no signal it stopped engaging
            case scala.util.control.NonFatal(e) =>
              org.slf4j.LoggerFactory.getLogger(StratifiedSampler.getClass)
                .warn("StratifiedSampler: literal pre-cut disabled, " +
                  s"falling back to join-side filter only: $e")
              None
          }
        // arithmetic shift of the signed hash: shard index is monotone in
        // the signed order the rank sorts by
        val shardCol = (shiftright(col(R1), shardBits) + lit(32)).cast("int")
        // ONE full-width scan computes the content hash; the survivors
        // (~factor×target per stratum) are materialized so the offsets
        // branch and the rank pass read the same snapshot instead of
        // re-scanning and re-hashing the whole input
        val preCutKeyed = preCut.fold(keyed)(keyed.filter)
        val survivors0 = preCutKeyed.withColumn(B, shardCol)
          .join(targets, col(K) <=> col(K + "c"), "inner")
          .filter(col(TOT) <= col(TGT) ||
            col(R1).cast("double") < col("__thr__"))
          .drop(K + "c")
        val (survivors, survivorsRdd) = org.apache.spark.sql.graft.Plans
          .materializeWithRdd(spark, survivors0)
        // exclusive per-(stratum, shard) offsets from SURVIVOR counts,
        // cumulated inside the caller's action (≤64 rows per stratum in
        // the window) and broadcast back — these equal the full-count
        // offsets: a shard below the per-stratum threshold shard survives
        // whole, and a shard above it has no survivors
        val survCounts = survivors
          .groupBy(col(K).as(K + "o"), col(B).as(B + "o"))
          .agg(count(lit(1)).as("__cnt__"))
        val offsets = broadcast(survCounts
          .withColumn("__off__", coalesce(
            sum(col("__cnt__")).over(Window.partitionBy(col(K + "o"))
              .orderBy(col(B + "o"))
              .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .select(col(K + "o"), col(B + "o"), col("__off__")))
        val shardRanked = survivors
          .join(offsets, col(K) <=> col(K + "o") && col(B) === col(B + "o"),
            "inner")
          .withColumn("__graft_rn__", row_number()
            .over(Window.partitionBy(col(K), col(B)).orderBy(col(R1))) +
            col("__off__"))
          .filter(col("__graft_rn__") <= col(TGT))
        // exact kept count WITHOUT a window over the ranked rows: the rank
        // keeps exactly min(target, survivorsPerStratum) rows, and the
        // per-stratum survivor totals are one tiny aggregation over the
        // SAME ≤64-rows-per-stratum counts frame the offsets use — the
        // count-only window this replaces shuffled every sampled row into
        // one task per stratum (at 3 strata × 2M-row targets, 3 serial
        // tasks over 6M rows for a number already known from ≤192 rows)
        val keptPerK = broadcast(survCounts
          .groupBy(col(K + "o").as(K + "k"))
          .agg(sum(col("__cnt__")).as("__surv__")))
        val kept = shardRanked
          .join(keptPerK, col(K) <=> col(K + "k"), "inner")
          .withColumn("__graft_kept__", least(col(TGT), col("__surv__")))
        val out = packed(kept, col("__graft_kept__"), col(TOT), dataCols)
        org.apache.spark.sql.graft.Plans
          .releaseAfterFirstUse(spark, survivorsRdd)
        return out
      }
      // else: fall through to the classic plan (strata already saturate
      // the cluster; the finer counts pass is discarded)
    }

    if (usePrefilter) {
      val counts = keyed.groupBy(col(K)).agg(count(lit(1)).as(TOT))
      // null-safe equality: QCS values may be null and must join to their count
      val joined = keyed.join(broadcast(counts.withColumnRenamed(K, K + "c")),
        col(K) <=> col(K + "c"), "inner").drop(K + "c")
      return rankSelect(joined, targetOf(col(TOT)), dataCols)
    }
    // without a prefilter, rank selection keeps exactly min(target, total)
    // rows — no extra pass needed
    val withTotal =
      keyed.withColumn(TOT, count(lit(1)).over(Window.partitionBy(col(K))))
    val kept = ranked(withTotal, targetOf(col(TOT)))
      .withColumn("__graft_kept__", least(col(TGT), col(TOT)))
    packed(kept, col("__graft_kept__"), col(TOT), dataCols)
  }
}
