package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.functions._

/**
 * Plain-Scala reference for what the stratified sampler selects: per
 * stratum, the `target` rows with the smallest
 * `xxhash64(struct(all columns), seed)`, each weighted total/kept. Spark
 * only evaluates the hash, the stratum key and each row's JSON; grouping,
 * ordering, the cut and the weights are computed here in plain Scala over
 * the collected rows, so the oracle shares no plan with the sampler it
 * checks.
 *
 * Samples compare as multisets of (JSON of the data columns, decoded
 * weight): identical rows tied at the cut are interchangeable, so a
 * multiset is the strongest statement the selection rule supports.
 */
object SamplerOracle {
  type Multiset = Map[(String, Double), Long]

  /** Per-stratum target of the fraction mode: max(reservoir,
    * ceil(fraction · total)), capped by the total; fraction 0 gives the
    * reservoir mode's min(reservoir, total). */
  def fractionTarget(fraction: Double, reservoirSize: Int)(key: Row, total: Long): Long =
    math.min(math.max(reservoirSize.toLong, math.ceil(total * fraction).toLong), total)

  /** Expected sample of `df` stratified by `qcs` (SQL expressions);
    * `target(key, total)` gives each stratum's row target, `key` being the
    * stratum's QCS values as a row. */
  def expected(df: DataFrame, qcs: Seq[String], seed: Long = 42L)(
      target: (Row, Long) => Long): Multiset = {
    val all = df.columns.toSeq.map(col)
    val rows = df.select(struct(qcs.map(expr): _*).as("k"),
      xxhash64(struct(all: _*), lit(seed)).as("h"),
      to_json(struct(all: _*)).as("j")).collect()
    val picked = rows.groupBy(_.getStruct(0)).toSeq.flatMap { case (key, rs) =>
      val total = rs.length.toLong
      val kept = rs.sortBy(_.getLong(1)).take(math.min(target(key, total), total).toInt)
      kept.map(r => (r.getString(2), total.toDouble / kept.length))
    }
    picked.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
  }

  /** The (row, decoded weight) multiset of a sampler output. */
  def actual(sample: DataFrame): Multiset = {
    val data = sample.columns.toSeq.filterNot(_ == weightColumn).map(col)
    sample.select(to_json(struct(data: _*)), sample_weight).collect()
      .groupBy(r => (r.getString(0), r.getDouble(1)))
      .map { case (k, v) => k -> v.length.toLong }
  }
}
