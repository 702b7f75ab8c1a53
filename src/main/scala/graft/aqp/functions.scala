package graft.aqp

import org.apache.spark.sql.Column
import org.apache.spark.sql.graft.{ErrorEstimateStub, Exprs}

/**
 * DataFrame-API error-introspection functions, mirroring the reference's
 * `org.apache.spark.sql.aqp.functions` (`sql/aqp/functions.scala:33-50`).
 * Each wraps its argument in an unresolved stub bound by the AQP rewrite
 * when the enclosing query runs through `GraftSession.withError` or is a
 * `WITH ERROR` SQL query.
 */
object functions {
  private def stub(fn: String, c: Column): Column =
    Exprs.column(ErrorEstimateStub(fn, Exprs.expression(c)))

  def absolute_error(c: Column): Column = stub("absolute_error", c)
  def relative_error(c: Column): Column = stub("relative_error", c)
  def lower_bound(c: Column): Column = stub("lower_bound", c)
  def upper_bound(c: Column): Column = stub("upper_bound", c)

  // string-alias forms — the signatures the reference's DataFrame suites
  // use (`agg(sum("x").alias("s"), absolute_error("s"))`)
  def absolute_error(columnName: String): Column =
    absolute_error(org.apache.spark.sql.functions.col(columnName))
  def relative_error(columnName: String): Column =
    relative_error(org.apache.spark.sql.functions.col(columnName))
  def lower_bound(columnName: String): Column =
    lower_bound(org.apache.spark.sql.functions.col(columnName))
  def upper_bound(columnName: String): Column =
    upper_bound(org.apache.spark.sql.functions.col(columnName))
}
