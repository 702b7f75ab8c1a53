package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, Literal,
  RuntimeReplaceable, Unevaluable, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.types.{DataType, DoubleType}

/**
 * Logical node wrapping a query that carries a trailing
 * `WITH ERROR e [CONFIDENCE c] [BEHAVIOR 'b']` clause (reference parses the
 * same shape into `Error(…, Confidence(…, Behavior(…)))` nodes —
 * `sql/snappyAQPParsers.scala:48-71`, `QueryProcessingRules.scala:2068-2086`).
 * `None` fields fall back to session defaults
 * (`spark.sql.aqp.{error,confidence,behavior}`).
 */
case class ErrorConfidence(
    error: Option[Double],
    confidence: Option[Double],
    behavior: Option[String],
    child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(newChild: LogicalPlan): ErrorConfidence =
    copy(child = newChild)
}

/**
 * Unresolved placeholder for the four error-introspection functions
 * (`absolute_error`, `relative_error`, `lower_bound`, `upper_bound` —
 * reference `execution/common/errorEstimateFunctions.scala`). Registered in
 * the FunctionRegistry so analysis succeeds; [[AqpRewrite]] replaces each
 * with a `GetStructField` over the matching error aggregate. Surviving to
 * execution means the query had no AQP context — Unevaluable then raises.
 */
case class ErrorEstimateStub(fnName: String, child: Expression)
    extends UnaryExpression with Unevaluable {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = fnName
  override protected def withNewChildInternal(newChild: Expression): ErrorEstimateStub =
    copy(child = newChild)
}

object ErrorEstimateStub {
  val names: Seq[String] =
    Seq("absolute_error", "relative_error", "lower_bound", "upper_bound")

  /** An error function's value on an exactly answered query: errors are
   * 0, bounds are NULL. */
  def exact(fnName: String): Literal = fnName match {
    case "absolute_error" | "relative_error" => Literal(0.0, DoubleType)
    case _ => Literal(null, DoubleType)
  }

  /** Field ordinal in [[ClosedFormAggregate.resultType]] for each function. */
  def fieldOrdinal(fnName: String): Int = fnName match {
    case "lower_bound" => 1
    case "upper_bound" => 2
    case "absolute_error" => 3
    case "relative_error" => 4
  }
}

/** An error function over a sample queried with no error clause: its
 * [[ErrorEstimateStub.exact]] value once optimized, and a stub again when
 * an [[ErrorConfidence]] later wraps the analyzed plan
 * (`GraftSession.withError` over a frame that reads a sample). */
case class InertErrorEstimate(fnName: String, child: Expression)
    extends UnaryExpression with RuntimeReplaceable {
  override lazy val replacement: Expression = ErrorEstimateStub.exact(fnName)
  override protected def withNewChildInternal(newChild: Expression): InertErrorEstimate =
    copy(child = newChild)
}

/** Thrown under BEHAVIOR 'strict' when a group's relative error exceeds the
 * requested limit (reference `closedform/closedFormError.scala` —
 * `ErrorLimitExceededException`). */
class ErrorLimitExceededException(msg: String) extends RuntimeException(msg)

/** BEHAVIOR 'strict' as a boolean filter predicate: true when the row's
 * relative error is within the limit, throws [[ErrorLimitExceededException]]
 * when it is not. Placed in a `Filter` ABOVE the query's sort/limit, so only
 * rows the query actually RETURNS are enforced — the reference's per-row
 * ApproxColumn evaluation likewise never touches limited-out groups
 * (`AbstractAQPDataFrameAPIPart1Test` "group by queries with limit not
 * throwing exception ..."). Declared non-deterministic so the optimizer
 * cannot relocate the check through the sort/limit it must stay above. */
case class StrictErrorCheck(relErr: Expression, limit: Double)
    extends UnaryExpression with CodegenFallback {
  override def child: Expression = relErr
  override def dataType: org.apache.spark.sql.types.DataType =
    org.apache.spark.sql.types.BooleanType
  override def nullable: Boolean = false
  override lazy val deterministic: Boolean = false
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = relErr.eval(input)
    // NULL relative error = empty group / omitted cell — nothing to enforce
    if (v != null && v.asInstanceOf[Double] > limit) {
      throw new ErrorLimitExceededException(
        s"relative error ${v.asInstanceOf[Double]} exceeds limit $limit " +
          "(BEHAVIOR 'strict')")
    }
    true
  }
  override protected def withNewChildInternal(newChild: Expression): StrictErrorCheck =
    copy(relErr = newChild)
  override def prettyName: String = "strict_error_check"
}
