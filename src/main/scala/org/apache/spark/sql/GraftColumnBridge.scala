package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** The one sanctioned reach into Spark's `private[sql]` surface: wrap a
  * Catalyst [[Expression]] as a user-facing [[Column]] (and back) so graft's
  * native codegen'd expressions compose with `functions._` pipelines without
  * per-session function registration, and a Catalyst plan node (graft's
  * ordered scan) as a [[DataFrame]]. Pure delegation to
  * `classic.ExpressionUtils` and `classic.Dataset` — no behavior, no state.
  */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  def frame(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
