package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Package-placed accessors for three `private[sql]` conversions — the
  * standard technique Spark extension libraries use when code built on
  * the public Dataset API needs to re-wrap a Catalyst value (here:
  * `plans/SummaryRewrite` rebasing a dim-only predicate onto the
  * summary scan and returning its rewritten plan as a DataFrame, and
  * `sources/Fetch` wrapping its stamp column in
  * `graft.functions.BoundConstant`). Kept to these forwarders so the
  * private-API surface we touch stays three lines. */
object GraftSqlBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  def dataFrame(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
