package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Package-placed accessors for two `private[sql]` conversions — the
  * standard technique Spark extension libraries use when code built on
  * the public Dataset API needs to re-wrap a Catalyst value (here:
  * `plans/SummaryRewrite` rebasing a dim-only predicate onto the
  * summary scan, and returning its rewritten plan as a DataFrame). Kept
  * to these forwarders so the private-API surface we touch stays two
  * lines. */
object GraftSqlBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  def dataFrame(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
