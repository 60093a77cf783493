package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic

/** Bridge into the `private[sql]` Dataset constructor and Column/Expression
  * conversions — the hops a third-party extension needs that
  * `SparkSessionExtensions` does not expose:
  *  - turning a custom resolved `LogicalPlan` node
  *    (graft.plans.AsofJoinNode) back into a public `DataFrame`;
  *  - wrapping a custom Catalyst expression (graft.functions.LowerUtf8)
  *    as a `Column` with no function-registry name, so it works on any
  *    session.
  * Lives under `org.apache.spark.sql` solely to satisfy the access scope;
  * contains no Spark code.
  */
object PlanBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
}
