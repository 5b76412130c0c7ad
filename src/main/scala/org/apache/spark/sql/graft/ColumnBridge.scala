package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge between the public Column API and Catalyst Expressions
  * (Spark 4 hides the Expression constructor behind the classic
  * module; this shim lives in the org.apache.spark.sql namespace to
  * reach it). */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)

  /** Eager ColumnNode -> catalyst conversion: hand-built logical plans
    * (TopKPerKeyPlan) never pass through Dataset's converter, so the
    * lazy ColumnNodeExpression wrapper would reach the analyzer
    * unresolvable. */
  def expression(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(c.node)

  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  def logicalPlan(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].logicalPlan
}
