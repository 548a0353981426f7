/* Shim in the org.apache.spark.sql namespace: the library's single
 * point of contact with Spark-private API. Three private[sql] entry
 * points: ExpressionUtils (the Column <-> Catalyst Expression bridge
 * that wraps a custom Expression as a user-facing Column),
 * Dataset.ofRows (a custom LogicalPlan as a DataFrame) and a live
 * session's function registry. */
package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.classic.ExpressionUtils

object ColumnShim {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Wrap a (resolved) logical plan as a user-facing DataFrame —
    * Dataset.ofRows is private[sql]; needed to hand custom LogicalPlan
    * nodes (graft.plans) back to user code. */
  def dataFrame(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Register a SQL function into a LIVE session's function registry
    * (sessionState is private[sql]; SparkSessionExtensions only applies
    * at session build time). */
  def registerFunction(
      spark: SparkSession,
      name: String,
      info: ExpressionInfo,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
      .registerFunction(FunctionIdentifier(name), info, builder)
}
