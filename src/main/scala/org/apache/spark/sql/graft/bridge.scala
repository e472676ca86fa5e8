package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Spark 4 hides Column↔Expression bridging behind `private[sql]`
  * (`org.apache.spark.sql.classic.ExpressionUtils`). This is the one place
  * the library reaches into the sql package namespace — the standard pattern
  * for Catalyst-extension libraries.
  */
object Bridge {
  def toExpr(c: Column): Expression = ExpressionUtils.expression(c)
  def toCol(e: Expression): Column = ExpressionUtils.column(e)

  /** Execute an arbitrary LogicalPlan as a DataFrame (TableMemo's fresh
    * relation instances; plan-rewrite tests). */
  def planToDf(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Register a SQL function into a session's (session-local) function
    * registry — the mechanism behind `SparkSessionExtensions.injectFunction`,
    * applied to an already-running session. */
  def registerFunction(spark: org.apache.spark.sql.SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry.createOrReplaceTempFunction(
        name, builder, "scala_udf")
}
