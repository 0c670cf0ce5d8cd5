package org.apache.spark.sql

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Bridge to the `private[sql]` Column <-> Expression converters, so graft's
  * native Catalyst expressions can be exposed as `Column`s (Spark 4 removed
  * the public Column(expr) constructor), and to the session function
  * registry, so they can be registered for SQL on a running session. */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  def registerFunction(spark: SparkSession, name: String, usage: String,
                       build: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[classic.SparkSession].sessionState.functionRegistry.registerFunction(
      FunctionIdentifier(name), new ExpressionInfo("graft", null, name, usage, ""), build)
}
