package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into Spark's classic Column internals (private[sql] in
  * Spark 4's decoupled Column API). Standard extension-library
  * technique: live in the org.apache.spark.sql package tree to convert
  * between public `Column` and catalyst `Expression`.
  */
object bridge {
  def toColumn(e: Expression): Column = ExpressionUtils.column(e)
  def toExpression(c: Column): Expression = ExpressionUtils.expression(c)
}
