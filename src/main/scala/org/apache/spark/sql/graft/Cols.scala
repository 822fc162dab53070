package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column <-> Catalyst Expression conversions for the engine's native
  * expressions. Spark keeps these `private[sql]`; living in this package
  * lets `graft.functions` build a native expression straight into a
  * Column, with no function-registry lookup by name. */
object Cols {
  def of(e: Expression): Column = ExpressionUtils.column(e)
  def expr(c: Column): Expression = ExpressionUtils.expression(c)
}
