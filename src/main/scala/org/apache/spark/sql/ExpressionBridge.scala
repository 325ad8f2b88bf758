package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** The one bridge between a Column and a Catalyst expression. Spark keeps
  * `classic.ExpressionUtils` private to this package; graft's native
  * kernels (`graft.expressions`) wrap their expressions into Columns here,
  * so a Column form needs no SQL name and no per-session registration.
  */
object ExpressionBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
