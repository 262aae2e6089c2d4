package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column <-> Catalyst expression conversion for code outside
  * `org.apache.spark.sql`: Spark keeps `ExpressionUtils` package-private,
  * so graft's native expressions are wrapped here as plain Columns, with
  * nothing registered on any session.
  */
object ExpressionColumns {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
