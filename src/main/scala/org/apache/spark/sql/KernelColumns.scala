package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction

/** Binds Catalyst expressions straight into Columns (and back), so a
  * kernel Column carries its expression in the plan instead of a
  * function name that some session's registry must resolve. Lives in
  * this package for access to the package-private classic conversions.
  */
object KernelColumns {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expr(c: Column): Expression = classic.ExpressionUtils.expression(c)
  def aggregate(f: AggregateFunction): Column = column(f.toAggregateExpression())
}
