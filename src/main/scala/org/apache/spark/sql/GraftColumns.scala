package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Column <-> catalyst Expression for graft's native functions. The
  * Expression-to-Column direction is package-private, hence this file's
  * package.
  */
object GraftColumns {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
}
