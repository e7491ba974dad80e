package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge for wrapping a raw Catalyst [[Expression]] as a user-facing
  * [[Column]]. Spark 4 made the `Column(expr)` constructor private to the
  * sql package (Connect refactor), so libraries adding native expressions
  * need this one-liner inside the namespace.
  */
object GraftColumns {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
