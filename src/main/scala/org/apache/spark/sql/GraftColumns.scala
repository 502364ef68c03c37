package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Catalyst Expression for graft's custom expressions.
  * Spark's own converters are `private[sql]`, which is why this lives
  * in Spark's package: it lets [[graft.functions]] wrap an expression
  * as a Column without a session-function registration. */
object GraftColumns {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
