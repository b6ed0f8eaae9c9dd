package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Typed `Column`s over graft's native Catalyst expressions
  * (`graft.expressions`): the Column ⇄ Expression bridge,
  * `classic.ExpressionUtils`, is private[sql]. A column built here holds
  * the expression itself, so a plan that uses it resolves in any
  * session — nothing is looked up by name in a function registry. */
object GraftColumns {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  def expression(c: Column): Expression =
    classic.ExpressionUtils.expression(c)
}
