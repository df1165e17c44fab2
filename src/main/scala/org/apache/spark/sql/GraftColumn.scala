package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Wraps a Catalyst expression as a Column, for engine expressions
  * that are built in Scala rather than called by SQL name (say, a
  * leaf holding a broadcast). It lives in this package because
  * `classic.ExpressionUtils.column` is private to it. */
object GraftColumn {
  def apply(e: Expression): Column = classic.ExpressionUtils.column(e)
}
