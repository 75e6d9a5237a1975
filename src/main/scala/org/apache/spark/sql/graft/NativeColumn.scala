package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge between graft's native Catalyst expressions and the public
  * `Column` API. Spark's `ExpressionUtils` is `private[sql]`, so this object
  * has to sit in a sub-package of `org.apache.spark.sql`. A Column built
  * here wraps the expression itself — no function registry, no session —
  * so it resolves in whichever session analyses the frame.
  */
object NativeColumn {
  def apply(e: Expression): Column = ExpressionUtils.column(e)
  def expr(c: Column): Expression = ExpressionUtils.expression(c)
}
