package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column <-> Catalyst expression conversion for graft's native
  * expressions. Spark keeps these conversions `private[sql]`; this object
  * lives under `org.apache.spark.sql` to reach them. A Column built here
  * carries the expression itself, so it resolves in any session, with or
  * without `spark.sql.extensions`.
  */
object Catalyst {
  def column(e: Expression): Column = ExpressionUtils.column(e)

  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
