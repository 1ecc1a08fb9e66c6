package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Expression ↔ Column bridge for [[graft.functions]]: Spark's own
  * converter (`classic.ExpressionUtils`) is package-private, hence this
  * object's package.
  */
object GraftColumns {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
}
