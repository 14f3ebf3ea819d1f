package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Expression ↔ Column conversion for graft's typed constructors
  * ([[graft.functions.Kernels]]). Spark's `ExpressionUtils` is
  * package-private to `org.apache.spark.sql`, hence this package. */
object GraftBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
