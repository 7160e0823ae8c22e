package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/**
 * Spark 4 backs `Column` with a ColumnNode and keeps the
 * Column↔Expression bridge (`classic.ExpressionUtils`) private[sql].
 * This is the one sanctioned seam for libraries that define native
 * Catalyst expressions, so we expose exactly those two conversions.
 */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
}
