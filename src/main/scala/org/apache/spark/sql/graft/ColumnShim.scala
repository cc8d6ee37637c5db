package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression

/** The `private[sql]` seam the index route needs, isolated like
  * [[StreamShim]]: an optimizer rule holds its literals as Catalyst
  * [[org.apache.spark.sql.catalyst.expressions.Literal]]s carrying
  * INTERNAL values (UTF8String, epoch days/micros), which `functions.lit`
  * cannot take. Wrapping the expression itself keeps the literal exact,
  * with no round trip through external Scala values. */
object ColumnShim {
  def column(e: Expression): Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)
}
