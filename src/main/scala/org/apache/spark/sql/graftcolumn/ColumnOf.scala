package org.apache.spark.sql.graftcolumn

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression

/** The bridge between a Column and the Catalyst expression under it:
  * Spark's own conversions are private to `org.apache.spark.sql`. */
object ColumnOf {
  /** A Column over a Catalyst expression built by hand. */
  def apply(e: Expression): Column = org.apache.spark.sql.classic.ExpressionUtils.column(e)

  /** The (maybe unresolved) Catalyst expression of `c`. */
  def expression(c: Column): Expression = org.apache.spark.sql.classic.ExpressionUtils.expression(c)
}
