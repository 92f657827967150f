package org.apache.spark.sql.testcolumn

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression

/** A Column over a Catalyst expression built by hand — Spark's own
  * constructor for one is private to `org.apache.spark.sql`. */
object ColumnOf {
  def apply(e: Expression): Column = org.apache.spark.sql.classic.ExpressionUtils.column(e)
}
