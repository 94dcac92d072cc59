package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge to Spark's package-private Column <-> Catalyst conversions, so a
  * custom codegen expression can be offered as a plain Column function. */
object CatalystColumns {
  def wrap(c: Column)(f: Expression => Expression): Column =
    ExpressionUtils.column(f(ExpressionUtils.expression(c)))
}
