package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** The one bridge between Catalyst expressions and the Spark 4 `Column`.
  * `ExpressionUtils` is private to Spark's `sql` package, so this object
  * lives there. A native expression built with [[apply]] needs no
  * function registry and no SQL parser: the plan holds the expression
  * itself, exactly as the same call from SQL text resolves to it.
  */
object GraftColumn {

  /** `e` as a Column. */
  def apply(e: Expression): Column = ExpressionUtils.column(e)

  /** The (possibly unresolved) expression behind `c`. */
  def expr(c: Column): Expression = ExpressionUtils.expression(c)
}
