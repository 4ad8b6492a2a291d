package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.errors.QueryExecutionErrors

/** Bridge between custom Catalyst expressions and the public Column API.
  *
  * Spark 4 removed the public `Column(expr)` constructor (Connect
  * refactor); extension libraries bridge through
  * `org.apache.spark.sql.classic.ExpressionUtils` from inside the
  * `org.apache.spark.sql` namespace — the standard pattern for native
  * expression libraries.
  */
object GraftColumns {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** The ARITHMETIC_OVERFLOW error Spark's decimal `sum` raises. */
  def decimalSumOverflow(): ArithmeticException =
    QueryExecutionErrors.overflowInSumOfDecimalError(null, "try_sum")
}
