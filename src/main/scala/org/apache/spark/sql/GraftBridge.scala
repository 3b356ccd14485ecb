package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{ColumnNodeToExpressionConverter, ExpressionUtils}

/** Bridge into the `private[sql]` Column ⇄ Expression converters that
  * Spark 4's Connect-era Column API hides. Placing this object inside the
  * `org.apache.spark.sql` package is the standard pattern third-party
  * Catalyst extensions use to expose custom [[Expression]]s as [[Column]]s
  * (Spark 3's public `new Column(expr)` / `col.expr` no longer exist in 4.x).
  */
object GraftBridge {
  def toColumn(e: Expression): Column = ExpressionUtils.column(e)
  def toExpression(c: Column): Expression = ExpressionUtils.expression(c)

  /** [[toExpression]] converted now instead of when a Dataset plans the
    * column: a SQL function builder's result goes straight to the
    * analyzer, which never converts the Column API's lazy wrapper.
    */
  def toCatalyst(c: Column): Expression = ColumnNodeToExpressionConverter(c.node)
}
