package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{ColumnNodeToExpressionConverter, ExpressionUtils}

/** Spark 4 removed the public Column(Expression) constructor; the
  * supported conversion lives in `private[sql]` ExpressionUtils. This
  * bridge (placed inside the org.apache.spark.sql package namespace, the
  * standard technique for Catalyst extensions) re-exports the two
  * conversions the engine's custom expressions need.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `expression` defers the conversion to the Dataset that analyzes
    * the column; a SQL function builder's result goes to the analyzer
    * directly, so it is converted here.
    */
  def converted(c: Column): Expression = ColumnNodeToExpressionConverter(c.node)
}
