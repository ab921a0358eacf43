package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ↔ Expression bridge. Spark 4 made these converters `private[sql]`
  * (`org.apache.spark.sql.classic.ExpressionUtils`); a one-object package
  * bridge is the standard pattern for libraries shipping custom Catalyst
  * expressions against classic Spark (the alternative — re-implementing
  * ColumnNode conversion — would duplicate Spark internals). Nothing else in
  * this repo lives outside the `graft` namespace but [[ListenerBridge]].
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
