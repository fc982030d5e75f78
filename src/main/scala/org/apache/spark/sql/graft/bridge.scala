package org.apache.spark.sql.graft

import org.apache.spark.SparkContext
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{ColumnNodeToExpressionConverter, ExpressionUtils}

/** Bridge into Spark's package-private Column ↔ catalyst Expression
  * converters (Spark 4 moved these behind `private[sql]` when the Column
  * API was unified for Connect). Needed to expose custom Catalyst
  * expressions as user-facing `Column`s — same mechanism Spark's own
  * `functions` object uses internally.
  *
  * `expression` defers the Column → Expression conversion to the
  * Dataset layer (it wraps the Column's node); a SQL function builder's
  * result never passes that layer, so it takes `catalyst`, the eager
  * conversion.
  *
  * Also the listener-bus drain (`private[spark]`): listeners see events
  * asynchronously, so a reader of listener state drains the bus first.
  */
object bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  def catalyst(c: Column): Expression = ColumnNodeToExpressionConverter(c.node)
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
