package org.apache.spark.sql.graftshim

import org.apache.spark.SparkContext
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{ColumnNodeToExpressionConverter, ExpressionUtils}

/** The package-private Spark internals the engine needs: the Column ⇄
 * Expression conversions behind `GraftFunctions.call`, and draining the
 * listener bus so every posted event has reached its listeners. */
object SparkInternals {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  // converted now, not deferred to analysis: builders fold literal arguments
  def expression(c: Column): Expression = ColumnNodeToExpressionConverter(c.node)
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
