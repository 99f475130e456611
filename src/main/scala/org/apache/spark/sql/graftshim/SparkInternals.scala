package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{ColumnNodeToExpressionConverter, ExpressionUtils}
import org.apache.spark.sql.types.StructType

/** The package-private Spark internals the engine needs: the Column ⇄
 * Expression conversions behind `GraftFunctions.call`, and the nullable
 * schema a file-source read returns (`SnapshotStore`'s manifests). */
object SparkInternals {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  // converted now, not deferred to analysis: builders fold literal arguments
  def expression(c: Column): Expression = ColumnNodeToExpressionConverter(c.node)
  def asNullable(s: StructType): StructType = s.asNullable
}
