package graft.functions.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.LeafExpression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.graftshim.SparkInternals
import org.apache.spark.sql.types.{DataType, LongType}

/** The BIGINT `value` as a plan parameter: generated code reads it from the
 * plan's reference array where a literal would be written into the Java
 * source. Two plans that differ only in `value` therefore compile to the same
 * classes. A plan that repeats every micro-batch with a new value (the
 * maintenance sink's retention horizon) then compiles nothing after its
 * first steady batch; with a literal each batch compiled its own classes,
 * which filled Spark's codegen cache (100 classes) and evicted classes
 * still in use, so batches recompiled at random (measured with Spark's
 * compile counter, `CodegenMetrics.METRIC_COMPILATION_TIME`).
 *
 * Not foldable, so the optimizer keeps it as written: unlike a literal it
 * is not folded into other constants and not pushed into a file scan. */
case class BigintParam(value: Long) extends LeafExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def foldable: Boolean = false
  override def prettyName: String = "bigint_param"
  override def sql: String = s"$prettyName($value)"

  override def eval(input: InternalRow): Any = value

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("param", java.lang.Long.valueOf(value), "java.lang.Long")
    ev.copy(code = code"long ${ev.value} = $ref.longValue();", isNull = FalseLiteral)
  }
}

object BigintParam {
  def column(value: Long): Column = SparkInternals.column(BigintParam(value))
}
