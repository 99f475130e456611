package graft.functions.expressions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}

/** The one codegen binding of every graft kernel expression: the generated
 * code calls the expression's own `nullSafeEval` on the child values, so
 * the interpreted and the generated path run the same Scala and each
 * kernel is named in exactly one place, its `nullSafeEval`.
 *
 * Why not Spark's `CodegenFallback`, which also calls back into the
 * expression: it evaluates the expression over the input ROW and so
 * breaks the whole-stage-codegen span around every co-resident
 * expression (measured for `dot_q`: the similarity-join projection fell
 * out of codegen). Here the children stay generated and only the kernel
 * call crosses into Scala, so the projection keeps its `*(n)` span. Per
 * row this costs one virtual call plus the boxing of primitive arguments
 * and result; the kernel itself loops over a whole array or blob.
 *
 * The expression is registered with `ctx.addReferenceObj`. Scala emits
 * `protected` members as public JVM methods, so the generated Java may
 * call `nullSafeEval` directly. A kernel that returns null (`dot_q` on
 * mismatched vectors) sets the result's null flag; such an expression
 * must be `nullable`. Null children never reach the kernel
 * (`nullSafeCodeGen`, as in the interpreted `eval`). */
sealed trait KernelCodegen extends Expression {

  /** Statement(s) setting `ev` from `ref.nullSafeEval(values)`. */
  protected final def callEval(ctx: CodegenContext, ev: ExprCode, values: String*): String = {
    val ref = ctx.addReferenceObj("kernelExpr", this)
    val args = values.zip(children).map { case (v, c) =>
      if (CodeGenerator.isPrimitiveType(c.dataType)) s"${CodeGenerator.boxedType(c.dataType)}.valueOf($v)"
      else v
    }
    val call = s"$ref.nullSafeEval(${args.mkString(", ")})"
    val boxed = CodeGenerator.boxedType(dataType)
    if (nullable) {
      val out = ctx.freshName("kernelOut")
      s"""Object $out = $call;
         |if ($out == null) { ${ev.isNull} = true; } else { ${ev.value} = ($boxed) $out; }""".stripMargin
    } else s"${ev.value} = ($boxed) $call;"
  }
}

/** [[KernelCodegen]] for a kernel of one child. */
trait UnaryKernel extends UnaryExpression with KernelCodegen {
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => callEval(ctx, ev, c))
}

/** [[KernelCodegen]] for a kernel of two children. */
trait BinaryKernel extends BinaryExpression with KernelCodegen {
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => callEval(ctx, ev, a, b))
}

/** [[KernelCodegen]] for a kernel of three children. */
trait TernaryKernel extends TernaryExpression with KernelCodegen {
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, c) => callEval(ctx, ev, a, b, c))
}
