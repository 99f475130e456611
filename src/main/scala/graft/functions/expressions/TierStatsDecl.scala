package graft.functions.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types._

/**
 * `tier_stats_decl(tok)` — fused single-buffer tier aggregate computing
 * (min, max, sum, count, sum-of-squares) in ONE pass with ONE buffer,
 * returned as a struct; `tier_stats` is the same function under its older
 * SQL name. Semantic ancestor: the reference's PackedStdScaler single
 * kernel computing mean + variance per (sample_id, variate_id) group
 * (uni2ts/src/uni2ts/module/packed_scaler.py:78-122); variance is derived
 * downstream as (sumsq - sum^2/cnt) / (cnt - 1).
 *
 * A DeclarativeAggregate, so the update/merge paths are PLAIN EXPRESSIONS
 * that whole-stage codegen compiles into the HashAggregate loop. The
 * sum of squares is a 128-bit unsigned accumulator, so the statistic stays
 * EXACT at any group size — a Long would wrap at ~3.6e9 points per group
 * (tok^2 < 2.53e9), which a 10^12-sequence table exceeds.
 *
 * The 128-bit accumulator is two longs with the carry computed by the
 * classic bitwise unsigned-overflow identity
 * `carry = ((a & b) | ((a | b) & ~(a + b))) >>> 63` — pure integer
 * expressions, codegen-able, exact. The Decimal(38,0) result is
 * hi * 2^64 + unsigned(lo).
 */
case class TierStatsDecl(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
    with UnaryLike[Expression] {

  import org.apache.spark.sql.catalyst.expressions._
  import org.apache.spark.sql.catalyst.dsl.expressions._

  override def prettyName: String = "tier_stats_decl"
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case IntegerType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(s"$prettyName requires INT, got $t")
    }

  override def dataType: DataType = StructType(
    Seq(
      StructField("min_tok", IntegerType, nullable = false),
      StructField("max_tok", IntegerType, nullable = false),
      StructField("sum_tok", LongType, nullable = false),
      StructField("cnt_tok", LongType, nullable = false),
      StructField("sumsq_tok", DecimalType(38, 0), nullable = false)))

  private lazy val minB = AttributeReference("min", IntegerType, nullable = false)()
  private lazy val maxB = AttributeReference("max", IntegerType, nullable = false)()
  private lazy val sumB = AttributeReference("sum", LongType, nullable = false)()
  private lazy val cntB = AttributeReference("cnt", LongType, nullable = false)()
  private lazy val sqHiB = AttributeReference("sqHi", LongType, nullable = false)()
  private lazy val sqLoB = AttributeReference("sqLo", LongType, nullable = false)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] =
    Seq(minB, maxB, sumB, cntB, sqHiB, sqLoB)

  override lazy val initialValues: Seq[Expression] = Seq(
    Literal(Int.MaxValue),
    Literal(Int.MinValue),
    Literal(0L),
    Literal(0L),
    Literal(0L),
    Literal(0L))

  /** carry of the unsigned 64-bit add a + b, as an expression. */
  private def carry(a: Expression, b: Expression, sum: Expression): Expression =
    ShiftRightUnsigned(
      BitwiseOr(BitwiseAnd(a, b), BitwiseAnd(BitwiseOr(a, b), BitwiseNot(sum))),
      Literal(63))

  // the 128-bit low word MUST wrap (two's-complement add with the carry
  // recovered separately) — LEGACY eval mode, not the session's ANSI
  // default, which would raise ARITHMETIC_OVERFLOW on the intended wrap
  private def addWrap(a: Expression, b: Expression): Expression =
    Add(a, b, EvalMode.LEGACY)

  override lazy val updateExpressions: Seq[Expression] = {
    val c = child
    val cL = Cast(c, LongType)
    val v = Multiply(cL, cL) // <= (2^31-1)^2 ~ 4.6e18 < Long.Max: never overflows
    val nl = addWrap(sqLoB, v)
    Seq(
      If(IsNull(c), minB, Least(Seq(minB, c))),
      If(IsNull(c), maxB, Greatest(Seq(maxB, c))),
      If(IsNull(c), sumB, addWrap(sumB, cL)),
      If(IsNull(c), cntB, Add(cntB, Literal(1L))),
      If(IsNull(c), sqHiB, Add(sqHiB, carry(sqLoB, v, nl))),
      If(IsNull(c), sqLoB, nl))
  }

  override lazy val mergeExpressions: Seq[Expression] = {
    val nl = addWrap(sqLoB.left, sqLoB.right)
    Seq(
      Least(Seq(minB.left, minB.right)),
      Greatest(Seq(maxB.left, maxB.right)),
      addWrap(sumB.left, sumB.right),
      Add(cntB.left, cntB.right),
      Add(Add(sqHiB.left, sqHiB.right), carry(sqLoB.left, sqLoB.right, nl)),
      nl)
  }

  override lazy val evaluateExpression: Expression = {
    val two64 =
      Literal(Decimal(BigDecimal("18446744073709551616"), 38, 0), DecimalType(38, 0))
    val zeroDec = Literal(Decimal(java.math.BigDecimal.ZERO, 38, 0), DecimalType(38, 0))
    val hiDec = Multiply(Cast(sqHiB, DecimalType(38, 0)), two64)
    val loDec = Add(
      Cast(sqLoB, DecimalType(38, 0)),
      If(LessThan(sqLoB, Literal(0L)), two64, zeroDec))
    val sumsq = Cast(Add(hiDec, loDec), DecimalType(38, 0))
    If(
      EqualTo(cntB, Literal(0L)),
      Literal(null, dataType),
      CreateNamedStruct(Seq(
        Literal("min_tok"), minB,
        Literal("max_tok"), maxB,
        Literal("sum_tok"), sumB,
        Literal("cnt_tok"), cntB,
        Literal("sumsq_tok"), sumsq)))
  }

  override protected def withNewChildInternal(newChild: Expression): TierStatsDecl =
    copy(child = newChild)
}
