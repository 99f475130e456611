package graft.functions

import graft.functions.expressions.{BinaryKernel, UnaryKernel}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/**
 * Universal sequence preconditioning (Marsden & Hazan 2025,
 * arXiv:2502.06545, Algorithm 1 — public specification) — the reference's
 * signature invertible sequence recoding
 * (uni2ts/src/uni2ts/transform/precondition.py:253-303, 436-524):
 *
 *   forward:  ỹ_t = y_t + Σ_{i=1..n} c_i · y_{t-i}   (t ≥ n; identity below)
 *   reverse:  y_t = ỹ_t − Σ_{i=1..n} c_i · y_{t-i}   (sequential, uses
 *                                                     already-restored y)
 *
 * with c = the non-leading coefficients of the MONIC Chebyshev/Legendre
 * polynomial of degree n, highest power first
 * (precondition.py:95-174). The reverse pass is inherently sequential along
 * time but embarrassingly parallel across series — exactly the structure of
 * the codec decodes (SURVEY.md §4: sequential-dependency isolation), so it
 * lives in one row's array, never across rows.
 *
 * Round-trip contract: forward∘reverse == identity to < 1e-10 over random
 * sequences (the reference's test_forward_reverse_correctness.py gate,
 * reproduced in PreconditionSpec).
 */
object Precondition {

  /** Coefficients [c1..cn] of the monic Chebyshev polynomial of degree n in
   * power basis, highest power (x^{n-1}) first. Exact power-of-two
   * divisions, so values are bit-reproducible. */
  def chebyshevCoeffs(n: Int): Array[Double] = {
    // T_k in increasing-power basis via T_k = 2x T_{k-1} - T_{k-2}
    var t0 = Array(1.0) // T_0
    var t1 = Array(0.0, 1.0) // T_1
    if (n == 0) return Array.empty
    var k = 1
    while (k < n) {
      val next = new Array[Double](k + 2)
      var i = 0
      while (i <= k) { next(i + 1) += 2.0 * t1(i); i += 1 }
      i = 0
      while (i < t0.length) { next(i) -= t0(i); i += 1 }
      t0 = t1; t1 = next; k += 1
    }
    val lead = t1(n)
    // exclude leading coeff, divide by it, reverse to highest-power-first
    val out = new Array[Double](n)
    var i = 0
    while (i < n) { out(i) = t1(n - 1 - i) / lead; i += 1 }
    out
  }

  /** Same for monic Legendre (leading coeff (2n)!/(2^n n!^2)). */
  def legendreCoeffs(n: Int): Array[Double] = {
    var p0 = Array(1.0)
    var p1 = Array(0.0, 1.0)
    if (n == 0) return Array.empty
    var k = 1
    while (k < n) {
      // (k+1) P_{k+1} = (2k+1) x P_k - k P_{k-1}
      val next = new Array[Double](k + 2)
      var i = 0
      while (i <= k) { next(i + 1) += (2.0 * k + 1.0) * p1(i); i += 1 }
      i = 0
      while (i < p0.length) { next(i) -= k * p0(i); i += 1 }
      i = 0
      while (i < next.length) { next(i) /= (k + 1.0); i += 1 }
      p0 = p1; p1 = next; k += 1
    }
    val lead = p1(n)
    val out = new Array[Double](n)
    var i = 0
    while (i < n) { out(i) = p1(n - 1 - i) / lead; i += 1 }
    out
  }

  def coeffs(polyType: String, degree: Int): Array[Double] = polyType match {
    case "chebyshev" => chebyshevCoeffs(degree)
    case "legendre" => legendreCoeffs(degree)
    case other => throw new IllegalArgumentException(s"unknown polynomial type: $other")
  }

  /** Forward convolution (vectorizable; identity for t < n). The inner sum
   * accumulates in ascending i — the association order the SQL oracle
   * mirrors term by term. */
  def forward(y: Array[Double], c: Array[Double]): Array[Double] = {
    val n = c.length
    val out = y.clone()
    var t = n
    while (t < y.length) {
      var ws = 0.0
      var i = 0
      while (i < n) { ws += c(i) * y(t - i - 1); i += 1 }
      out(t) = y(t) + ws
      t += 1
    }
    out
  }

  /** Sequential reverse using already-restored history. */
  def reverse(yt: Array[Double], c: Array[Double]): Array[Double] = {
    val n = c.length
    val out = yt.clone()
    var t = n
    while (t < yt.length) {
      var ws = 0.0
      var i = 0
      while (i < n) { ws += c(i) * out(t - i - 1); i += 1 }
      out(t) = yt(t) - ws
      t += 1
    }
    out
  }

  /** Reverse with an EXTERNAL CONTEXT buffer (precondition.py:436-524,
   * `context` parameter; the REVERSAL_CONTEXT_BUG_FIX.md scenario): decode
   * a WINDOW of a forward-recoded series given only the window plus the
   * already-decoded, ORIGINAL-SCALE history immediately preceding it.
   *
   * Unlike [[reverse]] (which treats the first n positions as identity —
   * only correct when the window starts at the true series head), EVERY
   * window position subtracts its coefficient-weighted history sum; for
   * the first n positions the history indices resolve into `context`.
   * History terms that fall before the start of a too-short context are
   * skipped, matching the reference's partial-context behavior.
   *
   * EXACT-INVERSE CONTRACT: the decode equals the original series slice
   * iff the window starts at series position >= degree AND `context` holds
   * the full `degree` original values preceding it. A window overlapping
   * the series' identity head (positions < degree, where forward applied
   * no convolution) decodes best-effort, NOT exactly — the same documented
   * behavior as the reference's partial-context path ("early values might
   * be wrong", precondition.py:466-469); use [[reverse]] for whole-series
   * decodes. */
  def reverseWithContext(
      yt: Array[Double],
      c: Array[Double],
      context: Array[Double]): Array[Double] = {
    val n = c.length
    val m = context.length
    val out = new Array[Double](yt.length)
    var t = 0
    while (t < yt.length) {
      var ws = 0.0
      var i = 1
      while (i <= n) {
        val hist = t - i // <0 => reach into the context buffer
        if (hist >= 0) ws += c(i - 1) * out(hist)
        else if (m + hist >= 0) ws += c(i - 1) * context(m + hist)
        i += 1
      }
      out(t) = yt(t) - ws
      t += 1
    }
    out
  }
}

abstract class PrecondExpression extends UnaryKernel {
  def polyType: String
  def degree: Int
  protected lazy val cs: Array[Double] = Precondition.coeffs(polyType, degree)
  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
      case t =>
        TypeCheckResult.TypeCheckFailure(s"$prettyName requires array<double>, got $t")
    }
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
}

/** precond_forward(array<double>, degree, 'chebyshev'|'legendre') */
case class PrecondForward(child: Expression, degree: Int, polyType: String)
    extends PrecondExpression {
  override def prettyName: String = "precond_forward"
  override protected def nullSafeEval(input: Any): Any =
    new GenericArrayData(Precondition.forward(input.asInstanceOf[ArrayData].toDoubleArray(), cs))
  override protected def withNewChildInternal(newChild: Expression): PrecondForward =
    copy(child = newChild)
}

/** precond_reverse(array<double>, degree, 'chebyshev'|'legendre') */
case class PrecondReverse(child: Expression, degree: Int, polyType: String)
    extends PrecondExpression {
  override def prettyName: String = "precond_reverse"
  override protected def nullSafeEval(input: Any): Any =
    new GenericArrayData(Precondition.reverse(input.asInstanceOf[ArrayData].toDoubleArray(), cs))
  override protected def withNewChildInternal(newChild: Expression): PrecondReverse =
    copy(child = newChild)
}

/** `precond_reverse_ctx(window, degree, type, context)`: decode a WINDOW of
 * a forward-recoded series given the original-scale history `context`
 * immediately preceding it — [[Precondition.reverseWithContext]]. */
case class PrecondReverseCtx(
    left: Expression,
    right: Expression,
    degree: Int,
    polyType: String)
    extends BinaryKernel {
  private lazy val cs: Array[Double] = Precondition.coeffs(polyType, degree)
  override def prettyName: String = "precond_reverse_ctx"
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires (array<double>, array<double>), got ($l, $r)")
    }
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override protected def nullSafeEval(window: Any, context: Any): Any =
    new GenericArrayData(
      Precondition.reverseWithContext(
        window.asInstanceOf[ArrayData].toDoubleArray(),
        cs,
        context.asInstanceOf[ArrayData].toDoubleArray()))
  override protected def withNewChildrenInternal(
      newLeft: Expression,
      newRight: Expression): PrecondReverseCtx = copy(left = newLeft, right = newRight)
}
