package graft.functions.expressions

import graft.functions.expressions.VectorKernels.elemOf
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, XXH64}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/**
 * Vector kernels for the similarity/ANN operators — tight JVM loops inside
 * single Catalyst expressions, replacing the round-1 SQL higher-order
 * functions (`zip_with`/`aggregate` lambdas). Cost model (measured in
 * round 4, BENCH.md "Kernel vs interpreted-lambda"): simple HOF lambdas are ~1-2 ns/element in
 * Spark 4.1 — the round-1 "100 µs/element" was per-element STRING
 * construction on a codegen-broken span, not lambda evaluation — but the
 * kernels still win 10-25% per op and keep the projection in one
 * whole-stage-codegen span. One expression eval per candidate pair costs
 * one virtual call + an O(dim) primitive loop.
 *
 * Quantization contract (shared with every DuckDB similarity oracle):
 * q(x) = floor(double(x) * 1000 + 0.5) as a Long, so dot products and
 * norms are exact integer sums — order-free and bit-identical across
 * engines; the final cosine is one deterministic double expression.
 */
object VectorKernels {

  def quantize(x: Double): Long = math.floor(x * 1000.0 + 0.5).toLong

  /** The element type of a vector argument: float or double, else None. */
  def elemOf(t: DataType): Option[DataType] = t match {
    case ArrayType(FloatType, _) => Some(FloatType)
    case ArrayType(DoubleType, _) => Some(DoubleType)
    case _ => None
  }

  /** Random-hyperplane LSH signature over the quantized vector; plane
   * weights are small signed ints derived from XXH64(plane*1024+dim, 42) —
   * a pure function of (plane, dim), deterministic at any parallelism.
   * (The weights are a deterministic VARIANT of the round-1 SQL
   * formulation, not bit-identical to it: the SQL's xxhash64 hashed its
   * INT argument via hashInt; this kernel hashes the long via hashLong.
   * Bucket ids are engine-internal — only recall, asserted in
   * PipelineSpec, is the contract.) Reads straight off ArrayData. */
  def lshSigData(a: ArrayData, isFloat: Boolean, nPlanes: Int): Long = {
    val n = a.numElements()
    var acc = 0L
    var p = 0
    while (p < nPlanes) {
      var s = 0L
      var d = 0
      while (d < n) {
        val h = XXH64.hashLong(p.toLong * 1024L + d, 42L)
        val w = ((h % 7L) + 7L) % 7L - 3L
        val x = if (isFloat) a.getFloat(d).toDouble else a.getDouble(d)
        s += quantize(x) * w
        d += 1
      }
      acc = acc * 2L + (if (s >= 0L) 1L else 0L)
      p += 1
    }
    acc
  }

  /** SQL-reproducible variant of [[lshSigData]] backing the oracle-checked
   * ANN assignment surface (`q_ann_assign`): plane weights derive from two
   * Lehmer rounds of plain BIGINT arithmetic that any ANSI engine computes
   * exactly —
   *   k  = p*1024 + d
   *   h1 = (k  * 1103515245 + 12345) % 2147483647
   *   h2 = (h1 * 1103515245 + 54321) % 2147483647
   *   w  = h2 % 7 - 3
   * (all intermediates <= ~2.4e18, no Long overflow; every operand
   * nonnegative so `%` agrees across engines). One Lehmer round alone
   * would make planes cyclic shifts of a period-7 comb (1024 ≡ 2 mod 7);
   * the second round decorrelates them. The xxhash64 variant stays the
   * production bucketing (better mixing); this one exists so the sign-bit
   * bucket id itself is cross-engine checkable. */
  def lshSigAffineData(a: ArrayData, isFloat: Boolean, nPlanes: Int): Long = {
    val n = a.numElements()
    var acc = 0L
    var p = 0
    while (p < nPlanes) {
      var s = 0L
      var d = 0
      while (d < n) {
        val k = p.toLong * 1024L + d
        val h1 = (k * 1103515245L + 12345L) % 2147483647L
        val h2 = (h1 * 1103515245L + 54321L) % 2147483647L
        val w = h2 % 7L - 3L
        val x = if (isFloat) a.getFloat(d).toDouble else a.getDouble(d)
        s += quantize(x) * w
        d += 1
      }
      acc = acc * 2L + (if (s >= 0L) 1L else 0L)
      p += 1
    }
    acc
  }

  /** True iff either array has a null element in the min-length prefix —
   * dot_q propagates element nulls to a NULL result (matching the
   * zip_with/aggregate SQL semantics it replaced, which returned NULL
   * rather than silently treating null slots as 0.0). */
  def hasNullPrefix(a: ArrayData, b: ArrayData): Boolean = {
    val n = math.min(a.numElements(), b.numElements())
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return true
      i += 1
    }
    false
  }

  /** NULL-result guard for the pairwise kernels: a dimension-mismatched
   * vector pair yields NULL (matching `zip_with`'s null-padding semantics —
   * a silent min-length prefix product would rank a plausible-but-wrong
   * cosine in ANN/top-k with no signal), as does any null element in the
   * compared range. */
  def mismatchOrNullPrefix(a: ArrayData, b: ArrayData): Boolean =
    a.numElements() != b.numElements() || hasNullPrefix(a, b)

  /** Allocation-free dot product straight off ArrayData. Callers must
   * check [[hasNullPrefix]] first. */
  def dotQData(a: ArrayData, b: ArrayData, aFloat: Boolean, bFloat: Boolean): Long = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0L
    var i = 0
    while (i < n) {
      val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
      s += quantize(x) * quantize(y)
      i += 1
    }
    s
  }

}

/** `dot_q(a, b) -> bigint`: exact fixed-point dot product (see
 * [[VectorKernels]]). `dot_q(v, v)` is the squared norm. */
case class DotQ(left: Expression, right: Expression) extends BinaryKernel {
  override def checkInputDataTypes(): TypeCheckResult =
    (elemOf(left.dataType), elemOf(right.dataType)) match {
      case (Some(_), Some(_)) => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two array<float|double>, got ${left.dataType}, ${right.dataType}")
    }

  override def dataType: DataType = LongType
  override def prettyName: String = "dot_q"
  // dimension mismatch, or a null element anywhere => NULL result
  override def nullable: Boolean = true

  private lazy val aFloat = elemOf(left.dataType).contains(FloatType)
  private lazy val bFloat = elemOf(right.dataType).contains(FloatType)

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val aa = a.asInstanceOf[ArrayData]
    val bb = b.asInstanceOf[ArrayData]
    if (VectorKernels.mismatchOrNullPrefix(aa, bb)) null
    else VectorKernels.dotQData(aa, bb, aFloat, bFloat)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression,
      newRight: Expression): DotQ = copy(left = newLeft, right = newRight)
}

/** `lsh_sig(vec, nPlanes) -> bigint`: hyperplane-LSH bucket signature
 * ([[VectorKernels.lshSigData]]), in the bucketing projection of every
 * ANN query. */
case class LshSig(child: Expression, nPlanes: Int) extends UnaryKernel {
  override def checkInputDataTypes(): TypeCheckResult =
    if (elemOf(child.dataType).isDefined && nPlanes >= 1 && nPlanes <= 63)
      TypeCheckResult.TypeCheckSuccess
    else
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<float|double> and 1<=nPlanes<=63, got ${child.dataType}, $nPlanes")

  override def dataType: DataType = LongType
  override def prettyName: String = "lsh_sig"

  private lazy val isFloat = elemOf(child.dataType).contains(FloatType)

  override protected def nullSafeEval(input: Any): Any =
    VectorKernels.lshSigData(input.asInstanceOf[ArrayData], isFloat, nPlanes)

  override protected def withNewChildInternal(newChild: Expression): LshSig =
    copy(child = newChild)
}

/** `lsh_sig_affine(vec, nPlanes) -> bigint`: the SQL-reproducible twin of
 * [[LshSig]] (weights from [[VectorKernels.lshSigAffineData]]'s two Lehmer
 * rounds instead of xxhash64), so the hyperplane ASSIGNMENT stage can be
 * hash-checked against an external SQL oracle. */
case class LshSigAffine(child: Expression, nPlanes: Int) extends UnaryKernel {
  override def checkInputDataTypes(): TypeCheckResult =
    if (elemOf(child.dataType).isDefined && nPlanes >= 1 && nPlanes <= 63)
      TypeCheckResult.TypeCheckSuccess
    else
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<float|double> and 1<=nPlanes<=63, got ${child.dataType}, $nPlanes")

  override def dataType: DataType = LongType
  override def prettyName: String = "lsh_sig_affine"

  private lazy val isFloat = elemOf(child.dataType).contains(FloatType)

  override protected def nullSafeEval(input: Any): Any =
    VectorKernels.lshSigAffineData(input.asInstanceOf[ArrayData], isFloat, nPlanes)

  override protected def withNewChildInternal(newChild: Expression): LshSigAffine =
    copy(child = newChild)
}
