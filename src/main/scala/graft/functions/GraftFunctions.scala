package graft.functions

import graft.functions.expressions._
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction
import org.apache.spark.sql.graftshim.SparkInternals

/** The engine's custom Catalyst expressions, declared once in [[builders]]
 * (name → expression) and reachable two ways from that one table:
 *
 *  - engine code calls [[call]], which builds the expression straight from
 *    the table, without reading or changing any session's function
 *    registry;
 *  - SQL resolves the same names in sessions started with
 *    `spark.sql.extensions=graft.GraftExtensions` ([[injectInto]]).
 *
 * [[register]] (imperative, per session) remains only for the frozen
 * [[graft.Bench]]. */
object GraftFunctions {

  /** A builder's arguments by position; the literal ones fold to Scala
   * values, and every error names the function and the position. */
  private final class Args(name: String, es: Seq[Expression]) {
    def apply(i: Int): Expression = {
      if (i >= es.size) {
        throw new IllegalArgumentException(
          s"$name: missing argument ${i + 1} (got ${es.size})")
      }
      es(i)
    }
    def head: Expression = apply(0)
    private def literal(i: Int): String = {
      val e = apply(i)
      val v = if (e.foldable) e.eval(null) else null
      if (v == null) {
        throw new IllegalArgumentException(
          s"$name: argument ${i + 1} must be a non-null literal, got $e")
      }
      v.toString
    }
    private def number[T](i: Int, kind: String, parse: String => T): T = {
      val v = literal(i)
      try parse(v)
      catch {
        case e: NumberFormatException =>
          throw new IllegalArgumentException(
            s"$name: argument ${i + 1} must be $kind literal, got $v", e)
      }
    }
    def int(i: Int): Int = number(i, "an int", _.toInt)
    def long(i: Int): Long = number(i, "a bigint", _.toLong)
    def str(i: Int): String = literal(i)
    def double(i: Int): Double = number(i, "a double", _.toDouble)
  }

  private[graft] val builders: Seq[(String, Seq[Expression] => Expression)] =
    Seq[(String, Args => Expression)](
      "gorilla_encode" -> (args => GorillaEncode(args.head)),
      "gorilla_decode" -> (args => GorillaDecode(args.head)),
      "dod_encode" -> (args => DodEncode(args.head)),
      "dod_decode" -> (args => DodDecode(args.head)),
      "chimp_encode" -> (args => ChimpEncode(args.head)),
      "chimp_decode" -> (args => ChimpDecode(args.head)),
      "simhash64" -> (args => SimHash64(args.head)),
      // fused single-buffer tier aggregate (DeclarativeAggregate, 128-bit-
      // exact sum of squares): a bare AggregateFunction, wrapped by the
      // analyzer in SQL and by call; `tier_stats` is its older name, kept
      // for the frozen Bench
      "tier_stats_decl" -> (args => TierStatsDecl(args.head)),
      "tier_stats" -> (args => TierStatsDecl(args.head)),
      // bounded-state k-minimum-values sketch (TypedImperativeAggregate)
      "kmv_kmin" -> (args => KmvKMin(args.head, args.int(1))),
      "dot_q" -> (args => DotQ(args.head, args(1))),
      "lsh_sig" -> (args => LshSig(args.head, args.int(1))),
      "lsh_sig_affine" -> (args => LshSigAffine(args.head, args.int(1))),
      // array kernels (typed JVM loops replacing interpreted HOF lambdas —
      // see ArrayExpressions.scala)
      // dedup-chain kernels (shingle/signature/band stages as codegen'd
      // expressions — see DedupExpressions.scala)
      "shingle_fnv" -> (args => ShingleFnv(args.head, args.int(1))),
      "ngram_rep_stats" -> (args => NgramRepStats(args.head, args.int(1))),
      "simhash_affine" -> (args => SimHashAffine(args.head, args.int(1))),
      "minhash_affine" -> (args =>
        MinHashAffine(args.head, args.int(1), args.int(2))),
      "minhash_sig" -> (args => MinHashSig(args.head, args.int(1))),
      "lsh_bands" -> (args => LshBands(args.head, args.int(1))),
      "arr_sorted_inter_size" -> (args => SortedInterSize(args.head, args(1))),
      "arr_pairs" -> (args => ArrPairs(args.head)),
      "arr_sum" -> (args => ArrSum(args.head)),
      "arr_sum_mod" -> (args => ArrSumMod(args.head, args.long(1))),
      "arr_sum_q" -> (args => ArrSumQ(args.head, args.long(1))),
      "bin_frame_sample" -> (args =>
        BinFrameSample(args.head, args.int(1), args.int(2))),
      "arr_null_count" -> (args => ArrNullCount(args.head)),
      "arr_first_data_pos" -> (args => ArrFirstDataPos(args.head)),
      "arr_pos_weighted_sum" -> (args => ArrPosWeightedSum(args.head, args.long(1))),
      "arr_pos_weighted_sum_q" -> (args =>
        ArrPosWeightedSumQ(args.head, args.long(1), args.long(2))),
      "arr_abs_sum_q" -> (args => ArrAbsSumQ(args.head, args.long(1))),
      "arr_sq_err_q_sum" -> (args => ArrErrQSum(args.head, args(1), args.long(2))),
      "arr_seasonal_abs_sum" -> (args => ArrSeasonalAbsSum(args.head, args.int(1))),
      "arr_interval_penalty_sum" -> (args =>
        ArrIntervalPenaltySum(args.head, args(1), args(2), args.long(3))),
      // eval_window_stats(tokens, m, ctx, hor, stride, scale): fused window
      // enumeration + packed reductions, one compact struct per window
      "window_slices" -> (args =>
        WindowSlices(args.head, args.int(1), args.int(2), args.int(3))),
      "window_slices_end" -> (args =>
        WindowSlicesEnd(
          args.head,
          args.int(1),
          args.int(2),
          args.int(3),
          args.int(4),
          args.int(5))),
      // lttb_select(pts, threshold): per-series LTTB selection kernel
      "lttb_select" -> (args => LttbSelect(args.head, args.int(1))),
      // eval_pinball_stats(tokens, ctx, hor, stride): fused per-window
      // pinball / order-statistic reductions (q_eval_pinball/q_eval_extra)
      "eval_pinball_stats" -> (args =>
        EvalPinballStats(args.head, args.int(1), args.int(2), args.int(3))),
      "eval_window_stats" -> (args =>
        EvalWindowStats(
          args.head,
          args(1),
          args.int(2),
          args.int(3),
          args.int(4),
          args.long(5))),
      "affine_mod_seq" -> (args =>
        AffineModSeq(args.head, args(1), args.long(2), args.long(3), args.long(4))),
      "arr_chunk" -> (args => ArrChunk(args.head, args.int(1))),
      "arr_zscore_outliers" -> (args =>
        ArrZscoreOutliers(args.head, args.int(1), args.double(2))),
      "arr_ewma_half" -> (args => ArrEwmaHalf(args.head)),
      "arr_every_kth" -> (args => ArrEveryKth(args.head, args.int(1))),
      "arr_blur4_every_kth" -> (args => ArrBlur4EveryKth(args.head, args.int(1))),
      "arr_repeat_each" -> (args => ArrRepeatEach(args.head, args.int(1))),
      // precond_forward(arr, degree, 'chebyshev'), precond_reverse(...)
      "precond_forward" -> (args =>
        PrecondForward(args.head, args.int(1), args.str(2))),
      "precond_reverse" -> (args =>
        PrecondReverse(args.head, args.int(1), args.str(2))),
      // precond_reverse_ctx(window, degree, 'chebyshev', context): decode a
      // window given the original-scale history preceding it
      "precond_reverse_ctx" -> (args =>
        PrecondReverseCtx(args.head, args(3), args.int(1), args.str(2)))
    ).map { case (name, build) =>
      name -> ((es: Seq[Expression]) => build(new Args(name, es)))
    }

  private lazy val byName = builders.toMap

  /** The graft function `name` applied to `args`, built from [[builders]].
   * A bare aggregate function comes back wrapped as an aggregate
   * expression (the analyzer's job for SQL calls). Fails at build time on
   * an unknown name or a bad literal argument. */
  def call(name: String, args: Column*): Column = {
    val build = byName.getOrElse(
      name,
      throw new IllegalArgumentException(s"unknown graft function: $name"))
    SparkInternals.column(build(args.map(SparkInternals.expression)) match {
      case f: AggregateFunction => f.toAggregateExpression()
      case e => e
    })
  }

  /** Registers every function in `spark`'s own registry. Idempotent.
   * Engine code uses [[call]]; this stays for the frozen [[graft.Bench]]. */
  def register(spark: SparkSession): Unit = synchronized {
    val registry = spark.sessionState.functionRegistry
    builders.foreach { case (name, builder) =>
      val ident = FunctionIdentifier(name)
      if (!registry.functionExists(ident)) {
        registry.registerFunction(
          ident,
          new ExpressionInfo("graft.functions.expressions", name),
          builder)
      }
    }
  }

  /** SQL entry point (`SparkSessionExtensions.injectFunction`, used by
   * [[graft.GraftExtensions]]): every session built with
   * `spark.sql.extensions=graft.GraftExtensions` resolves the functions by
   * name in SQL. */
  def injectInto(ext: org.apache.spark.sql.SparkSessionExtensions): Unit =
    builders.foreach { case (name, builder) =>
      ext.injectFunction(
        (
          FunctionIdentifier(name),
          new ExpressionInfo("graft.functions.expressions", name),
          builder))
    }
}
