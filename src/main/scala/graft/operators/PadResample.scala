package graft.operators

import graft.functions.GraftFunctions.call
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Padding + rate-resampling transforms over a series array column — the
 * engine's analogue of the reference's `transform/pad.py` (Pad, PadFreq,
 * EvalPad) and `transform/resample.py`. Of the resample family the
 * reference only DECLARES Subsample / GaussianFilterSubsample / Downsample
 * / Upsample (`pass`-body stubs with intent comments,
 * resample.py:71-96); this engine implements them for real: take every
 * k-th, binomial-blur then take every k-th, and repeat-each-k (downsample
 * -as-aggregate is the tier rollup ladder, operators/Rollup.scala).
 *
 * All are row-local array ops (zero shuffle, parallel across series — the
 * abundant axis at 100 TB). Pads use NULL elements (the reference pads
 * with NaN and recomputes the observed mask; NULL is the Spark-native
 * missing marker and composes with AddObservedMask-style masks).
 *
 * The reference draws the train-time front-pad split uniformly
 * (np.random.randint, pad.py:44); this engine derives it from a
 * multiplicative hash of the series id, so results are bit-reproducible
 * at any parallelism — the same determinism substitution as the weighted
 * sampler (StatQueries q_weighted_sample).
 */
object PadResample {

  private def hashOf(idCol: String): String =
    // prime-reduced (UnionBuilder.permilleBucketSql rationale): the raw
    // product's residues degenerate for strided id spaces
    s"pmod((CAST($idCol AS BIGINT) % 1000000007L) * 2654435761L, 1000000007L)"

  /** SQL name of `arr`'s element type, so the NULL pads match any series
   * element type (int tokens, double values, float embeddings). */
  private def elemSqlOf(df: DataFrame, arr: String): String =
    df.schema(arr).dataType match {
      case org.apache.spark.sql.types.ArrayType(et, _) => et.sql
      case t => throw new IllegalArgumentException(s"$arr must be an array column, got $t")
    }

  /** Pad `arr` to at least `minLen` elements with NULLs, split front/back
   * by the deterministic hash (Pad, pad.py:26-50). `minLen` may be any
   * Column — a per-row map lookup gives PadFreq (pad.py:53-81). */
  def padTo(df: DataFrame, arr: String, idCol: String, minLen: Column, out: String): DataFrame = {
    val elemSql = elemSqlOf(df, arr)
    df.withColumn("_need", greatest(minLen - size(col(arr)), lit(0)))
      .withColumn(
        "_front",
        expr(s"CAST(pmod(${hashOf(idCol)}, CAST(_need + 1 AS BIGINT)) AS INT)"))
      .withColumn(
        out,
        expr(
          s"concat(array_repeat(CAST(NULL AS $elemSql), _front), $arr, " +
            s"array_repeat(CAST(NULL AS $elemSql), _need - _front))"))
      .drop("_need", "_front")
  }

  /** Fixed eval-time padding: `contextPad` NULLs in front, `predictionPad`
   * behind (EvalPad, pad.py:84-108). */
  def evalPad(df: DataFrame, arr: String, contextPad: Int, predictionPad: Int, out: String): DataFrame = {
    val elemSql = elemSqlOf(df, arr)
    df.withColumn(
      out,
      expr(
        s"concat(array_repeat(CAST(NULL AS $elemSql), $contextPad), $arr, " +
          s"array_repeat(CAST(NULL AS $elemSql), $predictionPad))"))
  }

  // The three rate-resamplers are single Catalyst kernel expressions
  // (ArrayExpressions.scala) rather than SQL higher-order functions.
  // Measured cost model (round 4, BENCH.md "Kernel vs interpreted-lambda"):
  // simple HOF lambdas run at ~1-2 ns/element in Spark 4.1 — the kernels'
  // win here is the 10-25% per-op constant plus keeping this linear
  // shuffle-free pass inside one whole-stage-codegen span; at 100 TB the
  // constant IS the cost.

  /** Take every k-th element, starting at index 0 (Subsample,
   * resample.py:71-76: "just take every n-th element"). */
  def subsample(df: DataFrame, arr: String, k: Int, out: String): DataFrame =
    df.withColumn(out, call("arr_every_kth", col(arr), lit(k)))

  /** Binomial [1,2,1]/4 blur (the discrete Gaussian) then every k-th
   * element (GaussianFilterSubsample, resample.py:79-84: "blur using
   * gaussian filter before subsampling"). Edges clamp to the boundary
   * sample. Emitted pre-division as 4*g (an exact integer) so downstream
   * checksums stay exact. */
  def gaussianSubsample(df: DataFrame, arr: String, k: Int, out: String): DataFrame =
    df.withColumn(out, call("arr_blur4_every_kth", col(arr), lit(k)))

  /** Repeat each element k times (Upsample, resample.py:94-96). */
  def upsample(df: DataFrame, arr: String, k: Int, out: String): DataFrame =
    df.withColumn(out, call("arr_repeat_each", col(arr), lit(k)))
}
