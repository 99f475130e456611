package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/**
 * Gap-fill: every `width`-spaced window of each series, with the missing
 * windows imputed (LOCF, constant default, causal mean, linear).
 *
 * Semantic ancestors in the reference:
 *  - dense time index: `AddTimeIndex` (0..T-1 index per series,
 *    uni2ts/src/uni2ts/transform/feature.py:74-104) + `EvalPad` NaN-padding
 *    (transform/pad.py:83-104);
 *  - LOCF: `LastValueImputation` forward-fill
 *    (transform/imputation.py:43-62).
 *
 * Gap rule, the same as the streaming twin
 * [[graft.streaming.StreamingOps.gapFillStream]]: per key, in window
 * order, an observation at window `w` emits itself plus the windows
 * `w + k*width` (k >= 1) that come before the key's next observation. On
 * a key whose windows lie on one `width` grid that is the dense grid from
 * the key's first to its last window. An off-grid observation is kept and
 * steps from its own window (0, 90, 180 at width 60 give 0, 60, 90, 150,
 * 180). A null key is one more series.
 *
 * Scale design: one keyed pass ([[densify]]). One shuffle on the key and
 * one in-partition sort by window feed a single `Window` operator, whose
 * frames give each observation its key's next window and the strategy's
 * carried values; a `Generate` over `sequence()` then emits the missing
 * windows, which inherit those values. No spine, no join and no second
 * read of the input; a key's output is bounded by its span / width.
 * Fill never crosses a series boundary because the window is partitioned
 * by the key (the reference's series-boundary rule,
 * transform/precondition.py:269-274).
 */
object GapFill {

  private def byWindow(keys: Seq[String], windowCol: String): WindowSpec =
    Window.partitionBy(keys.map(col): _*).orderBy(col(windowCol))

  /** From the key's first observation to the current one. */
  private def upTo(keys: Seq[String], windowCol: String): WindowSpec =
    byWindow(keys, windowCol).rowsBetween(Window.unboundedPreceding, Window.currentRow)

  /** The gap rule in one keyed pass. Output: keys, the window as BIGINT,
   * the other input columns in input order, then the `carry` columns that
   * are not input columns. A `carry` column is evaluated per observation
   * over the key's window order and inherited by the windows that
   * observation generates (one named like an input column replaces it);
   * every other input column is null on a generated window. */
  private def densify(
      obs: DataFrame,
      keys: Seq[String],
      windowCol: String,
      width: Long,
      carry: Seq[(String, Column)]): DataFrame = {
    val w = col(windowCol).cast("long")
    // the last window to emit is one before the key's next observation;
    // greatest skips the null `lead` of the key's last observation
    val beforeNext = greatest(w, lead(w, 1).over(byWindow(keys, windowCol)) - 1L)
    val carried = carry.toMap
    val others = obs.columns.toSeq.filterNot((keys :+ windowCol).contains)
    val extra = carry.map(_._1).filterNot(others.contains)
    obs
      .select(
        keys.map(col) ++ others.map(c => carried.getOrElse(c, col(c)).as(c)) ++
          extra.map(c => carried(c).as(c)) :+ sequence(w, beforeNext, lit(width)).as("_ws"): _*)
      .select(col("*"), posexplode(col("_ws")).as(Seq("_k", "_w")))
      .select(
        keys.map(col) ++ Seq(col("_w").as(windowCol)) ++
          others.map(c => if (carried.contains(c)) col(c) else when(col("_k") === 0, col(c)).as(c)) ++
          extra.map(col): _*)
  }

  /** Causal-mean gap-fill — the third imputation strategy of the reference
   * (CausalMeanImputation, transform/imputation.py:65-108): a missing
   * window takes the mean of everything observed up to that point.
   *
   * Exact-integer formulation: the running mean is computed from the
   * cumulative OBSERVED (sum, count) longs — `sum().over()/count().over()`
   * — so the imputed value is one deterministic double division of two
   * exact integers (no cross-row double accumulation), keeping the result
   * bit-exact vs any SQL oracle at any parallelism. (The reference's numpy
   * variant re-weights LOCF-filled values into the mean; we deliberately
   * use the observed-only mean to preserve the exactness discipline.)
   *
   * Output adds `avg_filled` (observed windows keep their own mean) and
   * zero-fills `cntCol`. */
  def gapFillCausalMean(
      obs: DataFrame,
      keys: Seq[String],
      windowCol: String,
      width: Long,
      sumCol: String,
      cntCol: String): DataFrame = {
    val running = upTo(keys, windowCol)
    densify(obs, keys, windowCol, width, Seq(
      "_cum_sum" -> sum(col(sumCol)).over(running), // nulls skipped: observed only
      "_cum_cnt" -> sum(col(cntCol)).over(running)))
      .withColumn(
        "avg_filled",
        when(
          col(cntCol).isNotNull,
          col(sumCol).cast("double") / col(cntCol).cast("double"))
          .otherwise(col("_cum_sum").cast("double") / col("_cum_cnt").cast("double")))
      .withColumn(cntCol, coalesce(col(cntCol), lit(0L)))
      .drop("_cum_sum", "_cum_cnt")
  }

  /** Linear-interpolation gap-fill — the fourth imputation strategy
   * (pandas `interpolate(method='linear')` semantics on a regular grid):
   * a missing window between two observations takes the straight line
   * between them; leading/trailing gaps (no neighbor on one side) stay
   * NULL so the caller sees un-interpolatable edges explicitly.
   *
   * Exact-integer formulation: the interpolated value is milli fixed
   * point, `prev*1000 + (next - prev)*1000*(t - t_prev) DIV
   * (t_next - t_prev)` — integer division TRUNCATING TOWARD ZERO,
   * which is what both Spark's `DIV` and DuckDB's `//` implement
   * (measured: -7 // 2 = -3 in DuckDB — it does NOT floor), so the
   * milli value hash-matches cross-engine even when the segment
   * decreases (negative numerator). Observed windows carry value*1000.
   *
   * The four neighbor lookups are frames of the one keyed pass: the last
   * non-null value/window up to the observation and the first after it,
   * which are also the neighbors of every window it generates. */
  def linearInterpolate(
      obs: DataFrame,
      keys: Seq[String],
      windowCol: String,
      width: Long,
      valueCol: String): DataFrame = {
    val back = upTo(keys, windowCol)
    val fwd = byWindow(keys, windowCol).rowsBetween(1, Window.unboundedFollowing)
    val seenAt = when(col(valueCol).isNotNull, col(windowCol).cast("long"))
    densify(obs, keys, windowCol, width, Seq(
      "_pv" -> last(col(valueCol), ignoreNulls = true).over(back),
      "_pw" -> last(seenAt, ignoreNulls = true).over(back),
      "_nv" -> first(col(valueCol), ignoreNulls = true).over(fwd),
      "_nw" -> first(seenAt, ignoreNulls = true).over(fwd)))
      .withColumn(
        "_numer",
        (col("_nv").cast("long") - col("_pv").cast("long")) * 1000L *
          (col(windowCol) - col("_pw")))
      .withColumn("_denom", col("_nw") - col("_pw"))
      .withColumn(
        "interp_milli",
        when(col(valueCol).isNotNull, col(valueCol).cast("long") * 1000L)
          .when(
            col("_pv").isNotNull && col("_nv").isNotNull,
            col("_pv").cast("long") * 1000L + expr("_numer DIV _denom")))
      .withColumn("filled", col(valueCol).isNull)
      .drop("_pv", "_pw", "_nv", "_nw", "_numer", "_denom")
  }

  /** Full gap-fill: LOCF (a running `last(_, ignoreNulls)`) on `fillCols`,
   * then constant defaults on `zeroCols` — the reference's
   * DummyValueImputation (transform/imputation.py:32-40): with no
   * `fillCols` every missing slot takes the fixed value, and a LOCF column
   * also named in `zeroCols` takes its default where nothing precedes. */
  def gapFill(
      obs: DataFrame,
      keys: Seq[String],
      windowCol: String,
      width: Long,
      fillCols: Seq[String],
      zeroCols: Map[String, Column] = Map.empty): DataFrame = {
    val running = upTo(keys, windowCol)
    val filled = densify(obs, keys, windowCol, width,
      fillCols.map(c => c -> last(col(c), ignoreNulls = true).over(running)))
    zeroCols.foldLeft(filled) { case (d, (c, default)) =>
      d.withColumn(c, coalesce(col(c), default))
    }
  }
}
