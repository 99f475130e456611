package graft.queries

import graft.functions.GraftFunctions.call
import graft.sources.TokenTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Rolling-window evaluation over the token series — the descendant of the
 * reference's EvalCrop/EvalDataset window enumeration
 * (uni2ts/src/uni2ts/transform/crop.py:111-147, data/dataset.py:185-211)
 * and of its packed metric reductions (loss/packed/, SURVEY.md §2.4).
 *
 * Window grammar (context=64, horizon=16, stride=32): window w of a doc
 * covers context positions [fs-64, fs) and horizon [fs, fs+16) with
 * fs = 64 + w*32, for w in [0, (n_tok-80) div 32]. All stats are row-local
 * array ops over the token array (no shuffle per window — parallelism is
 * across docs, the abundant axis), with exact-int or fixed-point outputs.
 */
object EvalQueries {

  private[queries] val Ctx = 64
  private[queries] val Hor = 16
  private[queries] val Stride = 32

  /** Window grammar with explicit geometry — the reference parameterizes
   * (windows, distance, prediction_length, context_length) per dataset
   * (eval_util/data.py:263-402); the defaults above are this engine's
   * standard grid, and q_rolling_eval_alt proves the grammar is general.
   * Materializes the ctx/hor window ARRAYS via the `window_slices`
   * generator, so each window row carries ONLY its own ctx+hor elements
   * (an explode over the raw series would copy the full token array into
   * every window row — ~n/stride copies per doc). Use `eval_window_stats`
   * when only window reductions are needed (no arrays at all). */
  private[queries] def rollingWindows(
      s: SparkSession,
      dir: String,
      ctx: Int = Ctx,
      hor: Int = Hor,
      stride: Int = Stride): DataFrame = {
    TokenTable
      .raw(s, dir)
      .select(
        col("doc_id"),
        col("source"),
        explode(
          call("window_slices", col("tokens"), lit(ctx), lit(hor), lit(stride)))
          .as("_ws"))
      .select(
        col("doc_id"),
        col("source"),
        col("_ws.w").as("w"),
        col("_ws.fs").as("fs"),
        col("_ws.ctx").as("ctx"),
        col("_ws.hor").as("hor"))
  }

  // All per-window reductions run through the typed array kernels
  // (ArrayExpressions.scala) rather than SQL `aggregate` lambdas — the
  // lambdas evaluate interpreted per element, and the eval grid touches
  // every (window x element) pair; at 100 TB the constant IS the cost.
  val q: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Window enumeration + per-window context/horizon statistics — all
    // from the fused generator's compact structs (no window arrays).
    "q_rolling_eval" -> ((s, dir) => {
      TokenTable
        .raw(s, dir)
        .select(
          col("doc_id"),
          col("source"),
          explode(
            call(
              "eval_window_stats",
              col("tokens"),
              lit(1),
              lit(Ctx),
              lit(Hor),
              lit(Stride),
              lit(1L))).as("st"))
        .select(
          col("doc_id"),
          col("source"),
          col("st.w").as("w"),
          col("st.ctx_min").cast("int").as("ctx_min"),
          col("st.ctx_max").cast("int").as("ctx_max"),
          col("st.ctx_sum").as("ctx_sum"),
          col("st.hor_sum").as("hor_sum"))
    }),

    // EvalCrop with a NEGATIVE offset (crop.py:111-147): the reference's
    // end-anchored evaluation windows — fcst_start counts from the series
    // END (offset -64, distance 16, 3 windows of ctx 32 / horizon 16),
    // the standard "hold out the last K steps" eval split. q_rolling_eval
    // covers the start-anchored twin (FinetunePatchCrop, crop.py:149-187,
    // whose fcst_start = context + window*distance is exactly that grid).
    "q_eval_crop" -> ((s, dir) => {
      // end-anchored generator: fs = n_tok - 64 + w*16, 3 windows of
      // ctx 32 / hor 16; the kernel returns EMPTY for series shorter than
      // 96 (the old filter), and window rows carry only their own slices
      TokenTable
        .raw(s, dir)
        .select(
          col("doc_id"),
          col("source"),
          explode(
            call(
              "window_slices_end",
              col("tokens"),
              lit(32),
              lit(16),
              lit(16),
              lit(3),
              lit(64))).as("_we"))
        .select(
          col("doc_id"),
          col("source"),
          col("_we.w").as("w"),
          col("_we.fs").as("fs"),
          call("arr_sum", col("_we.ctx")).as("ctx_sum"),
          call("arr_sum", col("_we.hor")).as("hor_sum"))
    }),

    // Same grammar at a NON-default geometry (context 48, horizon 24,
    // stride 40) — proving (ctx, hor, stride) are genuinely free
    // parameters, as in the reference's per-dataset eval configuration.
    "q_rolling_eval_alt" -> ((s, dir) => {
      rollingWindows(s, dir, ctx = 48, hor = 24, stride = 40)
        .select(
          col("doc_id"),
          col("source"),
          col("w"),
          col("fs"),
          size(col("ctx")).as("ctx_len"),
          size(col("hor")).as("hor_len"),
          call("arr_sum", col("ctx")).as("ctx_sum"),
          call("arr_sum", col("hor")).as("hor_sum"))
    }),

    // Naive-forecast evaluation metrics: forecast = context mean; per-window
    // fixed-point MAE over the horizon, aggregated per source (the packed
    // doubly-normalized reduction shape, loss/packed/_base.py:76-106).
    "q_eval_metrics" -> ((s, dir) => {
      // the FUSED window generator: enumeration + per-window reduction in
      // one kernel pass per doc; window rows carry 8 longs, not a copy of
      // the token array
      TokenTable
        .raw(s, dir)
        .select(
          col("source"),
          explode(
            call(
              "eval_window_stats",
              col("tokens"),
              lit(1),
              lit(Ctx),
              lit(Hor),
              lit(Stride),
              lit(1000L))).as("st"))
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_windows"),
          sum(col("st.sum_eq")).as("mae_q_sum"))
        .withColumn(
          "mae",
          col("mae_q_sum").cast("double") / 1000.0 /
            (col("n_windows") * Hor).cast("double"))
    })
  )

  /** Window CTE at explicit geometry — the oracle twin of
   * [[rollingWindows]]'s (ctx, hor, stride) parameters. */
  private[queries] def winCteAt(ctx: Int, hor: Int, stride: Int): String =
    s"""${TokenRollupQueries.PtsCte},
       |docs_n AS (SELECT doc_id, source, count(*) AS n FROM pts GROUP BY 1, 2),
       |wins AS (
       |  SELECT d.doc_id, d.source, CAST(t.w AS INT) AS w,
       |         CAST($ctx + t.w * $stride AS INT) AS fs
       |  FROM docs_n d,
       |       LATERAL (SELECT unnest(range(0, (d.n - ${ctx + hor}) // $stride + 1)) AS w) t
       |  WHERE d.n >= ${ctx + hor})""".stripMargin

  private[queries] val WinCte =
    s"""${winCteAt(Ctx, Hor, Stride)},
       |ctxagg AS (
       |  SELECT w.doc_id, w.source, w.w,
       |         min(p.tok) AS ctx_min, max(p.tok) AS ctx_max,
       |         CAST(sum(p.tok) AS BIGINT) AS ctx_sum
       |  FROM wins w JOIN pts p
       |    ON p.doc_id = w.doc_id AND p.pos >= w.fs - $Ctx AND p.pos < w.fs
       |  GROUP BY 1, 2, 3),
       |horagg AS (
       |  SELECT w.doc_id, w.source, w.w, w.fs,
       |         CAST(sum(p.tok) AS BIGINT) AS hor_sum
       |  FROM wins w JOIN pts p
       |    ON p.doc_id = w.doc_id AND p.pos >= w.fs AND p.pos < w.fs + $Hor
       |  GROUP BY 1, 2, 3, 4)""".stripMargin

  val oracle: Map[String, String] = Map(
    "q_rolling_eval" ->
      s"""$WinCte
         |SELECT CAST(c.doc_id AS VARCHAR) AS doc_id, c.source, c.w,
         |       c.ctx_min, c.ctx_max, c.ctx_sum, h.hor_sum
         |FROM ctxagg c JOIN horagg h
         |  ON c.doc_id = h.doc_id AND c.w = h.w""".stripMargin,
    "q_eval_crop" ->
      s"""${TokenRollupQueries.PtsCte},
         |d AS (SELECT p.*, count(*) OVER (PARTITION BY doc_id) AS nn FROM pts p),
         |docs AS (SELECT DISTINCT doc_id, source, nn FROM d WHERE nn >= 96),
         |we AS (
         |  SELECT doc_id, source, CAST(t.w AS INT) AS w,
         |         CAST(nn - 64 + t.w * 16 AS INT) AS fs
         |  FROM docs, LATERAL (SELECT unnest(range(0, 3)) AS w) t)
         |SELECT CAST(we.doc_id AS VARCHAR) AS doc_id, we.source, we.w, we.fs,
         |       CAST(sum(CASE WHEN p.pos < we.fs THEN p.tok END) AS BIGINT) AS ctx_sum,
         |       CAST(sum(CASE WHEN p.pos >= we.fs THEN p.tok END) AS BIGINT) AS hor_sum
         |FROM we JOIN pts p
         |  ON p.doc_id = we.doc_id AND p.pos >= we.fs - 32 AND p.pos < we.fs + 16
         |GROUP BY 1, 2, 3, 4""".stripMargin,
    "q_rolling_eval_alt" ->
      s"""${winCteAt(48, 24, 40)},
         |ctxagg AS (
         |  SELECT w.doc_id, w.source, w.w, w.fs,
         |         CAST(count(*) AS INT) AS ctx_len,
         |         CAST(sum(p.tok) AS BIGINT) AS ctx_sum
         |  FROM wins w JOIN pts p
         |    ON p.doc_id = w.doc_id AND p.pos >= w.fs - 48 AND p.pos < w.fs
         |  GROUP BY 1, 2, 3, 4),
         |horagg AS (
         |  SELECT w.doc_id, w.w,
         |         CAST(count(*) AS INT) AS hor_len,
         |         CAST(sum(p.tok) AS BIGINT) AS hor_sum
         |  FROM wins w JOIN pts p
         |    ON p.doc_id = w.doc_id AND p.pos >= w.fs AND p.pos < w.fs + 24
         |  GROUP BY 1, 2)
         |SELECT CAST(c.doc_id AS VARCHAR) AS doc_id, c.source, c.w, c.fs,
         |       c.ctx_len, h.hor_len, c.ctx_sum, h.hor_sum
         |FROM ctxagg c JOIN horagg h
         |  ON c.doc_id = h.doc_id AND c.w = h.w""".stripMargin,
    "q_eval_metrics" ->
      s"""$WinCte,
         |mae_per_win AS (
         |  SELECT h2.source,
         |         CAST(sum(CAST(floor(abs(CAST(p.tok AS DOUBLE)
         |                - CAST(c.ctx_sum AS DOUBLE) / $Ctx.0) * 1000 + 0.5) AS BIGINT))
         |           AS BIGINT) AS mae_q
         |  FROM horagg h2
         |  JOIN ctxagg c ON c.doc_id = h2.doc_id AND c.w = h2.w
         |  JOIN pts p ON p.doc_id = h2.doc_id
         |             AND p.pos >= h2.fs AND p.pos < h2.fs + $Hor
         |  GROUP BY h2.source, h2.doc_id, h2.w)
         |SELECT source, count(*) AS n_windows,
         |       CAST(sum(mae_q) AS BIGINT) AS mae_q_sum,
         |       CAST(sum(mae_q) AS DOUBLE) / 1000.0
         |         / CAST(count(*) * $Hor AS DOUBLE) AS mae
         |FROM mae_per_win GROUP BY 1""".stripMargin
  )
}
