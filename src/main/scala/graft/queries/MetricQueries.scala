package graft.queries

import graft.functions.GraftFunctions.call
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The packed metric/loss family over the rolling-window evaluation grid —
 * the engine's descendants of the reference's packed losses:
 *
 *  - MAPE / sMAPE        (loss/packed/percentage_error.py:25-52)
 *  - pinball / quantile  (loss/packed/quantile.py:13-58, 9 levels)
 *  - NMAE / NMSE / NRMSE (loss/packed/normalized.py:30-260, PointNormType
 *                         ABS_TARGET and ABS_TARGET_SQ denominators)
 *  - MASE via seasonal_error (eval_util/evaluation.py:73-88)
 *  - MaskedPrediction ctx/horizon masks (transform/task.py:27-166)
 *
 * Forecast under evaluation: the context-mean naive forecast (as in
 * q_eval_metrics), horizon = the next 16 tokens. `safe_div` follows the
 * reference exactly (common/torch_util.py:66-74): a zero denominator is
 * replaced by 1, NOT by zeroing the loss.
 *
 * Exactness discipline: every per-point/per-window term is one fixed
 * double expression over exact integers (identical bit pattern in Spark
 * and DuckDB), quantized to fixed point via floor(x*10^k + 0.5), and
 * cross-row sums run over DECIMAL(38,0) so they are exact and order-free
 * at ANY group size (a BIGINT sum of quantized terms would overflow around
 * 10^13 points per source at 100-TB scale). The DECIMAL stays INTERNAL:
 * every emitted *_q_sum column is cast to BIGINT on both engines (the
 * verified sums fit a long by orders of magnitude at oracle scale, and
 * BIGINT is the one wide-integer type both hashers canonicalize alike).
 *
 * Scale shape: everything before the final groupBy(source) is row-local
 * (array ops / posexplode over bounded 16-or-80-element windows), so the
 * only shuffle carries one partial-aggregate row per (source x partition) —
 * the same partial-agg-then-tiny-exchange shape as the rollup ladder.
 */
object MetricQueries {

  private val Ctx = EvalQueries.Ctx // 64
  private val Hor = EvalQueries.Hor // 16
  // q_eval_mase's fixed seasonality (the daily-data default m=7, kept as a
  // regression anchor); q_eval_mase_freq derives m per source from its
  // freq via Seasonality.of — the reference's actual rule (cli/eval.py:57
  // -> eval_util/evaluation.py:73-88 seasonal_error(freq=...)).
  private val Season = 7
  // Fixture freq-per-source convention (shared with ResampleQueries'
  // FreqMinSql parity rule): even sources are the hourly fixture, odd the
  // business-daily one. m comes from the gluonts table, not a constant.
  private val MEven = graft.core.Seasonality.of("H") // 24
  private val MOdd = graft.core.Seasonality.of("B") // 5
  private val SrcParitySql = "CAST(substring(source, 4) AS INT) % 2 = 0"

  /** Quantize a deterministic double term to fixed point (10^-4) and make
   * it an exact, overflow-free summand. */
  private def tq(term: String): String =
    s"CAST(CAST(floor(($term) * 10000 + 0.5) AS BIGINT) AS DECIMAL(38,0))"

  /** Emit an internal DECIMAL(38,0) accumulator as BIGINT, RAISING instead
   * of silently NULLing when the value exceeds the Long range: in non-ANSI
   * mode an out-of-range decimal→long cast yields NULL (round-3 ADVICE),
   * which at the ~1e13-points-per-source production scale would corrupt
   * the column without any error. Oracle-scale sums fit a long by orders
   * of magnitude; past the ceiling the right fix is widening the OUTPUT
   * type, and this guard is what surfaces that. NULL input stays NULL
   * (the CASE's null condition falls through to the plain cast). */
  private def decToLong(c: String) =
    expr(
      s"CASE WHEN abs($c) > 9223372036854775807 THEN " +
        s"CAST(raise_error(concat('$c overflows BIGINT: ', CAST($c AS STRING))) AS BIGINT) " +
        s"ELSE CAST($c AS BIGINT) END")

  /** One row per (doc, window) carrying the FUSED stat struct `st` —
   * window enumeration and the packed reductions happen inside
   * `eval_window_stats` in one pass per doc, so exploded window rows are
   * 8 longs each instead of a full copy of the token array (the explode
   * write-amplification note in ArrayExpressions.scala). */
  private def windowStats(
      s: SparkSession,
      dir: String,
      scale: Long,
      mCol: org.apache.spark.sql.Column): DataFrame = {
    graft.sources.TokenTable
      .raw(s, dir)
      .select(
        col("doc_id"),
        col("source"),
        explode(
          call(
            "eval_window_stats",
            col("tokens"),
            mCol,
            lit(Ctx),
            lit(Hor),
            lit(Stride),
            lit(scale))).as("st"))
  }

  private val Stride = EvalQueries.Stride

  /** Per-horizon-point view: (doc_id, source, w, naive, i, y) — built on
   * the bounded window_slices generator (each window row carries its own
   * ctx+hor elements, never the whole series), naive from the ctx slice
   * via the arr_sum kernel. */
  private def horPoints(s: SparkSession, dir: String): DataFrame = {
    EvalQueries
      .rollingWindows(s, dir)
      .withColumn(
        "naive",
        call("arr_sum", col("ctx")).cast("double") / Ctx.toDouble)
      .select(
        col("doc_id"),
        col("source"),
        col("w"),
        col("naive"),
        posexplode(col("hor")).as(Seq("i", "y")))
  }

  val q: Map[String, (SparkSession, String) => DataFrame] = Map(
    // MAPE: 100 * |e| / |y| with safe_div (percentage_error.py:25-38).
    "q_eval_mape" -> ((s, dir) =>
      horPoints(s, dir)
        .withColumn(
          "term",
          expr(
            "100.0 * abs(CAST(y AS DOUBLE) - naive) / " +
              "CASE WHEN abs(y) = 0 THEN 1.0 ELSE CAST(abs(y) AS DOUBLE) END"))
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_points"),
          sum(expr(tq("term"))).as("mape_q_sum"))
        .withColumn("mape_q_sum", decToLong("mape_q_sum"))
        .withColumn(
          "mape",
          expr("CAST(mape_q_sum AS DOUBLE) / 10000.0 / CAST(n_points AS DOUBLE)"))),

    // sMAPE: 200 * |e| / (|y| + |yhat|) with safe_div
    // (percentage_error.py:41-52).
    "q_eval_smape" -> ((s, dir) =>
      horPoints(s, dir)
        .withColumn(
          "term",
          expr(
            "200.0 * abs(CAST(y AS DOUBLE) - naive) / " +
              "CASE WHEN CAST(abs(y) AS DOUBLE) + abs(naive) = 0.0 THEN 1.0 " +
              "ELSE CAST(abs(y) AS DOUBLE) + abs(naive) END"))
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_points"),
          sum(expr(tq("term"))).as("smape_q_sum"))
        .withColumn("smape_q_sum", decToLong("smape_q_sum"))
        .withColumn(
          "smape",
          expr("CAST(smape_q_sum AS DOUBLE) / 10000.0 / CAST(n_points AS DOUBLE)"))),

    // Pinball (quantile) loss at the reference's 9 levels
    // (quantile.py:13-58): per level q, pred = the ceil(64q)-th smallest
    // context value (an exact order statistic), loss = q*(y-p) if y>p else
    // (1-q)*(p-y). Reported per (source, decile) — finer than the
    // reference's mean-over-levels, which is recoverable by averaging.
    // The per-window 9-decile pinball sums come from the fused
    // eval_pinball_stats kernel (one pass per window, exact integer sums
    // — see ArrayKernels.evalPinballStats for the bit-equality argument);
    // the old shape exploded W x hor x 9 rows each carrying a full copy
    // of the sorted context array. n_points per (source, decile) is
    // hor per window, summed — identical to counting the exploded rows.
    "q_eval_pinball" -> ((s, dir) => {
      graft.sources.TokenTable
        .raw(s, dir)
        .select(
          col("source"),
          explode(
            call(
              "eval_pinball_stats",
              col("tokens"),
              lit(Ctx),
              lit(Hor),
              lit(Stride))).as("st"))
        .select(col("source"), posexplode(col("st.pin")).as(Seq("d0", "pin_q")))
        .withColumn("q_decile", col("d0") + 1)
        .groupBy(col("source"), col("q_decile"))
        .agg(
          sum(lit(Hor.toLong)).as("n_points"),
          sum(expr("CAST(pin_q AS DECIMAL(38,0))")).as("pinball_q_sum"))
        .withColumn("pinball_q_sum", decToLong("pinball_q_sum"))
        .withColumn(
          "pinball",
          expr("CAST(pinball_q_sum AS DOUBLE) / 10000.0 / CAST(n_points AS DOUBLE)"))
    }),

    // Normalized point losses (normalized.py:30-260): per-window horizon
    // errors with the PointNormType denominators —
    //   NMAE  = mean|e| / D        (ABS_TARGET:    D = mean|y|)
    //   NMSE  = mean(e^2) / D^2    (ABS_TARGET_SQ: D^2)
    //   NRMSE = sqrt(mean(e^2))/D
    // then averaged per source over windows.
    "q_eval_normalized" -> ((s, dir) =>
      windowStats(s, dir, 10000L, lit(1))
        .withColumn("sum_eq", col("st.sum_eq"))
        .withColumn("sum_e2q", col("st.sum_e2q"))
        .withColumn("habs", col("st.habs"))
        .withColumn(
          "d",
          expr(s"CASE WHEN habs = 0 THEN 1.0 ELSE CAST(habs AS DOUBLE) / $Hor.0 END"))
        .withColumn("nmae_w", expr(s"(CAST(sum_eq AS DOUBLE) / 10000.0 / $Hor.0) / d"))
        .withColumn("nmse_w", expr(s"(CAST(sum_e2q AS DOUBLE) / 10000.0 / $Hor.0) / (d * d)"))
        .withColumn("nrmse_w", expr(s"sqrt(CAST(sum_e2q AS DOUBLE) / 10000.0 / $Hor.0) / d"))
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_windows"),
          sum(expr("CAST(CAST(floor(nmae_w * 1000000 + 0.5) AS BIGINT) AS DECIMAL(38,0))"))
            .as("nmae_q_sum"),
          sum(expr("CAST(CAST(floor(nmse_w * 1000000 + 0.5) AS BIGINT) AS DECIMAL(38,0))"))
            .as("nmse_q_sum"),
          sum(expr("CAST(CAST(floor(nrmse_w * 1000000 + 0.5) AS BIGINT) AS DECIMAL(38,0))"))
            .as("nrmse_q_sum"))
        .withColumn("nmae_q_sum", decToLong("nmae_q_sum"))
        .withColumn("nmse_q_sum", decToLong("nmse_q_sum"))
        .withColumn("nrmse_q_sum", decToLong("nrmse_q_sum"))
        .withColumn("nmae",expr("CAST(nmae_q_sum AS DOUBLE) / 1000000.0 / CAST(n_windows AS DOUBLE)"))
        .withColumn("nmse", expr("CAST(nmse_q_sum AS DOUBLE) / 1000000.0 / CAST(n_windows AS DOUBLE)"))
        .withColumn("nrmse", expr("CAST(nrmse_q_sum AS DOUBLE) / 1000000.0 / CAST(n_windows AS DOUBLE)"))),

    // MASE: mean|e| over the horizon divided by the per-window
    // seasonal-naive error of the context at seasonality m=7
    // (eval_util/evaluation.py:73-88; gluonts seasonal_error semantics:
    // mean |y_t - y_{t-m}| over the input window).
    "q_eval_mase" -> ((s, dir) =>
      windowStats(s, dir, 10000L, lit(Season))
        .withColumn("sum_eq", col("st.sum_eq"))
        .withColumn("se_num", col("st.se_num"))
        .withColumn(
          "mase_w",
          expr(
            s"(CAST(sum_eq AS DOUBLE) / 10000.0 / $Hor.0) / " +
              s"CASE WHEN se_num = 0 THEN 1.0 ELSE CAST(se_num AS DOUBLE) / ${Ctx - Season}.0 END"))
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_windows"),
          sum(expr("CAST(CAST(floor(mase_w * 1000000 + 0.5) AS BIGINT) AS DECIMAL(38,0))"))
            .as("mase_q_sum"))
        .withColumn("mase_q_sum", decToLong("mase_q_sum"))
        .withColumn(
          "mase",
          expr("CAST(mase_q_sum AS DOUBLE) / 1000000.0 / CAST(n_windows AS DOUBLE)"))),

    // MASE with the seasonality m DERIVED from each source's frequency via
    // the gluonts rule (Seasonality.of), exactly as the reference resolves
    // it at eval time (cli/eval.py:57 -> eval_util/evaluation.py:73-88):
    // two different m values (hourly m=24, business-daily m=5) flow through
    // the same query, per the fixture's source-parity freq convention.
    "q_eval_mase_freq" -> ((s, dir) => {
      // the freq-derived lag rides the generator's m CHILD — per-source m
      // without duplicating the window pass
      windowStats(
        s,
        dir,
        10000L,
        expr(s"CASE WHEN $SrcParitySql THEN $MEven ELSE $MOdd END"))
        .withColumn("m", expr(s"CASE WHEN $SrcParitySql THEN $MEven ELSE $MOdd END"))
        .withColumn("sum_eq", col("st.sum_eq"))
        .withColumn("se_num", col("st.se_num"))
        .withColumn(
          "mase_w",
          expr(
            s"(CAST(sum_eq AS DOUBLE) / 10000.0 / $Hor.0) / " +
              s"CASE WHEN se_num = 0 THEN 1.0 ELSE CAST(se_num AS DOUBLE) / CAST($Ctx - m AS DOUBLE) END"))
        .groupBy(col("source"), col("m"))
        .agg(
          count(lit(1)).as("n_windows"),
          sum(expr("CAST(CAST(floor(mase_w * 1000000 + 0.5) AS BIGINT) AS DECIMAL(38,0))"))
            .as("mase_q_sum"))
        .withColumn("mase_q_sum", decToLong("mase_q_sum"))
        .withColumn(
          "mase",
          expr("CAST(mase_q_sum AS DOUBLE) / 1000000.0 / CAST(n_windows AS DOUBLE)"))
    }),

    // MSIS — mean scaled interval score at alpha=0.05 (the reference's
    // evaluator list, eval_util/evaluation.py metrics; gluonts MSIS
    // semantics): interval [L,U] = context order statistics at 0.025 /
    // 0.975, per-point penalty (U-L) + 40*(L-y)[y<L] + 40*(y-U)[y>U] —
    // ALL exact integers — scaled by the m=7 seasonal error.
    "q_eval_msis" -> ((s, dir) =>
      EvalQueries
        .rollingWindows(s, dir)
        .withColumn("sctx", array_sort(col("ctx")))
        .withColumn("lo", expr("element_at(sctx, 2)")) // ceil(64*0.025)
        .withColumn("hi", expr("element_at(sctx, 63)")) // ceil(64*0.975)
        .withColumn(
          "terms",
          call("arr_interval_penalty_sum", col("hor"), col("lo"), col("hi"), lit(40L)))
        .withColumn(
          "se_num",
          call("arr_seasonal_abs_sum", col("ctx"), lit(Season)))
        .withColumn(
          "msis_w",
          expr(
            s"(CAST(terms AS DOUBLE) / $Hor.0) / " +
              s"CASE WHEN se_num = 0 THEN 1.0 ELSE CAST(se_num AS DOUBLE) / ${Ctx - Season}.0 END"))
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_windows"),
          sum(expr("CAST(CAST(floor(msis_w * 1000000 + 0.5) AS BIGINT) AS DECIMAL(38,0))"))
            .as("msis_q_sum"))
        .withColumn("msis_q_sum", decToLong("msis_q_sum"))
        .withColumn(
          "msis",
          expr("CAST(msis_q_sum AS DOUBLE) / 1000000.0 / CAST(n_windows AS DOUBLE)"))),

    // MSIS with the seasonality m derived from each source's frequency —
    // the same eval-time seasonal_error resolution as q_eval_mase_freq
    // (the reference scales MASE and MSIS by the SAME freq-derived
    // seasonal error, eval_util/evaluation.py:73-88).
    "q_eval_msis_freq" -> ((s, dir) =>
      EvalQueries
        .rollingWindows(s, dir)
        .withColumn("m", expr(s"CASE WHEN $SrcParitySql THEN $MEven ELSE $MOdd END"))
        .withColumn("sctx", array_sort(col("ctx")))
        .withColumn("lo", expr("element_at(sctx, 2)"))
        .withColumn("hi", expr("element_at(sctx, 63)"))
        .withColumn(
          "terms",
          call("arr_interval_penalty_sum", col("hor"), col("lo"), col("hi"), lit(40L)))
        .withColumn(
          "se_num",
          when(
            col("m") === MEven,
            call("arr_seasonal_abs_sum", col("ctx"), lit(MEven)))
            .otherwise(call("arr_seasonal_abs_sum", col("ctx"), lit(MOdd))))
        .withColumn(
          "msis_w",
          expr(
            s"(CAST(terms AS DOUBLE) / $Hor.0) / " +
              s"CASE WHEN se_num = 0 THEN 1.0 ELSE CAST(se_num AS DOUBLE) / CAST($Ctx - m AS DOUBLE) END"))
        .groupBy(col("source"), col("m"))
        .agg(
          count(lit(1)).as("n_windows"),
          sum(expr("CAST(CAST(floor(msis_w * 1000000 + 0.5) AS BIGINT) AS DECIMAL(38,0))"))
            .as("msis_q_sum"))
        .withColumn("msis_q_sum", decToLong("msis_q_sum"))
        .withColumn(
          "msis",
          expr("CAST(msis_q_sum AS DOUBLE) / 1000000.0 / CAST(n_windows AS DOUBLE)"))),

    // ND, mean weighted quantile loss, and MedianMSE — completing the
    // reference's evaluator list (evaluation.py:131-167, metrics.py:10-21):
    //   ND        = sum|e| / sum|y|  (normalized deviation, global)
    //   mean WQL  = mean over 9 levels of 2*sum(pinball_l)/sum|y|
    //             = 2 * sum(all pinball) / (9 * sum|y|)   [linearity]
    //   MedianMSE = MSE of the 0.5-quantile (median) forecast — (y-med)^2
    //               is an EXACT integer, no quantization needed.
    // All five accumulators come from the fused eval_pinball_stats kernel
    // (one compact struct per window; see ArrayKernels.evalPinballStats
    // for the bit-equality argument) — the old shape carried the sorted
    // 64-element context array through a hor x 9-decile explode, ~144
    // array copies per window, and was the slowest query of the suite.
    "q_eval_extra" -> ((s, dir) =>
      graft.sources.TokenTable
        .raw(s, dir)
        .select(
          col("source"),
          explode(
            call(
              "eval_pinball_stats",
              col("tokens"),
              lit(Ctx),
              lit(Hor),
              lit(Stride))).as("st"))
        .groupBy(col("source"))
        .agg(
          sum(lit(Hor.toLong)).as("n_points"),
          sum(expr("CAST(st.say AS DECIMAL(38,0))")).as("sum_abs_y"),
          sum(expr("CAST(st.ndq AS DECIMAL(38,0))")).as("nd_q_sum"),
          sum(expr("CAST(st.medse AS DECIMAL(38,0))")).as("med_se_sum"),
          sum(expr("CAST(st.pin_total AS DECIMAL(38,0))")).as("pinball_all_q"))
        .withColumn("sum_abs_y", decToLong("sum_abs_y"))
        .withColumn("nd_q_sum", decToLong("nd_q_sum"))
        .withColumn("med_se_sum", decToLong("med_se_sum"))
        .withColumn("pinball_all_q", decToLong("pinball_all_q"))
        .withColumn(
          "nd",
          expr(
            "(CAST(nd_q_sum AS DOUBLE) / 10000.0) / " +
              "CASE WHEN sum_abs_y = 0 THEN 1.0 ELSE CAST(sum_abs_y AS DOUBLE) END"))
        .withColumn(
          "mean_wql",
          expr(
            "2.0 * (CAST(pinball_all_q AS DOUBLE) / 10000.0) / " +
              "(9.0 * CASE WHEN sum_abs_y = 0 THEN 1.0 ELSE CAST(sum_abs_y AS DOUBLE) END)"))
        .withColumn(
          "median_mse",
          expr("CAST(med_se_sum AS DOUBLE) / CAST(n_points AS DOUBLE)"))),

    // PackedNLLLoss (loss/packed/distribution.py:23-33) with a GAUSSIAN
    // head whose parameters come from the context moments — the reference
    // evaluates -log_prob under the model's predicted distribution; this
    // engine has no neural heads (SURVEY §0), so the deterministic
    // stand-in is the moment-matched normal (mu = context mean, sigma^2 =
    // context SAMPLE variance, the PackedStdScaler correction=1
    // convention), which exercises the identical packed doubly-normalized
    // reduction. Exactness: mu and sigma^2 derive from exact integer
    // context sums; ln is bit-identical across the JVM and DuckDB libm
    // (verified on this host), and every per-point term is quantized at
    // 1e-6 before the cross-row sum.
    "q_eval_nll" -> ((s, dir) =>
      EvalQueries
        .rollingWindows(s, dir)
        .withColumn("ctx_sum", call("arr_sum", col("ctx")))
        // scale-1 squared-error sum against 0 == exact integer sum of x^2
        .withColumn(
          "ctx_sumsq",
          call("arr_sq_err_q_sum", col("ctx"), lit(0.0), lit(1L)))
        .withColumn("mu", col("ctx_sum").cast("double") / Ctx.toDouble)
        .withColumn("var_num", lit(Ctx.toLong) * col("ctx_sumsq") - col("ctx_sum") * col("ctx_sum"))
        .withColumn(
          "v",
          expr(s"CASE WHEN var_num = 0 THEN 1.0 " +
            s"ELSE CAST(var_num AS DOUBLE) / ${Ctx * (Ctx - 1)}.0 END"))
        .withColumn("halflog", expr("0.5 * ln(2 * pi() * v)"))
        .select(
          col("source"),
          col("mu"),
          col("v"),
          col("halflog"),
          posexplode(col("hor")).as(Seq("i", "y")))
        .withColumn(
          "term",
          expr(
            "halflog + (CAST(y AS DOUBLE) - mu) * (CAST(y AS DOUBLE) - mu) / (2 * v)"))
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_points"),
          sum(expr("CAST(CAST(floor((term) * 1000000 + 0.5) AS BIGINT) AS DECIMAL(38,0))"))
            .as("nll_q_sum"))
        .withColumn("nll_q_sum", decToLong("nll_q_sum"))
        .withColumn(
          "nll",
          expr("CAST(nll_q_sum AS DOUBLE) / 1000000.0 / CAST(n_points AS DOUBLE)"))),

    // MaskedPrediction / EvalMaskedPrediction (task.py:27-166): the full
    // 80-token frame of each window with explicit prediction/observed mask
    // columns — context positions carry prediction_mask=false, horizon
    // positions true; observed_mask is all-true on this gapless corpus.
    "q_masked_prediction" -> ((s, dir) =>
      EvalQueries
        .rollingWindows(s, dir)
        .select(
          col("doc_id"),
          col("source"),
          col("w"),
          col("fs"),
          posexplode(concat(col("ctx"), col("hor"))).as(Seq("j", "tok")))
        .select(
          col("doc_id"),
          col("source"),
          col("w"),
          (col("fs") - Ctx + col("j")).cast("int").as("pos"),
          col("tok"),
          (col("j") >= Ctx).as("prediction_mask"),
          lit(true).as("observed_mask")))
  )

  // ---- DuckDB oracles --------------------------------------------------

  /** Horizon-point CTE shared by the per-point metric oracles: one row per
   * (window, horizon position) with the window's naive forecast. */
  private val HorPtsCte =
    s"""${EvalQueries.WinCte},
       |hp AS (
       |  SELECT w.doc_id, w.source, w.w, p.tok AS y,
       |         CAST(c.ctx_sum AS DOUBLE) / $Ctx.0 AS naive
       |  FROM wins w
       |  JOIN ctxagg c ON c.doc_id = w.doc_id AND c.w = w.w
       |  JOIN pts p ON p.doc_id = w.doc_id
       |             AND p.pos >= w.fs AND p.pos < w.fs + $Hor)""".stripMargin

  private def tqSql(term: String): String =
    s"CAST(floor(($term) * 10000 + 0.5) AS BIGINT)"

  val oracle: Map[String, String] = Map(
    "q_eval_mape" ->
      s"""$HorPtsCte
         |SELECT source, count(*) AS n_points,
         |       CAST(sum(${tqSql(
          "100.0 * abs(CAST(y AS DOUBLE) - naive) / " +
            "CASE WHEN abs(y) = 0 THEN 1.0 ELSE CAST(abs(y) AS DOUBLE) END")}) AS BIGINT)
         |         AS mape_q_sum,
         |       CAST(sum(${tqSql(
          "100.0 * abs(CAST(y AS DOUBLE) - naive) / " +
            "CASE WHEN abs(y) = 0 THEN 1.0 ELSE CAST(abs(y) AS DOUBLE) END")}) AS DOUBLE)
         |         / 10000.0 / CAST(count(*) AS DOUBLE) AS mape
         |FROM hp GROUP BY 1""".stripMargin,
    "q_eval_smape" ->
      s"""$HorPtsCte
         |SELECT source, count(*) AS n_points,
         |       CAST(sum(${tqSql(
          "200.0 * abs(CAST(y AS DOUBLE) - naive) / " +
            "CASE WHEN CAST(abs(y) AS DOUBLE) + abs(naive) = 0.0 THEN 1.0 " +
            "ELSE CAST(abs(y) AS DOUBLE) + abs(naive) END")}) AS BIGINT)
         |         AS smape_q_sum,
         |       CAST(sum(${tqSql(
          "200.0 * abs(CAST(y AS DOUBLE) - naive) / " +
            "CASE WHEN CAST(abs(y) AS DOUBLE) + abs(naive) = 0.0 THEN 1.0 " +
            "ELSE CAST(abs(y) AS DOUBLE) + abs(naive) END")}) AS DOUBLE)
         |         / 10000.0 / CAST(count(*) AS DOUBLE) AS smape
         |FROM hp GROUP BY 1""".stripMargin,
    "q_eval_pinball" ->
      s"""${EvalQueries.WinCte},
         |cr AS (
         |  SELECT w.doc_id, w.w, p.tok,
         |         row_number() OVER (PARTITION BY w.doc_id, w.w ORDER BY p.tok) AS rn
         |  FROM wins w JOIN pts p
         |    ON p.doc_id = w.doc_id AND p.pos >= w.fs - $Ctx AND p.pos < w.fs),
         |lv AS (SELECT unnest(range(1, 10)) AS q_decile),
         |preds AS (
         |  SELECT c.doc_id, c.w, CAST(l.q_decile AS INT) AS q_decile, c.tok AS p
         |  FROM cr c JOIN lv l ON c.rn = ($Ctx * l.q_decile + 9) // 10),
         |terms AS (
         |  SELECT w.source, pr.q_decile,
         |         CASE WHEN p.tok > pr.p
         |              THEN (CAST(pr.q_decile AS DOUBLE) / 10.0) * CAST(p.tok - pr.p AS DOUBLE)
         |              ELSE (1.0 - CAST(pr.q_decile AS DOUBLE) / 10.0) * CAST(pr.p - p.tok AS DOUBLE)
         |         END AS term
         |  FROM wins w
         |  JOIN preds pr ON pr.doc_id = w.doc_id AND pr.w = w.w
         |  JOIN pts p ON p.doc_id = w.doc_id
         |             AND p.pos >= w.fs AND p.pos < w.fs + $Hor)
         |SELECT source, q_decile, count(*) AS n_points,
         |       CAST(sum(${tqSql("term")}) AS BIGINT) AS pinball_q_sum,
         |       CAST(sum(${tqSql("term")}) AS DOUBLE) / 10000.0 / CAST(count(*) AS DOUBLE)
         |         AS pinball
         |FROM terms GROUP BY 1, 2""".stripMargin,
    "q_eval_normalized" ->
      s"""$HorPtsCte,
         |perwin AS (
         |  SELECT doc_id, source, w,
         |         CAST(sum(${tqSql("abs(CAST(y AS DOUBLE) - naive)")}) AS BIGINT) AS sum_eq,
         |         CAST(sum(${tqSql(
          "(CAST(y AS DOUBLE) - naive) * (CAST(y AS DOUBLE) - naive)")}) AS BIGINT) AS sum_e2q,
         |         CAST(sum(abs(y)) AS BIGINT) AS habs
         |  FROM hp GROUP BY 1, 2, 3),
         |wvals AS (
         |  SELECT source,
         |         (CAST(sum_eq AS DOUBLE) / 10000.0 / $Hor.0)
         |           / (CASE WHEN habs = 0 THEN 1.0 ELSE CAST(habs AS DOUBLE) / $Hor.0 END) AS nmae_w,
         |         (CAST(sum_e2q AS DOUBLE) / 10000.0 / $Hor.0)
         |           / ((CASE WHEN habs = 0 THEN 1.0 ELSE CAST(habs AS DOUBLE) / $Hor.0 END)
         |              * (CASE WHEN habs = 0 THEN 1.0 ELSE CAST(habs AS DOUBLE) / $Hor.0 END)) AS nmse_w,
         |         sqrt(CAST(sum_e2q AS DOUBLE) / 10000.0 / $Hor.0)
         |           / (CASE WHEN habs = 0 THEN 1.0 ELSE CAST(habs AS DOUBLE) / $Hor.0 END) AS nrmse_w
         |  FROM perwin)
         |SELECT source, count(*) AS n_windows,
         |       CAST(sum(CAST(floor(nmae_w * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS nmae_q_sum,
         |       CAST(sum(CAST(floor(nmse_w * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS nmse_q_sum,
         |       CAST(sum(CAST(floor(nrmse_w * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS nrmse_q_sum,
         |       CAST(sum(CAST(floor(nmae_w * 1000000 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0
         |         / CAST(count(*) AS DOUBLE) AS nmae,
         |       CAST(sum(CAST(floor(nmse_w * 1000000 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0
         |         / CAST(count(*) AS DOUBLE) AS nmse,
         |       CAST(sum(CAST(floor(nrmse_w * 1000000 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0
         |         / CAST(count(*) AS DOUBLE) AS nrmse
         |FROM wvals GROUP BY 1""".stripMargin,
    "q_eval_mase" ->
      s"""$HorPtsCte,
         |sen AS (
         |  SELECT w.doc_id, w.w, CAST(sum(abs(p1.tok - p2.tok)) AS BIGINT) AS se_num
         |  FROM wins w
         |  JOIN pts p1 ON p1.doc_id = w.doc_id
         |              AND p1.pos >= w.fs - ${Ctx - Season} AND p1.pos < w.fs
         |  JOIN pts p2 ON p2.doc_id = w.doc_id AND p2.pos = p1.pos - $Season
         |  GROUP BY 1, 2),
         |perwin AS (
         |  SELECT hp.doc_id, hp.source, hp.w,
         |         CAST(sum(${tqSql("abs(CAST(hp.y AS DOUBLE) - hp.naive)")}) AS BIGINT) AS sum_eq
         |  FROM hp GROUP BY 1, 2, 3),
         |wvals AS (
         |  SELECT pw.source,
         |         (CAST(pw.sum_eq AS DOUBLE) / 10000.0 / $Hor.0)
         |           / (CASE WHEN s.se_num = 0 THEN 1.0
         |                   ELSE CAST(s.se_num AS DOUBLE) / ${Ctx - Season}.0 END) AS mase_w
         |  FROM perwin pw JOIN sen s ON s.doc_id = pw.doc_id AND s.w = pw.w)
         |SELECT source, count(*) AS n_windows,
         |       CAST(sum(CAST(floor(mase_w * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS mase_q_sum,
         |       CAST(sum(CAST(floor(mase_w * 1000000 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0
         |         / CAST(count(*) AS DOUBLE) AS mase
         |FROM wvals GROUP BY 1""".stripMargin,
    "q_eval_mase_freq" ->
      s"""$HorPtsCte,
         |srcm AS (
         |  SELECT DISTINCT source,
         |         CASE WHEN $SrcParitySql THEN $MEven ELSE $MOdd END AS m
         |  FROM pts),
         |sen AS (
         |  SELECT w.doc_id, w.w, sm.m,
         |         CAST(sum(abs(p1.tok - p2.tok)) AS BIGINT) AS se_num
         |  FROM wins w
         |  JOIN srcm sm ON sm.source = w.source
         |  JOIN pts p1 ON p1.doc_id = w.doc_id
         |              AND p1.pos >= w.fs - ($Ctx - sm.m) AND p1.pos < w.fs
         |  JOIN pts p2 ON p2.doc_id = w.doc_id AND p2.pos = p1.pos - sm.m
         |  GROUP BY 1, 2, 3),
         |perwin AS (
         |  SELECT hp.doc_id, hp.source, hp.w,
         |         CAST(sum(${tqSql("abs(CAST(hp.y AS DOUBLE) - hp.naive)")}) AS BIGINT) AS sum_eq
         |  FROM hp GROUP BY 1, 2, 3),
         |wvals AS (
         |  SELECT pw.source, s.m,
         |         (CAST(pw.sum_eq AS DOUBLE) / 10000.0 / $Hor.0)
         |           / (CASE WHEN s.se_num = 0 THEN 1.0
         |                   ELSE CAST(s.se_num AS DOUBLE) / CAST($Ctx - s.m AS DOUBLE) END) AS mase_w
         |  FROM perwin pw JOIN sen s ON s.doc_id = pw.doc_id AND s.w = pw.w)
         |SELECT source, CAST(m AS INT) AS m, count(*) AS n_windows,
         |       CAST(sum(CAST(floor(mase_w * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS mase_q_sum,
         |       CAST(sum(CAST(floor(mase_w * 1000000 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0
         |         / CAST(count(*) AS DOUBLE) AS mase
         |FROM wvals GROUP BY 1, 2""".stripMargin,
    "q_eval_nll" ->
      s"""$HorPtsCte,
         |sq AS (
         |  SELECT w.doc_id, w.w,
         |         CAST(sum(CAST(p.tok AS BIGINT) * p.tok) AS BIGINT) AS ctx_sumsq
         |  FROM wins w JOIN pts p
         |    ON p.doc_id = w.doc_id AND p.pos >= w.fs - $Ctx AND p.pos < w.fs
         |  GROUP BY 1, 2),
         |wv AS (
         |  SELECT c.doc_id, c.w,
         |         CAST(c.ctx_sum AS DOUBLE) / $Ctx.0 AS mu,
         |         CASE WHEN $Ctx * s.ctx_sumsq - c.ctx_sum * c.ctx_sum = 0 THEN 1.0
         |              ELSE CAST($Ctx * s.ctx_sumsq - c.ctx_sum * c.ctx_sum AS DOUBLE)
         |                   / ${Ctx * (Ctx - 1)}.0 END AS v
         |  FROM ctxagg c JOIN sq s ON s.doc_id = c.doc_id AND s.w = c.w),
         |terms AS (
         |  SELECT hp.source,
         |         0.5 * ln(2 * pi() * wv.v)
         |           + (CAST(hp.y AS DOUBLE) - wv.mu) * (CAST(hp.y AS DOUBLE) - wv.mu)
         |             / (2 * wv.v) AS term
         |  FROM hp JOIN wv ON wv.doc_id = hp.doc_id AND wv.w = hp.w)
         |SELECT source, count(*) AS n_points,
         |       CAST(sum(CAST(floor((term) * 1000000 + 0.5) AS BIGINT)) AS BIGINT)
         |         AS nll_q_sum,
         |       CAST(sum(CAST(floor((term) * 1000000 + 0.5) AS BIGINT)) AS DOUBLE)
         |         / 1000000.0 / CAST(count(*) AS DOUBLE) AS nll
         |FROM terms GROUP BY 1""".stripMargin,
    "q_eval_msis" ->
      s"""${EvalQueries.WinCte},
         |cr AS (
         |  SELECT w.doc_id, w.w, p.tok,
         |         row_number() OVER (PARTITION BY w.doc_id, w.w ORDER BY p.tok) AS rn
         |  FROM wins w JOIN pts p
         |    ON p.doc_id = w.doc_id AND p.pos >= w.fs - $Ctx AND p.pos < w.fs),
         |iv AS (
         |  SELECT doc_id, w,
         |         max(CASE WHEN rn = 2 THEN tok END) AS lo,
         |         max(CASE WHEN rn = 63 THEN tok END) AS hi
         |  FROM cr GROUP BY 1, 2),
         |sen AS (
         |  SELECT w.doc_id, w.w, CAST(sum(abs(p1.tok - p2.tok)) AS BIGINT) AS se_num
         |  FROM wins w
         |  JOIN pts p1 ON p1.doc_id = w.doc_id
         |              AND p1.pos >= w.fs - ${Ctx - Season} AND p1.pos < w.fs
         |  JOIN pts p2 ON p2.doc_id = w.doc_id AND p2.pos = p1.pos - $Season
         |  GROUP BY 1, 2),
         |pw AS (
         |  SELECT w.source, w.doc_id, w.w,
         |         CAST(sum((i.hi - i.lo)
         |           + CASE WHEN p.tok < i.lo THEN 40 * (i.lo - p.tok) ELSE 0 END
         |           + CASE WHEN p.tok > i.hi THEN 40 * (p.tok - i.hi) ELSE 0 END) AS BIGINT)
         |           AS terms
         |  FROM wins w
         |  JOIN iv i ON i.doc_id = w.doc_id AND i.w = w.w
         |  JOIN pts p ON p.doc_id = w.doc_id
         |             AND p.pos >= w.fs AND p.pos < w.fs + $Hor
         |  GROUP BY 1, 2, 3),
         |wv AS (
         |  SELECT pw.source,
         |         (CAST(pw.terms AS DOUBLE) / $Hor.0)
         |           / (CASE WHEN s.se_num = 0 THEN 1.0
         |                   ELSE CAST(s.se_num AS DOUBLE) / ${Ctx - Season}.0 END) AS msis_w
         |  FROM pw JOIN sen s ON s.doc_id = pw.doc_id AND s.w = pw.w)
         |SELECT source, count(*) AS n_windows,
         |       CAST(sum(CAST(floor(msis_w * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS msis_q_sum,
         |       CAST(sum(CAST(floor(msis_w * 1000000 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0
         |         / CAST(count(*) AS DOUBLE) AS msis
         |FROM wv GROUP BY 1""".stripMargin,
    "q_eval_msis_freq" ->
      s"""${EvalQueries.WinCte},
         |srcm AS (
         |  SELECT DISTINCT source,
         |         CASE WHEN $SrcParitySql THEN $MEven ELSE $MOdd END AS m
         |  FROM pts),
         |cr AS (
         |  SELECT w.doc_id, w.w, p.tok,
         |         row_number() OVER (PARTITION BY w.doc_id, w.w ORDER BY p.tok) AS rn
         |  FROM wins w JOIN pts p
         |    ON p.doc_id = w.doc_id AND p.pos >= w.fs - $Ctx AND p.pos < w.fs),
         |iv AS (
         |  SELECT doc_id, w,
         |         max(CASE WHEN rn = 2 THEN tok END) AS lo,
         |         max(CASE WHEN rn = 63 THEN tok END) AS hi
         |  FROM cr GROUP BY 1, 2),
         |sen AS (
         |  SELECT w.doc_id, w.w, sm.m,
         |         CAST(sum(abs(p1.tok - p2.tok)) AS BIGINT) AS se_num
         |  FROM wins w
         |  JOIN srcm sm ON sm.source = w.source
         |  JOIN pts p1 ON p1.doc_id = w.doc_id
         |              AND p1.pos >= w.fs - ($Ctx - sm.m) AND p1.pos < w.fs
         |  JOIN pts p2 ON p2.doc_id = w.doc_id AND p2.pos = p1.pos - sm.m
         |  GROUP BY 1, 2, 3),
         |pw AS (
         |  SELECT w.source, w.doc_id, w.w,
         |         CAST(sum((i.hi - i.lo)
         |           + CASE WHEN p.tok < i.lo THEN 40 * (i.lo - p.tok) ELSE 0 END
         |           + CASE WHEN p.tok > i.hi THEN 40 * (p.tok - i.hi) ELSE 0 END) AS BIGINT)
         |           AS terms
         |  FROM wins w
         |  JOIN iv i ON i.doc_id = w.doc_id AND i.w = w.w
         |  JOIN pts p ON p.doc_id = w.doc_id
         |             AND p.pos >= w.fs AND p.pos < w.fs + $Hor
         |  GROUP BY 1, 2, 3),
         |wv AS (
         |  SELECT pw.source, s.m,
         |         (CAST(pw.terms AS DOUBLE) / $Hor.0)
         |           / (CASE WHEN s.se_num = 0 THEN 1.0
         |                   ELSE CAST(s.se_num AS DOUBLE) / CAST($Ctx - s.m AS DOUBLE) END) AS msis_w
         |  FROM pw JOIN sen s ON s.doc_id = pw.doc_id AND s.w = pw.w)
         |SELECT source, CAST(m AS INT) AS m, count(*) AS n_windows,
         |       CAST(sum(CAST(floor(msis_w * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS msis_q_sum,
         |       CAST(sum(CAST(floor(msis_w * 1000000 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0
         |         / CAST(count(*) AS DOUBLE) AS msis
         |FROM wv GROUP BY 1, 2""".stripMargin,
    "q_eval_extra" ->
      s"""$HorPtsCte,
         |cr AS (
         |  SELECT w.doc_id, w.w, p.tok,
         |         row_number() OVER (PARTITION BY w.doc_id, w.w ORDER BY p.tok) AS rn
         |  FROM wins w JOIN pts p
         |    ON p.doc_id = w.doc_id AND p.pos >= w.fs - $Ctx AND p.pos < w.fs),
         |md AS (
         |  SELECT doc_id, w, max(CASE WHEN rn = ${Ctx / 2} THEN tok END) AS med
         |  FROM cr GROUP BY 1, 2),
         |hp2 AS (
         |  SELECT hp.source, hp.doc_id, hp.w, hp.y, hp.naive, m.med
         |  FROM hp JOIN md m ON m.doc_id = hp.doc_id AND m.w = hp.w),
         |base AS (
         |  SELECT source, count(*) AS n_points,
         |         CAST(sum(abs(y)) AS BIGINT) AS sum_abs_y,
         |         CAST(sum(${tqSql("abs(CAST(y AS DOUBLE) - naive)")}) AS BIGINT) AS nd_q_sum,
         |         CAST(sum(CAST(y - med AS BIGINT) * (y - med)) AS BIGINT) AS med_se_sum
         |  FROM hp2 GROUP BY 1),
         |lv AS (SELECT unnest(range(1, 10)) AS q_decile),
         |pins AS (
         |  SELECT h.source,
         |         CAST(sum(${tqSql(
          "CASE WHEN h.y > c.tok THEN (CAST(l.q_decile AS DOUBLE) / 10.0) * CAST(h.y - c.tok AS DOUBLE) " +
            "ELSE (1.0 - CAST(l.q_decile AS DOUBLE) / 10.0) * CAST(c.tok - h.y AS DOUBLE) END")})
         |           AS BIGINT) AS pinball_all_q
         |  FROM hp2 h
         |  JOIN lv l ON TRUE
         |  JOIN cr c ON c.doc_id = h.doc_id AND c.w = h.w
         |           AND c.rn = ($Ctx * l.q_decile + 9) // 10
         |  GROUP BY 1)
         |SELECT b.source, b.n_points, b.sum_abs_y, b.nd_q_sum, b.med_se_sum, p.pinball_all_q,
         |       (CAST(b.nd_q_sum AS DOUBLE) / 10000.0)
         |         / (CASE WHEN b.sum_abs_y = 0 THEN 1.0 ELSE CAST(b.sum_abs_y AS DOUBLE) END) AS nd,
         |       2.0 * (CAST(p.pinball_all_q AS DOUBLE) / 10000.0)
         |         / (9.0 * CASE WHEN b.sum_abs_y = 0 THEN 1.0 ELSE CAST(b.sum_abs_y AS DOUBLE) END)
         |         AS mean_wql,
         |       CAST(b.med_se_sum AS DOUBLE) / CAST(b.n_points AS DOUBLE) AS median_mse
         |FROM base b JOIN pins p ON p.source = b.source""".stripMargin,
    "q_masked_prediction" ->
      s"""${EvalQueries.WinCte}
         |SELECT CAST(w.doc_id AS VARCHAR) AS doc_id, w.source, w.w,
         |       p.pos, p.tok,
         |       p.pos >= w.fs AS prediction_mask,
         |       TRUE AS observed_mask
         |FROM wins w
         |JOIN pts p ON p.doc_id = w.doc_id
         |           AND p.pos >= w.fs - $Ctx AND p.pos < w.fs + $Hor""".stripMargin
  )
}
