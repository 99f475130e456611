package graft.queries

import graft.core.Tier
import graft.functions.GraftFunctions.call
import graft.operators.{GapFill, Rollup}
import graft.sources.{LsfCsv, Parquet, TokenTable}
import org.apache.spark.SparkFiles
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Stat/operator queries: causal-mean + constant gap-fill, median/argmax per group,
 * series pivot (stacking), abs-mean scaler, weighted sampling, patch-level
 * preconditioning, CSV ingestion. Every oracle keeps the exact-arithmetic
 * discipline (integer sums; doubles only as final fixed expressions). */
object StatQueries {

  private def points1m(s: SparkSession, dir: String): DataFrame =
    Rollup.rollupFromPoints(TokenTable.points(s, dir), Tier.OneMinute)

  /** Shared patch scaffold for the per-patch precondition queries: one row
   * per (doc, width-64 patch) with the patch values as doubles. */
  private def patchVals(s: SparkSession, dir: String): DataFrame = {
    TokenTable
      .raw(s, dir)
      .select(
        col("doc_id"),
        col("tokens"),
        explode(sequence(lit(0), expr("(n_tok - 1) DIV 64"))).as("patch_idx"))
      .withColumn("patch", expr("slice(tokens, patch_idx * 64 + 1, 64)"))
      .withColumn("vals", expr("CAST(patch AS array<double>)"))
  }

  val q: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Causal-mean gap-fill (CausalMeanImputation, imputation.py:65-108):
    // same gap pattern as q_gapfill_tier (every 4th window dropped at the
    // source), missing windows imputed with the running observed mean.
    "q_gapfill_causal" -> ((s, dir) => {
      val sparse = TokenTable
        .points(s, dir)
        .filter(expr("(pos div 60) % 4 != 0"))
      val obs = Rollup
        .rollupFromPoints(sparse, Tier.OneMinute)
        .select("source", "bucket", "window_start", "sum_tok", "cnt_tok")
      GapFill
        .gapFillCausalMean(
          obs,
          keys = Seq("source", "bucket"),
          windowCol = "window_start",
          width = 60L,
          sumCol = "sum_tok",
          cntCol = "cnt_tok")
        .select("source", "bucket", "window_start", "cnt_tok", "avg_filled")
    }),

    // Constant-value imputation (DummyValueImputation, imputation.py:32-40,
    // the reference's training default): same gap pattern, every missing
    // window takes the fixed dummy (0) — no history carried.
    "q_gapfill_const" -> ((s, dir) => {
      val sparse = TokenTable
        .points(s, dir)
        .filter(expr("(pos div 60) % 4 != 0"))
      val obs = Rollup
        .rollupFromPoints(sparse, Tier.OneMinute)
        .select("source", "bucket", "window_start", "sum_tok", "cnt_tok")
      val spine =
        GapFill.denseSpine(obs, Seq("source", "bucket"), "window_start", 60L)
      GapFill
        .fillConstant(
          spine.join(obs, Seq("source", "bucket", "window_start"), "left"),
          Seq("sum_tok", "cnt_tok"),
          lit(0L))
        .select("source", "bucket", "window_start", "sum_tok", "cnt_tok")
    }),

    // Median + argmax per group (reference: median-of-samples point
    // forecast, pretrain.py:440; per-group argmin selection,
    // forecast.py:255-333). Median is computed from explicit order
    // statistics — rank (n+1)/2 and n/2+1 — so the even-count interpolation
    // is one fixed double expression in both engines (built-in percentile
    // interpolation formulas differ across engines); the argmax carries a
    // full deterministic tie-break ordering.
    "q_median_argmax" -> ((s, dir) => {
      val t = points1m(s, dir).select("source", "bucket", "window_start", "sum_tok")
      val byVal = Window
        .partitionBy(col("source"), col("bucket"))
        .orderBy(col("sum_tok"), col("window_start"))
      val byDesc = Window
        .partitionBy(col("source"), col("bucket"))
        .orderBy(col("sum_tok").desc, col("window_start"))
      val pk = Window.partitionBy(col("source"), col("bucket"))
      t.withColumn("rn", row_number().over(byVal))
        .withColumn("rd", row_number().over(byDesc))
        .withColumn("n", count(lit(1)).over(pk))
        .groupBy(col("source"), col("bucket"))
        .agg(
          max(col("n")).as("n_windows"),
          max(when(expr("rn = CAST((n + 1) DIV 2 AS INT)"), col("sum_tok"))).as("_med_lo"),
          max(when(expr("rn = CAST(n DIV 2 + 1 AS INT)"), col("sum_tok"))).as("_med_hi"),
          max(when(col("rd") === 1, col("window_start"))).as("peak_window"),
          max(when(col("rd") === 1, col("sum_tok"))).as("peak_sum"))
        .withColumn(
          "median_sum",
          (col("_med_lo") + col("_med_hi")).cast("double") / 2.0)
        .drop("_med_lo", "_med_hi")
    }),

    // Series stacking / pivot (MultiSampleTimeSeriesDataset,
    // data/dataset.py:127-182): the 1h tier pivoted to one column per
    // source. The pivot value list is EXPLICIT — no extra collect-distinct
    // pass over the data (which at 100 TB would be a full scan).
    "q_pivot_sources" -> ((s, dir) =>
      Rollup
        .rollupFromPoints(TokenTable.points(s, dir), Tier.OneHour)
        .groupBy(col("bucket"), col("window_start"))
        .pivot("source", TokenTable.FixtureSources)
        .agg(sum(col("sum_tok")))),

    // PackedAbsMeanScaler (packed_scaler.py:125-155): per-series mean |x|
    // over the preconditioned values (which, unlike raw tokens, go
    // negative — the scaler's abs() is load-bearing).
    "q_scaler_absmean" -> ((s, dir) => {
      TokenTable
        .raw(s, dir)
        .withColumn("vals", expr("CAST(tokens AS array<double>)"))
        .withColumn("f", call("precond_forward", col("vals"), lit(4), lit("chebyshev")))
        .select(
          col("doc_id"),
          col("source"),
          call("arr_abs_sum_q", col("f"), lit(1000L)).as("absq"),
          size(col("f")).as("n"))
        .withColumn("abs_mean", expr("CAST(absq AS DOUBLE) / 1000.0 / CAST(n AS DOUBLE)"))
    }),

    // Weighted sampling (data/dataset.py:68-75 sample_time_series /
    // dataset_weight): deterministic length-proportional Bernoulli sample —
    // doc kept iff hash(doc_id) mod 1000 < n_chars/2, i.e. keep probability
    // proportional to series length, reproducible at any parallelism.
    "q_weighted_sample" -> ((s, dir) =>
      Parquet
        .read(s, s"$dir/documents.parquet")
        .select(col("doc_id").cast("bigint").as("doc_id"), col("source"), col("n_chars"))
        .withColumn("h", expr(graft.sources.UnionBuilder.permilleBucketSql("doc_id")))
        .filter(col("h") < expr("n_chars DIV 2"))
        .select(col("doc_id"), col("source"), col("n_chars").cast("int").as("n_chars"), col("h"))),

    // Patch-level preconditioning (PatchPolynomialPrecondition,
    // transform/patch_precondition.py:26-305): the forward convolution
    // applied independently per width-64 patch — the per-patch boundary
    // reset (positions < degree inside EACH patch stay identity) is the
    // semantics the whole-array variant cannot express.
    "q_precond_patch" -> ((s, dir) =>
      patchVals(s, dir)
        .withColumn("f", call("precond_forward", col("vals"), lit(4), lit("chebyshev")))
        .select(
          col("doc_id"),
          col("patch_idx"),
          size(col("f")).as("patch_len"),
          call("arr_sum_q", col("f"), lit(1000L)).as("sum_q"))),

    // Per-patch REVERSE precondition round-trip (PatchReversePrecondition,
    // transform/patch_precondition.py:222-305): forward-then-reverse inside
    // EACH width-64 patch restores the original patch exactly (the
    // per-patch boundary reset makes every patch self-contained, so no
    // context buffer is needed — that cross-boundary case is
    // q_precond_window_roundtrip).
    "q_precond_patch_roundtrip" -> ((s, dir) =>
      patchVals(s, dir)
        .withColumn(
          "r",
          call(
            "precond_reverse",
            call("precond_forward", col("vals"), lit(4), lit("chebyshev")),
            lit(4),
            lit("chebyshev")))
        .select(
          col("doc_id"),
          col("patch_idx"),
          size(col("r")).as("patch_len"),
          call("arr_sum_q", col("r"), lit(1000L)).as("sum_q"))),

    // PackFields / FlatPackCollection / SequencifyField
    // (transform/reshape.py:26-123): patches flattened back to the token
    // axis, packed with the position field along the variate axis, and a
    // scalar broadcast to a sequence — all row-local, checksummed exactly.
    "q_pack_fields" -> ((s, dir) => {
      TokenTable
        .raw(s, dir)
        .withColumn("patches", call("arr_chunk", col("tokens"), lit(64)))
        .transform(d => graft.operators.Reshape.flatPack(d, "patches", "flat"))
        // AddTimeIndex's position field is just the integer range — no
        // identity lambda needed (sequence() is a codegen'd builtin)
        .withColumn("positions", expr("sequence(0, n_tok - 1)"))
        .transform(d => graft.operators.Reshape.packFields(d, Seq("flat", "positions"), "packed"))
        .transform(d => graft.operators.Reshape.sequencify(d, "n_tok", 3, "rep"))
        .select(
          col("doc_id"),
          size(col("packed")).as("packed_len"),
          call("arr_sum", col("packed")).as("packed_sum"),
          expr("element_at(packed, 1)").as("first_v"),
          expr("element_at(packed, -1)").as("last_v"),
          call("arr_sum", col("rep")).as("rep_sum"))
    }),

    // SampleDimension (transform/resample.py:29-66): subsample each
    // vector's variates to a budget — deterministically (hash of
    // (dim, vec_id)) instead of np.random, so the sample reproduces at any
    // parallelism; ~1/4 of the 64 dims survive.
    "q_sample_dimension" -> ((s, dir) =>
      Parquet
        .read(s, s"$dir/embeddings.parquet")
        .select(col("vec_id"), col("label"), posexplode(col("embedding")).as(Seq("d", "x")))
        .filter(expr("pmod(d * 2654435761L + vec_id, 4) = 0"))
        .groupBy(col("vec_id"), col("label"))
        .agg(
          count(lit(1)).as("n_kept"),
          sum(expr("CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)")).as("sum_q"))),

    // CSV ingestion (LSF loaders, _lsf_dataset.py:9-196): documents
    // metadata exported to CSV, read back with a DECLARED schema in mode
    // "M", then the loader's train-stat normalization as exact ppm weights.
    "q_csv_lsf" -> ((s, dir) => {
      // under the SparkContext's own temp dir, which SparkEnv.stop deletes:
      // two concurrent runs (Verify + Bench) never share the path
      val out = s"${SparkFiles.getRootDirectory()}/graft_csv_${new java.io.File(dir).getName}"
      LsfCsv.writeCsv(s, dir, out)
      LsfCsv
        .read(s, out, "M")
        .withColumn("sum_chars", sum(col("n_chars")).over(Window.partitionBy(col("source"))))
        .withColumn("w_ppm", expr("n_chars * 1000000 DIV sum_chars"))
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          max(col("sum_chars")).as("sum_chars"),
          sum(col("w_ppm")).as("norm_ppm_sum"))
    })
  )

  val oracle: Map[String, String] = Map(
    "q_gapfill_causal" ->
      s"""${TokenRollupQueries.PtsCte},
         |obs AS (
         |  SELECT source, CAST(pos // 64 AS INT) AS bucket,
         |         CAST((pos // 60) * 60 AS INT) AS window_start,
         |         CAST(sum(tok) AS BIGINT) AS sum_tok, count(*) AS cnt_tok
         |  FROM pts WHERE (pos // 60) % 4 <> 0 GROUP BY 1, 2, 3),
         |spine AS (
         |  SELECT source, bucket, CAST(t.w AS INT) AS window_start
         |  FROM (SELECT source, bucket, min(window_start) AS w0,
         |               max(window_start) AS w1 FROM obs GROUP BY 1, 2) b,
         |       LATERAL (SELECT unnest(range(b.w0, b.w1 + 1, 60)) AS w) t),
         |j AS (
         |  SELECT s.source, s.bucket, s.window_start, o.sum_tok, o.cnt_tok,
         |         SUM(o.sum_tok) OVER (PARTITION BY s.source, s.bucket
         |           ORDER BY s.window_start
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cs,
         |         SUM(o.cnt_tok) OVER (PARTITION BY s.source, s.bucket
         |           ORDER BY s.window_start
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cc
         |  FROM spine s LEFT JOIN obs o USING (source, bucket, window_start))
         |SELECT source, bucket, window_start,
         |       COALESCE(cnt_tok, 0) AS cnt_tok,
         |       CASE WHEN cnt_tok IS NOT NULL
         |            THEN CAST(sum_tok AS DOUBLE) / CAST(cnt_tok AS DOUBLE)
         |            ELSE CAST(cs AS DOUBLE) / CAST(cc AS DOUBLE) END AS avg_filled
         |FROM j""".stripMargin,
    "q_gapfill_const" ->
      s"""${TokenRollupQueries.PtsCte},
         |obs AS (
         |  SELECT source, CAST(pos // 64 AS INT) AS bucket,
         |         CAST((pos // 60) * 60 AS INT) AS window_start,
         |         CAST(sum(tok) AS BIGINT) AS sum_tok, count(*) AS cnt_tok
         |  FROM pts WHERE (pos // 60) % 4 <> 0 GROUP BY 1, 2, 3),
         |spine AS (
         |  SELECT source, bucket, CAST(t.w AS INT) AS window_start
         |  FROM (SELECT source, bucket, min(window_start) AS w0,
         |               max(window_start) AS w1 FROM obs GROUP BY 1, 2) b,
         |       LATERAL (SELECT unnest(range(b.w0, b.w1 + 1, 60)) AS w) t)
         |SELECT s.source, s.bucket, s.window_start,
         |       COALESCE(o.sum_tok, 0) AS sum_tok,
         |       COALESCE(o.cnt_tok, 0) AS cnt_tok
         |FROM spine s LEFT JOIN obs o USING (source, bucket, window_start)""".stripMargin,
    "q_median_argmax" ->
      s"""${TokenRollupQueries.PtsCte},
         |t AS (
         |  SELECT source, CAST(pos // 64 AS INT) AS bucket,
         |         CAST((pos // 60) * 60 AS INT) AS window_start,
         |         CAST(sum(tok) AS BIGINT) AS sum_tok
         |  FROM pts GROUP BY 1, 2, 3),
         |r AS (
         |  SELECT *,
         |    row_number() OVER (PARTITION BY source, bucket
         |      ORDER BY sum_tok, window_start) AS rn,
         |    row_number() OVER (PARTITION BY source, bucket
         |      ORDER BY sum_tok DESC, window_start) AS rd,
         |    count(*) OVER (PARTITION BY source, bucket) AS n
         |  FROM t)
         |SELECT source, bucket, max(n) AS n_windows,
         |       max(CASE WHEN rd = 1 THEN window_start END) AS peak_window,
         |       max(CASE WHEN rd = 1 THEN sum_tok END) AS peak_sum,
         |       CAST(max(CASE WHEN rn = (n + 1) // 2 THEN sum_tok END)
         |            + max(CASE WHEN rn = n // 2 + 1 THEN sum_tok END) AS DOUBLE) / 2.0
         |         AS median_sum
         |FROM r GROUP BY 1, 2""".stripMargin,
    "q_pivot_sources" ->
      s"""${TokenRollupQueries.PtsCte},
         |t AS (
         |  SELECT source, CAST(pos // 64 AS INT) AS bucket,
         |         CAST((pos // 3600) * 3600 AS INT) AS window_start,
         |         CAST(sum(tok) AS BIGINT) AS sum_tok
         |  FROM pts GROUP BY 1, 2, 3)
         |SELECT bucket, window_start,
         |${TokenTable.FixtureSources
          .map(n => s"       CAST(sum(CASE WHEN source = '$n' THEN sum_tok END) AS BIGINT) AS $n")
          .mkString(",\n")}
         |FROM t GROUP BY 1, 2""".stripMargin,
    "q_scaler_absmean" ->
      s"""${TokenRollupQueries.PtsCte},
         |f AS (
         |  SELECT doc_id, source,
         |         CASE WHEN pos >= 4 THEN
         |           CAST(tok AS DOUBLE) +
         |           (0.0 * CAST(lag(tok, 1) OVER w AS DOUBLE)
         |            + (-1.0) * CAST(lag(tok, 2) OVER w AS DOUBLE)
         |            + 0.0 * CAST(lag(tok, 3) OVER w AS DOUBLE)
         |            + 0.125 * CAST(lag(tok, 4) OVER w AS DOUBLE))
         |         ELSE CAST(tok AS DOUBLE) END AS y
         |  FROM pts
         |  WINDOW w AS (PARTITION BY doc_id ORDER BY pos))
         |SELECT CAST(doc_id AS VARCHAR) AS doc_id, source,
         |       CAST(sum(CAST(floor(abs(y) * 1000 + 0.5) AS BIGINT)) AS BIGINT) AS absq,
         |       CAST(count(*) AS INT) AS n,
         |       CAST(sum(CAST(floor(abs(y) * 1000 + 0.5) AS BIGINT)) AS DOUBLE) / 1000.0
         |         / CAST(count(*) AS DOUBLE) AS abs_mean
         |FROM f GROUP BY 1, 2""".stripMargin,
    "q_weighted_sample" ->
      """SELECT doc_id, source, CAST(n_chars AS INT) AS n_chars,
        |       ((((doc_id % 1000000007) * 2654435761) % 1000000007 + 1000000007) % 1000000007) % 1000 AS h
        |FROM documents
        |WHERE ((((doc_id % 1000000007) * 2654435761) % 1000000007 + 1000000007) % 1000000007) % 1000 < n_chars // 2""".stripMargin,
    "q_precond_patch" ->
      s"""${TokenRollupQueries.PtsCte},
         |f AS (
         |  SELECT doc_id, CAST(pos // 64 AS INT) AS patch_idx,
         |         CASE WHEN pos % 64 >= 4 THEN
         |           CAST(tok AS DOUBLE) +
         |           (0.0 * CAST(lag(tok, 1) OVER w AS DOUBLE)
         |            + (-1.0) * CAST(lag(tok, 2) OVER w AS DOUBLE)
         |            + 0.0 * CAST(lag(tok, 3) OVER w AS DOUBLE)
         |            + 0.125 * CAST(lag(tok, 4) OVER w AS DOUBLE))
         |         ELSE CAST(tok AS DOUBLE) END AS y
         |  FROM pts
         |  WINDOW w AS (PARTITION BY doc_id, pos // 64 ORDER BY pos))
         |SELECT CAST(doc_id AS VARCHAR) AS doc_id, patch_idx,
         |       CAST(count(*) AS INT) AS patch_len,
         |       CAST(sum(CAST(floor(y * 1000 + 0.5) AS BIGINT)) AS BIGINT) AS sum_q
         |FROM f GROUP BY 1, 2""".stripMargin,
    // per-patch forward∘reverse is exactly the raw patch: the oracle never
    // sees the transform, only the per-patch token sum
    "q_precond_patch_roundtrip" ->
      s"""${TokenRollupQueries.PtsCte}
         |SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         |       CAST(pos // 64 AS INT) AS patch_idx,
         |       CAST(count(*) AS INT) AS patch_len,
         |       CAST(sum(tok) * 1000 AS BIGINT) AS sum_q
         |FROM pts GROUP BY 1, 2""".stripMargin,
    "q_sample_dimension" ->
      """WITH e AS (
        |  SELECT vec_id, label, CAST(t.i AS INT) - 1 AS d,
        |         CAST(emb[t.i] AS DOUBLE) AS x
        |  FROM (SELECT vec_id, label, embedding AS emb FROM embeddings),
        |       LATERAL (SELECT unnest(range(1, len(emb) + 1)) AS i) t)
        |SELECT vec_id, label, count(*) AS n_kept,
        |       CAST(sum(CAST(floor(x * 1000 + 0.5) AS BIGINT)) AS BIGINT) AS sum_q
        |FROM e
        |WHERE (d * 2654435761 + vec_id) % 4 = 0
        |GROUP BY 1, 2""".stripMargin,
    "q_pack_fields" ->
      s"""${TokenRollupQueries.PtsCte}
         |SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         |       CAST(2 * count(*) AS INT) AS packed_len,
         |       CAST(sum(tok) + sum(pos) AS BIGINT) AS packed_sum,
         |       CAST(min(CASE WHEN pos = 0 THEN tok END) AS INT) AS first_v,
         |       CAST(count(*) - 1 AS INT) AS last_v,
         |       CAST(3 * count(*) AS BIGINT) AS rep_sum
         |FROM pts GROUP BY 1""".stripMargin,
    "q_csv_lsf" ->
      """WITH d AS (
        |  SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars,
        |         CAST(sum(n_chars) OVER (PARTITION BY source) AS BIGINT) AS sum_chars
        |  FROM documents)
        |SELECT source, count(*) AS n_docs, max(sum_chars) AS sum_chars,
        |       CAST(sum(n_chars * 1000000 // sum_chars) AS BIGINT) AS norm_ppm_sum
        |FROM d GROUP BY 1""".stripMargin
  )
}
