package graft.queries

import graft.core.Tier
import graft.functions.GraftFunctions.call
import graft.operators.{Retention, Rollup, SeriesAnalytics, Sketches}
import graft.sources.TokenTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Queries over the north-rule token table: raw tier invariant + the
 * retention-tier rollup ladder. All oracles are exact-integer arithmetic. */
object TokenRollupQueries {

  /** The deterministic token-point CTE — must stay in lockstep with
   * [[TokenTable.points]]. */
  val PtsCte: String =
    """WITH pts AS (
      |  SELECT d.doc_id AS doc_id, d.source AS source,
      |         CAST(t.p AS INT) AS pos,
      |         CAST(((d.doc_id + 1) * 2654435761 + t.p * 40503) % 50257 AS INT) AS tok
      |  FROM documents d, LATERAL (SELECT unnest(range(0, d.n_chars)) AS p) t
      |)""".stripMargin

  private def tierOracle(tier: String, w: Int): String =
    s"""$PtsCte,
       |agg AS (
       |  SELECT source, CAST(pos // 64 AS INT) AS bucket, '$tier' AS tier,
       |         CAST((pos // $w) * $w AS INT) AS window_start,
       |         min(tok) AS min_tok, max(tok) AS max_tok,
       |         CAST(sum(tok) AS BIGINT) AS sum_tok, count(*) AS cnt_tok,
       |         CAST(sum(CAST(tok AS BIGINT) * tok) AS BIGINT) AS sumsq_tok
       |  FROM pts GROUP BY 1, 2, 3, 4)
       |SELECT source, bucket, tier, window_start, min_tok, max_tok, sum_tok, cnt_tok,
       |       CAST(sum_tok AS DOUBLE) / CAST(cnt_tok AS DOUBLE) AS avg_tok,
       |       sumsq_tok,
       |       CASE WHEN cnt_tok > 1 THEN
       |         (CAST(sumsq_tok AS DOUBLE) - CAST(sum_tok AS DOUBLE) * CAST(sum_tok AS DOUBLE)
       |          / CAST(cnt_tok AS DOUBLE)) / CAST(cnt_tok - 1 AS DOUBLE)
       |       ELSE NULL END AS var_tok
       |FROM agg""".stripMargin

  /** The deterministic late slice shared by q_rollup_late and
   * q_rollup_late_1h — the SAME delta must reach every tier, or the
   * "each tier absorbs the identical delta" claim silently desyncs. */
  private val LateCond =
    "(pos DIV 60) % 11 = 7 OR ((pos DIV 60) % 5 = 0 AND pos % 60 < 30)"

  val q: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Raw tier + per-row token-array-equality invariant (as an exact
    // checksum: sum / first / last over the materialized array).
    "q_raw_tokens" -> ((s, dir) => {
      TokenTable
        .raw(s, dir)
        .select(
          col("doc_id"),
          col("source"),
          col("n_tok"),
          call("arr_sum", col("tokens")).as("tok_sum"),
          expr("element_at(tokens, 1)").as("tok_first"),
          expr("element_at(tokens, -1)").as("tok_last"))
    }),

    // Retention-tier rollups. 1m aggregates the raw point view; every
    // coarser tier REAGGREGATES the previous tier (the continuous-aggregate
    // cascade), while the oracle recomputes from raw points — so a hash
    // match also proves cascade consistency (FIXTURES.md §4).
    "q_rollup_1m" -> ((s, dir) =>
      Rollup.rollupFromPoints(TokenTable.points(s, dir), Tier.OneMinute)),
    "q_rollup_5m" -> ((s, dir) =>
      Rollup.reaggregate(
        Rollup.rollupFromPoints(TokenTable.points(s, dir), Tier.OneMinute),
        Tier.FiveMinutes)),
    "q_rollup_1h" -> ((s, dir) =>
      Rollup.ladder(TokenTable.points(s, dir))(Tier.OneHour)),

    // Incremental late-data reconciliation: the 1m tier is built WITHOUT
    // a deterministic "late" slice (entirely-late windows + half-late
    // windows), then mergeLate folds the slice back in: one re-merge of
    // the tier with the slice's state, never re-reading the on-time
    // points. The oracle is the FULL recompute over all points — a hash
    // match proves the incremental path bit-equals it.
    "q_rollup_late" -> ((s, dir) => {
      val pts = TokenTable.points(s, dir)
      val lateCond = expr(LateCond)
      val onTimeTier = Rollup.rollupFromPoints(pts.filter(!lateCond), Tier.OneMinute)
      Rollup.mergeLate(onTimeTier, pts.filter(lateCond), Tier.OneMinute)
    }),
    "q_rollup_1d" -> ((s, dir) =>
      Rollup.ladder(TokenTable.points(s, dir))(Tier.OneDay)),

    // The same late slice merged at a COARSER tier: every tier of the
    // ladder absorbs the identical delta independently (the merge is an
    // exact reaggregation at any width), so a lagging cascade never
    // needs the finer tier to catch up first. Oracle: full 1h recompute.
    "q_rollup_late_1h" -> ((s, dir) => {
      val pts = TokenTable.points(s, dir)
      val lateCond = expr(LateCond)
      val onTime1h = Rollup.reaggregate(
        Rollup.rollupFromPoints(pts.filter(!lateCond), Tier.OneMinute),
        Tier.OneHour)
      Rollup.mergeLate(onTime1h, pts.filter(lateCond), Tier.OneHour)
    }),

    // Fused single-buffer tier aggregate (tier_stats_decl, codegen
    // DeclarativeAggregate; SURVEY.md §4 custom item 2): one buffer computes
    // min/max/sum/count and a 128-bit-exact sum of squares per (source,
    // bucket) — the unbounded-group-size path for the variance statistic.
    "q_rollup_stats" -> ((s, dir) => {
      TokenTable
        .points(s, dir)
        .groupBy(
          col("source"),
          Tier.bucket)
        .agg(call("tier_stats_decl", col("tok")).as("st"))
        .select(
          col("source"),
          col("bucket"),
          col("st.min_tok").as("min_tok"),
          col("st.max_tok").as("max_tok"),
          col("st.sum_tok").as("sum_tok"),
          col("st.cnt_tok").as("cnt_tok"),
          // The aggregate's 128-bit-exact DECIMAL(38,0) accumulator stays
          // internal; the emitted column is BIGINT (fits by orders of
          // magnitude at oracle scale, and hashes identically on both
          // engines — DECIMAL output was the round-2 hash-gate failure).
          col("st.sumsq_tok").cast("long").as("sumsq_tok"))
    }),

    // Patchify (uni2ts transform/patch.py:123-159): per-doc reshape of the
    // token array into width-64 patches (last patch ragged), row-local
    // slice — no shuffle; stats checksummed per patch.
    "q_patchify" -> ((s, dir) => {
      TokenTable
        .raw(s, dir)
        .select(
          col("doc_id"),
          col("tokens"),
          explode(sequence(lit(0), expr("(n_tok - 1) DIV 64"))).as("patch_idx"))
        .withColumn("patch", expr("slice(tokens, patch_idx * 64 + 1, 64)"))
        .select(
          col("doc_id"),
          col("patch_idx"),
          size(col("patch")).as("patch_len"),
          expr("array_min(patch)").as("p_min"),
          expr("array_max(patch)").as("p_max"),
          call("arr_sum", col("patch")).as("p_sum"))
    }),

    // Retention enforcement, compact-then-expire (Retention.safeExpire):
    // the 1m tier expired at horizon 300 against a DELIBERATELY PARTIAL
    // 5m tier (built from sources < 'src5' only — a cascade that has not
    // caught up). Expired rows whose coarse coverage exists are dropped;
    // uncovered expired rows survive with retained_uncovered = true, so
    // the policy never loses data the ladder has not aggregated yet.
    "q_retention" -> ((s, dir) => {
      val t1m = Rollup.rollupFromPoints(TokenTable.points(s, dir), Tier.OneMinute)
      val coarse =
        Rollup.reaggregate(t1m.filter(col("source") < "src5"), Tier.FiveMinutes)
      Retention.safeExpire(t1m, coarse, Tier.FiveMinutes, 300L)
    }),

    // Retention across the FULL ladder (Retention.ladderExpire): three
    // chained compact-then-expire levels with per-tier horizons
    // (1m and 5m keep >= 240, 1h keeps everything — the sf-scaled stand-in
    // for '1m keeps a day, 5m a month'; 240 sits inside BOTH tiers' window
    // ranges so every branch fires: live, dropped-covered, and the flagged
    // uncovered survivors from the DELIBERATE coverage hole at EACH
    // level: the 5m tier aggregates only source < 'src5', the 1h tier
    // only source < 'src3').
    "q_retention_ladder" -> ((s, dir) => {
      val t1m = Rollup.rollupFromPoints(TokenTable.points(s, dir), Tier.OneMinute)
      val t5m = Rollup.reaggregate(t1m.filter(col("source") < "src5"), Tier.FiveMinutes)
      val t1h = Rollup.reaggregate(t5m.filter(col("source") < "src3"), Tier.OneHour)
      Retention.ladderExpire(
        Seq(t1m -> Tier.OneMinute, t5m -> Tier.FiveMinutes, t1h -> Tier.OneHour),
        Seq(240L, 240L))
    }),

    // Proportional sampling weights (indexer get_proportional_probabilities,
    // hf_dataset_indexer.py:119-139): per-doc weight = n_tok / Σ n_tok of
    // its source, in exact parts-per-billion integer arithmetic.
    "q_sampling_weights" -> ((s, dir) =>
      TokenTable
        .raw(s, dir)
        .select(col("doc_id"), col("source"), col("n_tok"))
        .withColumn(
          "src_total",
          sum(col("n_tok").cast("long"))
            .over(org.apache.spark.sql.expressions.Window.partitionBy(col("source"))))
        .withColumn(
          "weight_ppb",
          expr("(CAST(n_tok AS BIGINT) * 1000000000L) DIV src_total"))
        // get_uniform_probabilities (indexer/_base.py:97-117): equal weight
        // 1/|source| per doc, same ppb fixed point as the proportional path
        .withColumn(
          "uniform_ppb",
          expr("1000000000L DIV count(*) OVER (PARTITION BY source)"))),

    // Temperature mixing (alpha = 0.5): per-source tempered weights over
    // the same token-proxy sizes as q_sampling_weights. floor(sqrt) keeps
    // the arithmetic integer-exact cross-engine (see UnionBuilder).
    "q_mix_temperature" -> ((s, dir) =>
      graft.sources.UnionBuilder.temperatureWeights(
        TokenTable.raw(s, dir).select(col("source"), col("n_tok")),
        "source",
        "n_tok",
        alpha = 0.5)),

    // Window outlier detection: per-patch z-score counts via the
    // arr_zscore_outliers row kernel (no explode, no shuffle).
    "q_anomaly_patch" -> ((s, dir) =>
      SeriesAnalytics.patchOutliers(TokenTable.raw(s, dir), 64, 2.0)),

    // EWMA(1/2) smoothing levels: first-element-seeded fold, replayed
    // op-for-op by DuckDB's list_reduce in the oracle.
    "q_ewma_levels" -> ((s, dir) =>
      SeriesAnalytics.ewmaLevels(TokenTable.raw(s, dir))),

    // Cross-source Pearson correlation over aligned 1m windows, all six
    // moments exact BIGINTs, corr one fixed double formula.
    "q_source_corr" -> ((s, dir) =>
      SeriesAnalytics.sourceCorrelation(
        Rollup.rollupFromPoints(TokenTable.points(s, dir), Tier.OneMinute))),

    // Lagged cross-correlation between source pairs over PER-SOURCE 1m
    // window sums (bucket collapsed — a lag shift crosses 64-wide bucket
    // boundaries, the q_peaks rule), lags -2..2 (positive lag = source_a
    // leads source_b). Moments exact BIGINTs.
    "q_ccf_lag" -> ((s, dir) =>
      SeriesAnalytics.laggedCrossCorrelation(
        TokenTable
          .points(s, dir)
          .groupBy(
            col("source"),
            Tier.windowStart(60))
          .agg(expr("CAST(sum(tok) AS BIGINT)").as("value")),
        60,
        2)),

    // Exact fixed-bin histogram (10 bins over the 50257 vocab) and the
    // histogram-derived median bin — the fixed-memory quantile path.
    "q_tier_histogram" -> ((s, dir) =>
      SeriesAnalytics.tierHistogram(TokenTable.points(s, dir), 5026)),
    "q_hist_median" -> ((s, dir) =>
      SeriesAnalytics.histogramMedianBin(
        SeriesAnalytics.tierHistogram(TokenTable.points(s, dir), 5026))),

    // Generalized histogram quantiles: p50/p90/p99 bins in ONE window
    // pass (the permille list explodes onto the cumulated rows).
    "q_hist_quantiles" -> ((s, dir) =>
      SeriesAnalytics.histogramQuantileBins(
        SeriesAnalytics.tierHistogram(TokenTable.points(s, dir), 5026),
        Seq(500, 900, 990))),

    // Trailing-3-window rolling stats over the 1m tier.
    "q_rolling_tier" -> ((s, dir) =>
      SeriesAnalytics.rollingTierStats(
        Rollup.rollupFromPoints(TokenTable.points(s, dir), Tier.OneMinute),
        3)),

    // Exact per-window distinct cardinality (1h windows).
    "q_tier_distinct" -> ((s, dir) =>
      SeriesAnalytics.windowCardinality(TokenTable.points(s, dir, balanceFanout = true), 3600)),

    // Exact top-3 heavy-hitter tokens per (source, bucket).
    "q_tier_topk_tokens" -> ((s, dir) =>
      SeriesAnalytics.heavyHitters(TokenTable.points(s, dir, balanceFanout = true), 3)),

    // Continuous alerting: >= 2 strictly adjacent 1m windows whose avg
    // exceeds the threshold (gaps-and-islands run detection).
    "q_tier_alerts" -> ((s, dir) =>
      SeriesAnalytics.consecutiveBreaches(
        Rollup.rollupFromPoints(TokenTable.points(s, dir), Tier.OneMinute),
        "avg_tok",
        25200.0,
        2,
        60)),

    // PromQL-style reset-aware counter rate over the 1m tier's window
    // sums (gauge drops exercise the reset branch on real data).
    "q_counter_rate" -> ((s, dir) =>
      SeriesAnalytics.counterRate(
        Rollup.rollupFromPoints(TokenTable.points(s, dir), Tier.OneMinute),
        "sum_tok")),

    // M4 downsample: the <=4 raster-exact anchor windows per 10-window
    // pixel (first / last / value-min / value-max, earliest-tie).
    "q_m4_downsample" -> ((s, dir) =>
      SeriesAnalytics.m4Downsample(
        Rollup.rollupFromPoints(TokenTable.points(s, dir), Tier.OneMinute),
        "sum_tok",
        600L)),

    // Autocorrelation at lags 1..3 over strictly adjacent 1m windows;
    // six exact BIGINT moments per (source, bucket, lag) + derived ACF.
    "q_acf_lags" -> ((s, dir) =>
      SeriesAnalytics.autocorrelation(
        Rollup.rollupFromPoints(TokenTable.points(s, dir), Tier.OneMinute),
        "sum_tok",
        60,
        3)),

    // PAA segment means (milli fixed point) + SAX letters over the raw
    // token arrays; breakpoints at the vocab quartiles.
    "q_sax_symbols" -> ((s, dir) =>
      SeriesAnalytics.paaSax(
        TokenTable.raw(s, dir),
        64,
        Seq(12564000L, 25128000L, 37692000L))),

    // One-sided CUSUM drift detection over the 1m tier's window sums
    // (k = the expected per-window sum, h = 5 windows of full-scale
    // drift) — the sequential fold as two window aggregates.
    "q_cusum" -> ((s, dir) =>
      SeriesAnalytics.cusum(
        Rollup.rollupFromPoints(TokenTable.points(s, dir), Tier.OneMinute),
        "sum_tok",
        1507710L,
        150000L)),

    // Seasonal decomposition: phase-of-4 seasonal means + residuals over
    // the 1m tier, exact milli fixed point.
    "q_seasonal" -> ((s, dir) =>
      SeriesAnalytics.seasonalDecompose(
        Rollup.rollupFromPoints(TokenTable.points(s, dir), Tier.OneMinute),
        "sum_tok",
        60,
        4)),

    // Least-squares trend line per SOURCE over per-source 1m window sums
    // (bucket collapsed — a 64-wide bucket holds at most two 60-wide
    // windows, so a per-(source, bucket) regression would degenerate to
    // the secant through two unequal-coverage fragments; the q_peaks
    // rule). Five exact BIGINT moments + fixed double slope/intercept.
    "q_trend_slope" -> ((s, dir) =>
      SeriesAnalytics.trendLine(
        TokenTable
          .points(s, dir)
          .groupBy(
            col("source"),
            expr("CAST(0 AS INT)").as("bucket"),
            Tier.windowStart(60))
          .agg(expr("CAST(sum(tok) AS BIGINT)").as("sum_tok")),
        "sum_tok")),

    // Local extrema (peaks/troughs with strict two-sided adjacency) over
    // per-SOURCE 1m window milli-averages: the bucket key is collapsed
    // (bucket = 0) because a 64-wide bucket holds at most two 60-wide
    // windows — no 3-window neighborhood exists inside one bucket — and
    // the value is the exact milli AVERAGE, not the sum (the raw sum
    // decays monotonically with window index as shorter docs run out of
    // positions, which has no extrema by construction).
    "q_peaks" -> ((s, dir) =>
      SeriesAnalytics.localExtrema(
        TokenTable
          .points(s, dir)
          .groupBy(
            col("source"),
            expr("CAST(0 AS INT)").as("bucket"),
            Tier.windowStart(60))
          .agg(expr("CAST(sum(tok) AS BIGINT) * 1000 DIV count(*)").as("avg_milli")),
        "avg_milli",
        60)),

    // Shannon entropy of each 1h window's token distribution, exact
    // nano-nat integer terms (distribution-health telemetry).
    "q_window_entropy" -> ((s, dir) =>
      SeriesAnalytics.windowEntropy(TokenTable.points(s, dir, balanceFanout = true), 3600)),

    // KL divergence of each 1h window's token mix from its source's
    // global mix — distribution-drift detection in exact nano-nats.
    "q_kl_drift" -> ((s, dir) =>
      SeriesAnalytics.klDrift(TokenTable.points(s, dir, balanceFanout = true), 3600)),

    // Vocabulary growth: novel tokens per 1h window + running cumulative
    // vocabulary per source (Heaps'-law telemetry).
    "q_vocab_growth" -> ((s, dir) =>
      SeriesAnalytics.vocabGrowth(TokenTable.points(s, dir, balanceFanout = true), 3600)),

    // Population-stability drift between CONSECUTIVE 1h windows per
    // source: PSI in exact nano-nats over matched tokens, with new/gone
    // token churn counted instead of smoothed. The sudden-shift twin of
    // q_kl_drift's global-shape drift.
    "q_dist_shift" -> ((s, dir) =>
      SeriesAnalytics.distributionShift(TokenTable.points(s, dir, balanceFanout = true), 3600)),

    // KMV approximate-distinct per 1h window: the bounded-state (k=64
    // longs per key) sketch twin of q_window_cardinality's exact
    // countDistinct — deterministic Lehmer hashes, so the whole sketch
    // hash-checks against a SQL dedup + rank.
    "q_kmv_distinct" -> ((s, dir) =>
      Sketches.approxDistinct(TokenTable.points(s, dir, balanceFanout = true), 3600, 64)),

    // Count-min sketch estimates for each source's exact top-20 tokens:
    // fixed 4x1024 cells per source regardless of vocabulary; the
    // estimate never under-counts (est_cnt >= cnt row by row).
    "q_cms_topk" -> ((s, dir) =>
      Sketches.countMinTopK(TokenTable.points(s, dir, balanceFanout = true), 4, 1024, 20))
  )

  val oracle: Map[String, String] = Map(
    "q_raw_tokens" ->
      s"""$PtsCte
         |SELECT CAST(doc_id AS VARCHAR) AS doc_id, source,
         |       CAST(count(*) AS INT) AS n_tok,
         |       CAST(sum(tok) AS BIGINT) AS tok_sum,
         |       CAST(min(CASE WHEN pos = 0 THEN tok END) AS INT) AS tok_first,
         |       CAST(max(CASE WHEN pos = n - 1 THEN tok END) AS INT) AS tok_last
         |FROM (SELECT p.*, count(*) OVER (PARTITION BY doc_id) AS n FROM pts p)
         |GROUP BY 1, 2""".stripMargin,
    "q_rollup_stats" ->
      s"""$PtsCte
         |SELECT source, CAST(pos // 64 AS INT) AS bucket,
         |       min(tok) AS min_tok, max(tok) AS max_tok,
         |       CAST(sum(tok) AS BIGINT) AS sum_tok, count(*) AS cnt_tok,
         |       CAST(sum(CAST(tok AS BIGINT) * tok) AS BIGINT) AS sumsq_tok
         |FROM pts GROUP BY 1, 2""".stripMargin,
    // the anti-join verdict mirrored as NOT EXISTS over the same partial
    // coarse coverage set
    "q_retention" ->
      s"""$PtsCte,
         |f AS (
         |  SELECT source, CAST(pos // 64 AS INT) AS bucket, '1m' AS tier,
         |         CAST((pos // 60) * 60 AS INT) AS window_start,
         |         min(tok) AS min_tok, max(tok) AS max_tok,
         |         CAST(sum(tok) AS BIGINT) AS sum_tok, count(*) AS cnt_tok,
         |         CAST(sum(CAST(tok AS BIGINT) * tok) AS BIGINT) AS sumsq_tok
         |  FROM pts GROUP BY 1, 2, 3, 4),
         |g AS (
         |  SELECT *, CAST(sum_tok AS DOUBLE) / CAST(cnt_tok AS DOUBLE) AS avg_tok,
         |         CASE WHEN cnt_tok > 1 THEN
         |           (CAST(sumsq_tok AS DOUBLE) - CAST(sum_tok AS DOUBLE) * CAST(sum_tok AS DOUBLE)
         |            / CAST(cnt_tok AS DOUBLE)) / CAST(cnt_tok - 1 AS DOUBLE)
         |         ELSE NULL END AS var_tok
         |  FROM f),
         |c AS (
         |  SELECT DISTINCT source, bucket, CAST((window_start // 300) * 300 AS INT) AS cw
         |  FROM f WHERE source < 'src5')
         |SELECT source, bucket, tier, window_start, min_tok, max_tok, sum_tok, cnt_tok,
         |       avg_tok, sumsq_tok, var_tok, FALSE AS retained_uncovered
         |FROM g WHERE window_start >= 300
         |UNION ALL
         |SELECT g.source, g.bucket, g.tier, g.window_start, g.min_tok, g.max_tok,
         |       g.sum_tok, g.cnt_tok, g.avg_tok, g.sumsq_tok, g.var_tok,
         |       TRUE AS retained_uncovered
         |FROM g WHERE g.window_start < 300 AND NOT EXISTS (
         |  SELECT 1 FROM c WHERE c.source = g.source AND c.bucket = g.bucket
         |    AND c.cw = g.window_start - g.window_start % 300)""".stripMargin,
    // three levels, each its own horizon + NOT EXISTS coverage cascade;
    // the coarsest tier passes through unexpired
    "q_retention_ladder" ->
      s"""$PtsCte,
         |f1 AS (
         |  SELECT source, CAST(pos // 64 AS INT) AS bucket, '1m' AS tier,
         |         CAST((pos // 60) * 60 AS INT) AS window_start,
         |         min(tok) AS min_tok, max(tok) AS max_tok,
         |         CAST(sum(tok) AS BIGINT) AS sum_tok, count(*) AS cnt_tok,
         |         CAST(sum(CAST(tok AS BIGINT) * tok) AS BIGINT) AS sumsq_tok
         |  FROM pts GROUP BY 1, 2, 3, 4),
         |f5 AS (
         |  SELECT source, CAST(pos // 64 AS INT) AS bucket, '5m' AS tier,
         |         CAST((pos // 300) * 300 AS INT) AS window_start,
         |         min(tok) AS min_tok, max(tok) AS max_tok,
         |         CAST(sum(tok) AS BIGINT) AS sum_tok, count(*) AS cnt_tok,
         |         CAST(sum(CAST(tok AS BIGINT) * tok) AS BIGINT) AS sumsq_tok
         |  FROM pts WHERE source < 'src5' GROUP BY 1, 2, 3, 4),
         |fh AS (
         |  SELECT source, CAST(pos // 64 AS INT) AS bucket, '1h' AS tier,
         |         CAST((pos // 3600) * 3600 AS INT) AS window_start,
         |         min(tok) AS min_tok, max(tok) AS max_tok,
         |         CAST(sum(tok) AS BIGINT) AS sum_tok, count(*) AS cnt_tok,
         |         CAST(sum(CAST(tok AS BIGINT) * tok) AS BIGINT) AS sumsq_tok
         |  FROM pts WHERE source < 'src3' GROUP BY 1, 2, 3, 4),
         |g1 AS (
         |  SELECT *, CAST(sum_tok AS DOUBLE) / CAST(cnt_tok AS DOUBLE) AS avg_tok,
         |         CASE WHEN cnt_tok > 1 THEN
         |           (CAST(sumsq_tok AS DOUBLE) - CAST(sum_tok AS DOUBLE) * CAST(sum_tok AS DOUBLE)
         |            / CAST(cnt_tok AS DOUBLE)) / CAST(cnt_tok - 1 AS DOUBLE)
         |         ELSE NULL END AS var_tok
         |  FROM f1),
         |g5 AS (
         |  SELECT *, CAST(sum_tok AS DOUBLE) / CAST(cnt_tok AS DOUBLE) AS avg_tok,
         |         CASE WHEN cnt_tok > 1 THEN
         |           (CAST(sumsq_tok AS DOUBLE) - CAST(sum_tok AS DOUBLE) * CAST(sum_tok AS DOUBLE)
         |            / CAST(cnt_tok AS DOUBLE)) / CAST(cnt_tok - 1 AS DOUBLE)
         |         ELSE NULL END AS var_tok
         |  FROM f5),
         |gh AS (
         |  SELECT *, CAST(sum_tok AS DOUBLE) / CAST(cnt_tok AS DOUBLE) AS avg_tok,
         |         CASE WHEN cnt_tok > 1 THEN
         |           (CAST(sumsq_tok AS DOUBLE) - CAST(sum_tok AS DOUBLE) * CAST(sum_tok AS DOUBLE)
         |            / CAST(cnt_tok AS DOUBLE)) / CAST(cnt_tok - 1 AS DOUBLE)
         |         ELSE NULL END AS var_tok
         |  FROM fh),
         |c5 AS (SELECT DISTINCT source, bucket, window_start AS cw FROM f5
         |       WHERE window_start < 240),
         |ch AS (SELECT DISTINCT source, bucket, window_start AS cw FROM fh
         |       WHERE window_start < 240)
         |SELECT source, bucket, tier, window_start, min_tok, max_tok, sum_tok, cnt_tok,
         |       avg_tok, sumsq_tok, var_tok, FALSE AS retained_uncovered
         |FROM g1 WHERE window_start >= 240
         |UNION ALL
         |SELECT g1.source, g1.bucket, g1.tier, g1.window_start, g1.min_tok, g1.max_tok,
         |       g1.sum_tok, g1.cnt_tok, g1.avg_tok, g1.sumsq_tok, g1.var_tok,
         |       TRUE AS retained_uncovered
         |FROM g1 WHERE g1.window_start < 240 AND NOT EXISTS (
         |  SELECT 1 FROM c5 WHERE c5.source = g1.source AND c5.bucket = g1.bucket
         |    AND c5.cw = g1.window_start - g1.window_start % 300)
         |UNION ALL
         |SELECT source, bucket, tier, window_start, min_tok, max_tok, sum_tok, cnt_tok,
         |       avg_tok, sumsq_tok, var_tok, FALSE AS retained_uncovered
         |FROM g5 WHERE window_start >= 240
         |UNION ALL
         |SELECT g5.source, g5.bucket, g5.tier, g5.window_start, g5.min_tok, g5.max_tok,
         |       g5.sum_tok, g5.cnt_tok, g5.avg_tok, g5.sumsq_tok, g5.var_tok,
         |       TRUE AS retained_uncovered
         |FROM g5 WHERE g5.window_start < 240 AND NOT EXISTS (
         |  SELECT 1 FROM ch WHERE ch.source = g5.source AND ch.bucket = g5.bucket
         |    AND ch.cw = g5.window_start - g5.window_start % 3600)
         |UNION ALL
         |SELECT source, bucket, tier, window_start, min_tok, max_tok, sum_tok, cnt_tok,
         |       avg_tok, sumsq_tok, var_tok, FALSE AS retained_uncovered
         |FROM gh""".stripMargin,
    "q_rollup_1m" -> tierOracle("1m", 60),
    // the merge path must bit-equal the full recompute
    "q_rollup_late" -> tierOracle("1m", 60),
    "q_rollup_late_1h" -> tierOracle("1h", 3600),
    "q_rollup_5m" -> tierOracle("5m", 300),
    "q_rollup_1h" -> tierOracle("1h", 3600),
    "q_rollup_1d" -> tierOracle("1d", 86400),
    "q_patchify" ->
      s"""$PtsCte
         |SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         |       CAST(pos // 64 AS INT) AS patch_idx,
         |       CAST(count(*) AS INT) AS patch_len,
         |       min(tok) AS p_min, max(tok) AS p_max,
         |       CAST(sum(tok) AS BIGINT) AS p_sum
         |FROM pts GROUP BY 1, 2""".stripMargin,
    "q_sampling_weights" ->
      """SELECT CAST(doc_id AS VARCHAR) AS doc_id, source,
        |       CAST(n_chars AS INT) AS n_tok,
        |       CAST(sum(n_chars) OVER (PARTITION BY source) AS BIGINT) AS src_total,
        |       CAST(n_chars * 1000000000 //
        |            sum(n_chars) OVER (PARTITION BY source) AS BIGINT) AS weight_ppb,
        |       CAST(1000000000 // count(*) OVER (PARTITION BY source) AS BIGINT)
        |         AS uniform_ppb
        |FROM documents
        |WHERE n_chars >= 1""".stripMargin, // TokenTable.raw's empty-doc guard
    "q_mix_temperature" ->
      """WITH s AS (
        |  SELECT source, count(*) AS n_docs,
        |         CAST(sum(n_chars) AS BIGINT) AS size_total
        |  FROM documents WHERE n_chars >= 1 GROUP BY 1),
        |r AS (SELECT *, CAST(floor(sqrt(CAST(size_total AS DOUBLE))) AS BIGINT)
        |               AS w_raw FROM s)
        |SELECT source, n_docs, size_total, w_raw,
        |       CAST(w_raw * 1000000000 // sum(w_raw) OVER () AS BIGINT) AS mix_ppb
        |FROM r""".stripMargin,
    "q_anomaly_patch" ->
      s"""$PtsCte,
         |st AS (
         |  SELECT doc_id, source, pos // 64 AS pi,
         |         count(*) AS cnt, CAST(sum(tok) AS BIGINT) AS s,
         |         CAST(sum(CAST(tok AS BIGINT) * tok) AS BIGINT) AS ss
         |  FROM pts GROUP BY 1, 2, 3),
         |o AS (
         |  SELECT p.doc_id, p.source, st.pi, st.cnt,
         |    CAST(sum(CASE WHEN st.cnt > 1
         |      AND (CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
         |           / CAST(cnt AS DOUBLE)) / CAST(cnt - 1 AS DOUBLE) > 0
         |      AND ABS(CAST(tok AS DOUBLE) - CAST(s AS DOUBLE) / CAST(cnt AS DOUBLE)) >
         |          2.0 * SQRT((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
         |                      / CAST(cnt AS DOUBLE)) / CAST(cnt - 1 AS DOUBLE))
         |      THEN 1 ELSE 0 END) AS INT) AS n_outliers
         |  FROM pts p JOIN st ON p.doc_id = st.doc_id AND p.pos // 64 = st.pi
         |  GROUP BY 1, 2, 3, 4)
         |SELECT CAST(doc_id AS VARCHAR) AS doc_id, source,
         |       CAST(pi AS INT) AS patch_idx, CAST(cnt AS INT) AS patch_len,
         |       n_outliers
         |FROM o""".stripMargin,
    "q_ewma_levels" ->
      s"""$PtsCte,
         |l AS (SELECT doc_id, source, count(*) AS n_tok,
         |             list(CAST(tok AS DOUBLE) ORDER BY pos) AS toks
         |      FROM pts GROUP BY 1, 2)
         |SELECT CAST(doc_id AS VARCHAR) AS doc_id, source,
         |       CAST(n_tok AS INT) AS n_tok,
         |       list_reduce(toks, (acc, x) -> (acc + x) / 2) AS ewma_half
         |FROM l""".stripMargin,
    "q_source_corr" ->
      s"""$PtsCte,
         |t AS (
         |  SELECT source, CAST(pos // 64 AS INT) AS bucket,
         |         CAST((pos // 60) * 60 AS INT) AS window_start,
         |         CAST(sum(tok) AS BIGINT) AS st
         |  FROM pts GROUP BY 1, 2, 3),
         |p AS (
         |  SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_win,
         |         CAST(sum(a.st) AS BIGINT) AS sx, CAST(sum(b.st) AS BIGINT) AS sy,
         |         CAST(sum(a.st * b.st) AS BIGINT) AS sxy,
         |         CAST(sum(a.st * a.st) AS BIGINT) AS sxx,
         |         CAST(sum(b.st * b.st) AS BIGINT) AS syy
         |  FROM t a JOIN t b ON a.bucket = b.bucket AND a.window_start = b.window_start
         |  WHERE a.source < b.source
         |  GROUP BY 1, 2)
         |SELECT source_a, source_b, n_win, sx, sy, sxy, sxx, syy,
         |  CASE WHEN CAST(n_win AS DOUBLE) * CAST(sxx AS DOUBLE)
         |            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
         |        AND CAST(n_win AS DOUBLE) * CAST(syy AS DOUBLE)
         |            - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) > 0
         |  THEN (CAST(n_win AS DOUBLE) * CAST(sxy AS DOUBLE)
         |        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         |       / (SQRT(CAST(n_win AS DOUBLE) * CAST(sxx AS DOUBLE)
         |               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
         |          * SQRT(CAST(n_win AS DOUBLE) * CAST(syy AS DOUBLE)
         |                 - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
         |  ELSE NULL END AS corr
         |FROM p""".stripMargin,
    "q_ccf_lag" ->
      s"""$PtsCte,
         |t AS (
         |  SELECT source, CAST(pos - pos % 60 AS INT) AS window_start,
         |         CAST(sum(tok) AS BIGINT) AS st
         |  FROM pts GROUP BY 1, 2),
         |l AS (SELECT CAST(unnest(range(-2, 3)) AS INT) AS lag),
         |p AS (
         |  SELECT a.source AS source_a, b.source AS source_b, l.lag,
         |         count(*) AS n_win,
         |         CAST(sum(a.st) AS BIGINT) AS sx, CAST(sum(b.st) AS BIGINT) AS sy,
         |         CAST(sum(a.st * b.st) AS BIGINT) AS sxy,
         |         CAST(sum(a.st * a.st) AS BIGINT) AS sxx,
         |         CAST(sum(b.st * b.st) AS BIGINT) AS syy
         |  FROM t a CROSS JOIN l JOIN t b
         |    ON b.window_start = a.window_start + l.lag * 60
         |   AND a.source < b.source
         |  GROUP BY 1, 2, 3)
         |SELECT source_a, source_b, lag, n_win, sx, sy, sxy, sxx, syy,
         |  CASE WHEN CAST(n_win AS DOUBLE) * CAST(sxx AS DOUBLE)
         |            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
         |        AND CAST(n_win AS DOUBLE) * CAST(syy AS DOUBLE)
         |            - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) > 0
         |  THEN (CAST(n_win AS DOUBLE) * CAST(sxy AS DOUBLE)
         |        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         |       / (SQRT(CAST(n_win AS DOUBLE) * CAST(sxx AS DOUBLE)
         |               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
         |          * SQRT(CAST(n_win AS DOUBLE) * CAST(syy AS DOUBLE)
         |                 - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
         |  ELSE NULL END AS corr
         |FROM p""".stripMargin,
    "q_tier_histogram" ->
      s"""$PtsCte
         |SELECT source, CAST(pos // 64 AS INT) AS bucket,
         |       CAST(tok // 5026 AS INT) AS bin, count(*) AS cnt
         |FROM pts GROUP BY 1, 2, 3""".stripMargin,
    "q_hist_median" ->
      s"""$PtsCte,
         |h AS (
         |  SELECT source, CAST(pos // 64 AS INT) AS bucket,
         |         CAST(tok // 5026 AS INT) AS bin, count(*) AS cnt
         |  FROM pts GROUP BY 1, 2, 3),
         |c AS (
         |  SELECT *, sum(cnt) OVER (PARTITION BY source, bucket ORDER BY bin) AS cum,
         |         sum(cnt) OVER (PARTITION BY source, bucket) AS total_cnt
         |  FROM h)
         |SELECT source, bucket, CAST(min(bin) AS INT) AS p50_bin,
         |       CAST(min(total_cnt) AS BIGINT) AS total_cnt
         |FROM c WHERE cum * 2 >= total_cnt GROUP BY 1, 2""".stripMargin,
    "q_hist_quantiles" ->
      s"""$PtsCte,
         |h AS (
         |  SELECT source, CAST(pos // 64 AS INT) AS bucket,
         |         CAST(tok // 5026 AS INT) AS bin, count(*) AS cnt
         |  FROM pts GROUP BY 1, 2, 3),
         |c AS (
         |  SELECT *, sum(cnt) OVER (PARTITION BY source, bucket ORDER BY bin) AS cum,
         |         sum(cnt) OVER (PARTITION BY source, bucket) AS total_cnt
         |  FROM h),
         |e AS (
         |  SELECT c.*, q.q_permille
         |  FROM c, (SELECT unnest([500, 900, 990]) AS q_permille) q)
         |SELECT source, bucket, CAST(q_permille AS INT) AS q_permille,
         |       CAST(min(bin) AS INT) AS q_bin,
         |       CAST(min(total_cnt) AS BIGINT) AS total_cnt
         |FROM e WHERE cum * 1000 >= q_permille * total_cnt
         |GROUP BY 1, 2, 3""".stripMargin,
    "q_rolling_tier" ->
      s"""$PtsCte,
         |t AS (
         |  SELECT source, CAST(pos // 64 AS INT) AS bucket,
         |         CAST((pos // 60) * 60 AS INT) AS window_start,
         |         CAST(sum(tok) AS BIGINT) AS sum_tok, count(*) AS cnt_tok
         |  FROM pts GROUP BY 1, 2, 3)
         |SELECT source, bucket, window_start, sum_tok, cnt_tok,
         |  CAST(sum(sum_tok) OVER w AS BIGINT) AS roll_sum,
         |  CAST(sum(cnt_tok) OVER w AS BIGINT) AS roll_pts,
         |  CAST(sum(sum_tok) OVER w AS DOUBLE) / CAST(sum(cnt_tok) OVER w AS DOUBLE)
         |    AS roll_avg
         |FROM t
         |WINDOW w AS (PARTITION BY source, bucket ORDER BY window_start
         |             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)""".stripMargin,
    "q_tier_distinct" ->
      s"""$PtsCte
         |SELECT source, CAST(pos // 64 AS INT) AS bucket,
         |       CAST(pos - pos % 3600 AS INT) AS window_start,
         |       CAST(count(DISTINCT tok) AS BIGINT) AS n_distinct,
         |       count(*) AS cnt_tok
         |FROM pts GROUP BY 1, 2, 3""".stripMargin,
    "q_tier_topk_tokens" ->
      s"""$PtsCte,
         |c AS (
         |  SELECT source, CAST(pos // 64 AS INT) AS bucket, tok, count(*) AS cnt
         |  FROM pts GROUP BY 1, 2, 3),
         |r AS (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY source, bucket
         |            ORDER BY cnt DESC, tok ASC) AS INT) AS rank
         |  FROM c)
         |SELECT source, bucket, tok, cnt, rank FROM r WHERE rank <= 3""".stripMargin,
    "q_tier_alerts" ->
      s"""$PtsCte,
         |t AS (
         |  SELECT source, CAST(pos // 64 AS INT) AS bucket,
         |         CAST((pos // 60) * 60 AS INT) AS window_start,
         |         CAST(sum(tok) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS value
         |  FROM pts GROUP BY 1, 2, 3),
         |b AS (
         |  SELECT *, window_start // 60
         |         - row_number() OVER (PARTITION BY source, bucket
         |                              ORDER BY window_start) AS island
         |  FROM t WHERE value > CAST(25200.0 AS DOUBLE)),
         |runs AS (
         |  SELECT *, CAST(count(*) OVER (PARTITION BY source, bucket, island)
         |                 AS INT) AS run_len
         |  FROM b)
         |SELECT source, bucket, window_start, value, run_len
         |FROM runs WHERE run_len >= 2""".stripMargin,
    "q_counter_rate" ->
      s"""$PtsCte,
         |t AS (
         |  SELECT source, CAST(pos // 64 AS INT) AS bucket,
         |         CAST((pos // 60) * 60 AS INT) AS window_start,
         |         CAST(sum(tok) AS BIGINT) AS value
         |  FROM pts GROUP BY 1, 2, 3),
         |l AS (
         |  SELECT *,
         |         lag(value) OVER w AS prev_value,
         |         lag(window_start) OVER w AS prev_window
         |  FROM t
         |  WINDOW w AS (PARTITION BY source, bucket ORDER BY window_start))
         |SELECT source, bucket, window_start, value,
         |       CASE WHEN prev_value IS NULL THEN NULL
         |            WHEN value >= prev_value THEN value - prev_value
         |            ELSE value END AS increase,
         |       CAST(CASE WHEN prev_value IS NULL THEN NULL
         |                 WHEN value >= prev_value THEN value - prev_value
         |                 ELSE value END AS DOUBLE)
         |         / CAST(window_start - prev_window AS DOUBLE) AS rate_per_unit
         |FROM l""".stripMargin,
    "q_m4_downsample" ->
      s"""$PtsCte,
         |t AS (
         |  SELECT source, CAST(pos // 64 AS INT) AS bucket,
         |         CAST((pos // 60) * 60 AS INT) AS window_start,
         |         CAST(sum(tok) AS BIGINT) AS value
         |  FROM pts GROUP BY 1, 2, 3),
         |e AS (
         |  SELECT *, window_start // 600 AS pixel FROM t),
         |m AS (
         |  SELECT *,
         |         min(window_start) OVER p AS ws_min,
         |         max(window_start) OVER p AS ws_max,
         |         min(value) OVER p AS v_min,
         |         max(value) OVER p AS v_max
         |  FROM e
         |  WINDOW p AS (PARTITION BY source, bucket, pixel)),
         |a AS (
         |  SELECT *,
         |         min(CASE WHEN value = v_min THEN window_start END) OVER p AS ws_of_vmin,
         |         min(CASE WHEN value = v_max THEN window_start END) OVER p AS ws_of_vmax
         |  FROM m
         |  WINDOW p AS (PARTITION BY source, bucket, pixel))
         |SELECT source, bucket, pixel, window_start, value,
         |       window_start = ws_min AS is_first,
         |       window_start = ws_max AS is_last,
         |       window_start = ws_of_vmin AS is_min,
         |       window_start = ws_of_vmax AS is_max
         |FROM a
         |WHERE window_start = ws_min OR window_start = ws_max
         |   OR window_start = ws_of_vmin OR window_start = ws_of_vmax""".stripMargin,
    "q_acf_lags" ->
      s"""$PtsCte,
         |t AS (
         |  SELECT source, CAST(pos // 64 AS INT) AS bucket,
         |         CAST((pos // 60) * 60 AS INT) AS window_start,
         |         CAST(sum(tok) AS BIGINT) AS x
         |  FROM pts GROUP BY 1, 2, 3),
         |pairs AS (
         |  SELECT source, bucket, g.lag AS lag, x,
         |         lead(x, g.lag) OVER w AS y,
         |         lead(window_start, g.lag) OVER w AS y_ws,
         |         window_start
         |  FROM t, (SELECT unnest(range(1, 4)) AS lag) g
         |  WINDOW w AS (PARTITION BY source, bucket, g.lag ORDER BY window_start)),
         |agg AS (
         |  SELECT source, bucket, CAST(lag AS INT) AS lag,
         |         count(*) AS n_pairs,
         |         CAST(sum(x) AS BIGINT) AS sx,
         |         CAST(sum(y) AS BIGINT) AS sy,
         |         CAST(sum(x * y) AS BIGINT) AS sxy,
         |         CAST(sum(x * x) AS BIGINT) AS sxx,
         |         CAST(sum(y * y) AS BIGINT) AS syy
         |  FROM pairs
         |  WHERE y IS NOT NULL AND y_ws = window_start + lag * 60
         |  GROUP BY 1, 2, 3)
         |SELECT *,
         |       CASE WHEN CAST(n_pairs AS DOUBLE) * CAST(sxx AS DOUBLE)
         |                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
         |             AND CAST(n_pairs AS DOUBLE) * CAST(syy AS DOUBLE)
         |                 - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) > 0
         |       THEN (CAST(n_pairs AS DOUBLE) * CAST(sxy AS DOUBLE)
         |             - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         |            / (SQRT(CAST(n_pairs AS DOUBLE) * CAST(sxx AS DOUBLE)
         |                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
         |               * SQRT(CAST(n_pairs AS DOUBLE) * CAST(syy AS DOUBLE)
         |                      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
         |       ELSE NULL END AS acf
         |FROM agg""".stripMargin,
    "q_sax_symbols" ->
      s"""$PtsCte
         |SELECT CAST(doc_id AS VARCHAR) AS doc_id, source,
         |       CAST(pos // 64 AS INT) AS seg_idx,
         |       CAST(count(*) AS INT) AS seg_len,
         |       CAST(sum(tok) AS BIGINT) AS seg_sum,
         |       CAST(sum(tok) AS BIGINT) * 1000 // count(*) AS paa_milli,
         |       CASE WHEN CAST(sum(tok) AS BIGINT) * 1000 // count(*) < 12564000 THEN 'a'
         |            WHEN CAST(sum(tok) AS BIGINT) * 1000 // count(*) < 25128000 THEN 'b'
         |            WHEN CAST(sum(tok) AS BIGINT) * 1000 // count(*) < 37692000 THEN 'c'
         |            ELSE 'd' END AS sax
         |FROM pts GROUP BY 1, 2, 3""".stripMargin,
    "q_cusum" ->
      s"""$PtsCte,
         |t AS (
         |  SELECT source, CAST(pos // 64 AS INT) AS bucket,
         |         CAST((pos // 60) * 60 AS INT) AS window_start,
         |         CAST(sum(tok) AS BIGINT) AS value
         |  FROM pts GROUP BY 1, 2, 3),
         |p AS (
         |  SELECT *, CAST(sum(value - 1507710) OVER w AS BIGINT) AS pp
         |  FROM t
         |  WINDOW w AS (PARTITION BY source, bucket ORDER BY window_start
         |               ROWS UNBOUNDED PRECEDING)),
         |c AS (
         |  SELECT *, pp - LEAST(CAST(min(pp) OVER w AS BIGINT), 0) AS cusum
         |  FROM p
         |  WINDOW w AS (PARTITION BY source, bucket ORDER BY window_start
         |               ROWS UNBOUNDED PRECEDING))
         |SELECT source, bucket, window_start, value, cusum,
         |       cusum > 150000 AS alarm
         |FROM c""".stripMargin,
    "q_seasonal" ->
      s"""$PtsCte,
         |t AS (
         |  SELECT source, CAST(pos // 64 AS INT) AS bucket,
         |         CAST((pos // 60) * 60 AS INT) AS window_start,
         |         CAST(sum(tok) AS BIGINT) AS value
         |  FROM pts GROUP BY 1, 2, 3),
         |e AS (
         |  SELECT *, CAST((window_start // 60) % 4 AS INT) AS phase FROM t),
         |m AS (
         |  SELECT *, CAST(sum(value) OVER p AS BIGINT) AS ssum,
         |         count(*) OVER p AS scnt
         |  FROM e
         |  WINDOW p AS (PARTITION BY source, bucket, phase))
         |SELECT source, bucket, window_start, value, phase,
         |       ssum * 1000 // scnt AS seasonal_milli,
         |       value * 1000 - (ssum * 1000 // scnt) AS resid_milli
         |FROM m""".stripMargin,
    "q_trend_slope" ->
      s"""$PtsCte,
         |t AS (
         |  SELECT source, CAST(0 AS INT) AS bucket,
         |         CAST(pos - pos % 60 AS BIGINT) AS window_start,
         |         CAST(sum(tok) AS BIGINT) AS x
         |  FROM pts GROUP BY 1, 2, 3),
         |m AS (
         |  SELECT source, bucket, count(*) AS n_win,
         |         CAST(sum(window_start) AS BIGINT) AS st,
         |         CAST(sum(x) AS BIGINT) AS sx,
         |         CAST(sum(window_start * x) AS BIGINT) AS stx,
         |         CAST(sum(window_start * window_start) AS BIGINT) AS stt
         |  FROM t GROUP BY 1, 2),
         |sl AS (
         |  SELECT *,
         |    CASE WHEN CAST(n_win AS DOUBLE) * CAST(stt AS DOUBLE)
         |              - CAST(st AS DOUBLE) * CAST(st AS DOUBLE) > 0
         |    THEN (CAST(n_win AS DOUBLE) * CAST(stx AS DOUBLE)
         |          - CAST(st AS DOUBLE) * CAST(sx AS DOUBLE))
         |         / (CAST(n_win AS DOUBLE) * CAST(stt AS DOUBLE)
         |            - CAST(st AS DOUBLE) * CAST(st AS DOUBLE))
         |    ELSE NULL END AS slope
         |  FROM m)
         |SELECT source, bucket, n_win, st, sx, stx, stt, slope,
         |       CASE WHEN slope IS NOT NULL
         |       THEN (CAST(sx AS DOUBLE) - slope * CAST(st AS DOUBLE))
         |            / CAST(n_win AS DOUBLE)
         |       ELSE NULL END AS intercept
         |FROM sl""".stripMargin,
    "q_peaks" ->
      s"""$PtsCte,
         |t AS (
         |  SELECT source, CAST(0 AS INT) AS bucket,
         |         CAST(pos - pos % 60 AS INT) AS window_start,
         |         CAST(sum(tok) AS BIGINT) * 1000 // count(*) AS value
         |  FROM pts GROUP BY 1, 2, 3),
         |l AS (
         |  SELECT *,
         |         lag(value) OVER w AS pv, lag(window_start) OVER w AS pw,
         |         lead(value) OVER w AS nv, lead(window_start) OVER w AS nw
         |  FROM t
         |  WINDOW w AS (PARTITION BY source, bucket ORDER BY window_start))
         |SELECT source, bucket, window_start, value,
         |       (pw = window_start - 60 AND nw = window_start + 60
         |        AND value > pv AND value > nv) AS is_peak,
         |       (pw = window_start - 60 AND nw = window_start + 60
         |        AND value < pv AND value < nv) AS is_trough
         |FROM l
         |WHERE (pw = window_start - 60 AND nw = window_start + 60
         |       AND value > pv AND value > nv)
         |   OR (pw = window_start - 60 AND nw = window_start + 60
         |       AND value < pv AND value < nv)""".stripMargin,
    "q_window_entropy" ->
      s"""$PtsCte,
         |c AS (
         |  SELECT source, CAST(pos // 64 AS INT) AS bucket,
         |         CAST(pos - pos % 3600 AS INT) AS window_start, tok,
         |         count(*) AS cnt
         |  FROM pts GROUP BY 1, 2, 3, 4),
         |w AS (
         |  SELECT *, CAST(sum(cnt) OVER (
         |         PARTITION BY source, bucket, window_start) AS BIGINT) AS total
         |  FROM c),
         |a AS (
         |  SELECT source, bucket, window_start,
         |         count(*) AS n_distinct,
         |         CAST(min(total) AS BIGINT) AS cnt_tok,
         |         CAST(sum(cnt * CAST(FLOOR(LN(CAST(total AS DOUBLE)
         |              / CAST(cnt AS DOUBLE)) * 1e9) AS BIGINT)) AS BIGINT)
         |           AS entropy_nano_sum
         |  FROM w GROUP BY 1, 2, 3)
         |SELECT *, CAST(entropy_nano_sum AS DOUBLE) / 1e9
         |          / CAST(cnt_tok AS DOUBLE) AS entropy_nats
         |FROM a""".stripMargin,
    "q_kl_drift" ->
      s"""$PtsCte,
         |c AS (
         |  SELECT source, CAST(pos // 64 AS INT) AS bucket,
         |         CAST(pos - pos % 3600 AS INT) AS window_start, tok,
         |         count(*) AS cnt_w
         |  FROM pts GROUP BY 1, 2, 3, 4),
         |g AS (SELECT source, tok, CAST(sum(cnt_w) AS BIGINT) AS cnt_g
         |      FROM c GROUP BY 1, 2),
         |gt AS (SELECT source, CAST(sum(cnt_g) AS BIGINT) AS total_g
         |       FROM g GROUP BY 1),
         |w AS (
         |  SELECT *, CAST(sum(cnt_w) OVER (
         |         PARTITION BY source, bucket, window_start) AS BIGINT) AS total_w
         |  FROM c),
         |j AS (
         |  SELECT w.*, g.cnt_g, gt.total_g
         |  FROM w JOIN g USING (source, tok) JOIN gt USING (source)),
         |a AS (
         |  SELECT source, bucket, window_start,
         |         count(*) AS n_distinct,
         |         CAST(min(total_w) AS BIGINT) AS cnt_tok,
         |         CAST(sum(cnt_w * CAST(FLOOR(LN(
         |              CAST(cnt_w AS DOUBLE) * CAST(total_g AS DOUBLE)
         |              / (CAST(cnt_g AS DOUBLE) * CAST(total_w AS DOUBLE)))
         |              * 1e9) AS BIGINT)) AS BIGINT) AS kl_nano_sum
         |  FROM j GROUP BY 1, 2, 3)
         |SELECT *, CAST(kl_nano_sum AS DOUBLE) / 1e9
         |          / CAST(cnt_tok AS DOUBLE) AS kl_nats
         |FROM a""".stripMargin,
    "q_vocab_growth" ->
      s"""$PtsCte,
         |f AS (
         |  SELECT source, tok, CAST(min(pos - pos % 3600) AS INT) AS window_start
         |  FROM pts GROUP BY 1, 2),
         |n AS (SELECT source, window_start, count(*) AS novel_tokens
         |      FROM f GROUP BY 1, 2)
         |SELECT source, window_start, novel_tokens,
         |       CAST(sum(novel_tokens) OVER (
         |         PARTITION BY source ORDER BY window_start
         |         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS vocab_cum
         |FROM n""".stripMargin,
    "q_dist_shift" ->
      s"""$PtsCte,
         |c AS (
         |  SELECT source, CAST(pos - pos % 3600 AS INT) AS window_start, tok,
         |         count(*) AS cnt
         |  FROM pts GROUP BY 1, 2, 3),
         |t AS (
         |  SELECT *, CAST(sum(cnt) OVER (
         |    PARTITION BY source, window_start) AS BIGINT) AS total
         |  FROM c),
         |r AS (
         |  SELECT source, tok, cnt, total, 'cur' AS role, window_start AS w FROM t
         |  UNION ALL
         |  SELECT source, tok, cnt, total, 'prev' AS role,
         |         window_start + 3600 AS w FROM t),
         |p AS (
         |  SELECT source, w, tok,
         |    max(CASE WHEN role = 'cur' THEN cnt END) AS cnt_cur,
         |    max(CASE WHEN role = 'cur' THEN total END) AS total_cur,
         |    max(CASE WHEN role = 'prev' THEN cnt END) AS cnt_prev,
         |    max(CASE WHEN role = 'prev' THEN total END) AS total_prev
         |  FROM r GROUP BY 1, 2, 3),
         |s AS (
         |  SELECT source, w AS window_start,
         |    count(CASE WHEN cnt_cur IS NOT NULL AND cnt_prev IS NOT NULL
         |               THEN 1 END) AS n_matched,
         |    count(CASE WHEN cnt_cur IS NOT NULL AND cnt_prev IS NULL
         |               THEN 1 END) AS n_new,
         |    count(CASE WHEN cnt_cur IS NULL AND cnt_prev IS NOT NULL
         |               THEN 1 END) AS n_gone,
         |    max(total_cur) AS total_cur, max(total_prev) AS total_prev,
         |    COALESCE(CAST(sum(CASE WHEN cnt_cur IS NOT NULL AND cnt_prev IS NOT NULL
         |      THEN CAST(FLOOR(
         |        (CAST(cnt_cur AS DOUBLE) / CAST(total_cur AS DOUBLE)
         |         - CAST(cnt_prev AS DOUBLE) / CAST(total_prev AS DOUBLE))
         |        * LN((CAST(cnt_cur AS DOUBLE) / CAST(total_cur AS DOUBLE))
         |             / (CAST(cnt_prev AS DOUBLE) / CAST(total_prev AS DOUBLE)))
         |        * 1e9) AS BIGINT) END) AS BIGINT), 0) AS psi_nano_sum
         |  FROM p GROUP BY 1, 2)
         |SELECT *, CAST(psi_nano_sum AS DOUBLE) / 1e9 AS psi
         |FROM s WHERE total_cur IS NOT NULL""".stripMargin,
    "q_kmv_distinct" ->
      s"""$PtsCte,
         |hs AS (
         |  SELECT DISTINCT source, CAST(pos // 64 AS INT) AS bucket,
         |         CAST(pos - pos % 3600 AS INT) AS window_start,
         |         (((CAST(tok AS BIGINT) + 1) * 2654435761) % 1000000007)
         |           * 2654435761 % 1000000007 AS h
         |  FROM pts),
         |r AS (
         |  SELECT *, row_number() OVER w AS rk,
         |         count(*) OVER (PARTITION BY source, bucket, window_start) AS nd
         |  FROM hs
         |  WINDOW w AS (PARTITION BY source, bucket, window_start ORDER BY h))
         |SELECT source, bucket, window_start,
         |       CAST(LEAST(nd, 64) AS INT) AS n_kept,
         |       CASE WHEN nd >= 64 THEN h END AS kth_min,
         |       CASE WHEN nd >= 64 THEN 63.0 * 1000000007 / CAST(h AS DOUBLE)
         |            ELSE CAST(LEAST(nd, 64) AS DOUBLE) END AS est_distinct
         |FROM r WHERE rk = LEAST(nd, 64)""".stripMargin,
    "q_cms_topk" ->
      s"""$PtsCte,
         |e AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS cnt
         |      FROM pts GROUP BY 1, 2),
         |t AS (
         |  SELECT *, CAST(row_number() OVER (
         |    PARTITION BY source ORDER BY cnt DESC, tok) AS INT) AS rank
         |  FROM e),
         |rr AS (SELECT CAST(unnest(range(0, 4)) AS INT) AS r),
         |cells AS (
         |  SELECT source, rr.r AS r,
         |         CAST((((CAST(tok AS BIGINT) + 1)
         |             * (((rr.r + 1) * 2654435761) % 1000000007)
         |           + ((rr.r + 1) * 40503 + 7) % 1000000007)
         |           % 1000000007) % 1024 AS INT) AS c,
         |         CAST(count(*) AS BIGINT) AS cell_cnt
         |  FROM pts, rr GROUP BY 1, 2, 3),
         |tke AS (
         |  SELECT t.source, t.tok, t.cnt, t.rank, rr.r AS r,
         |         CAST((((CAST(t.tok AS BIGINT) + 1)
         |             * (((rr.r + 1) * 2654435761) % 1000000007)
         |           + ((rr.r + 1) * 40503 + 7) % 1000000007)
         |           % 1000000007) % 1024 AS INT) AS c
         |  FROM t, rr WHERE t.rank <= 20)
         |SELECT source, tok, cnt, rank,
         |       CAST(min(cell_cnt) AS BIGINT) AS est_cnt
         |FROM tke JOIN cells USING (source, r, c)
         |GROUP BY 1, 2, 3, 4""".stripMargin
  )
}
