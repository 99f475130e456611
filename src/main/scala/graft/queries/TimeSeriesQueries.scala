package graft.queries

import graft.core.Tier
import graft.operators.{AsOfJoin, GapFill, Rollup, Sessionize}
import graft.sources.{Parquet, TokenTable}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-series operators over the events table and the token tiers:
 * gap-fill (dense spine + LOCF), as-of join, sessionization, running
 * windows, per-group top-k.
 *
 * Float discipline: every cross-row sum goes through DECIMAL(18,2) (values
 * have 2 decimals → exact) and is cast to double only at the end, so Spark
 * and DuckDB agree bitwise regardless of aggregation order. */
object TimeSeriesQueries {

  private def events(s: SparkSession, dir: String): DataFrame =
    Parquet.read(s, s"$dir/events.parquet")

  val q: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Gap-fill on real timestamps: hourly continuous aggregate per user,
    // dense hour spine from each user's first to last hour, LOCF on the
    // summed value, zero-fill on the count.
    "q_gapfill_hourly" -> ((s, dir) => {
      val obs = events(s, dir)
        .groupBy(
          col("user_id"),
          unix_timestamp(date_trunc("hour", col("ts"))).as("hour_start"))
        .agg(
          sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_v"),
          count(lit(1)).as("cnt"))
      GapFill.gapFill(
        obs,
        keys = Seq("user_id"),
        windowCol = "hour_start",
        width = 3600L,
        fillCols = Seq("sum_v"),
        zeroCols = Map("cnt" -> lit(0L)))
    }),

    // Gap-fill on the 1m token tier itself: every 4th window is dropped at
    // the source level (mask depends only on position, so the gap survives
    // the cross-doc aggregation), then the dense spine restores it with
    // LOCF-filled avg and zero count (north-rule gap-fill semantics).
    "q_gapfill_tier" -> ((s, dir) => {
      val sparse = TokenTable
        .points(s, dir)
        .filter(expr("(pos div 60) % 4 != 0"))
      val tier = Rollup
        .rollupFromPoints(sparse, Tier.OneMinute)
        .select("source", "bucket", "window_start", "avg_tok", "cnt_tok")
      GapFill.gapFill(
        tier,
        keys = Seq("source", "bucket"),
        windowCol = "window_start",
        width = 60L,
        fillCols = Seq("avg_tok"),
        zeroCols = Map("cnt_tok" -> lit(0L)))
    }),

    // Linear-interpolation gap-fill on the 1m tier's window sums: every
    // 4th window dropped at the source level, then interior gaps take the
    // exact milli fixed-point straight line between neighbors (edge gaps
    // stay NULL). The fourth imputation strategy beside LOCF / constant /
    // causal-mean.
    "q_gapfill_linear" -> ((s, dir) => {
      val sparse = TokenTable
        .points(s, dir)
        .filter(expr("(pos div 60) % 4 != 0"))
      val tier = Rollup
        .rollupFromPoints(sparse, Tier.OneMinute)
        .select("source", "bucket", "window_start", "sum_tok")
      GapFill.linearInterpolate(
        tier,
        keys = Seq("source", "bucket"),
        windowCol = "window_start",
        width = 60L,
        valueCol = "sum_tok")
    }),

    // Cohort retention over the events table: users grouped by first-seen
    // day (epoch days), activity counted as distinct users per
    // (cohort, day-offset) — the classic retention triangle. Exact:
    // day arithmetic is integer, counts are exact distinct.
    "q_cohort_retention" -> ((s, dir) => {
      val ev = events(s, dir)
        .select(
          col("user_id"),
          datediff(to_date(col("ts")), lit("1970-01-01")).cast("int").as("day"))
      val cohort = ev
        .groupBy(col("user_id"))
        .agg(min(col("day")).as("cohort_day"))
      ev
        .distinct()
        .join(cohort, Seq("user_id"))
        .groupBy(
          col("cohort_day"),
          (col("day") - col("cohort_day")).as("day_offset"))
        .agg(countDistinct(col("user_id")).as("n_users"))
    }),

    // Time-weighted integrals per user over the IRREGULAR event stream:
    // trapezoidal area (auc2 = 2x, keeping terms integer) + LOCF step
    // area over exact cents x micros, TWA doubles derived once.
    "q_time_weighted" -> ((s, dir) =>
      graft.operators.SeriesAnalytics.timeWeighted(
        events(s, dir)
          .select(
            col("user_id"),
            col("event_id"),
            unix_micros(col("ts").cast("timestamp")).as("ts_us"),
            expr("CAST(ROUND(value * 100) AS BIGINT)").as("cents")),
        keys = Seq("user_id"),
        tsMicrosCol = "ts_us",
        valueCol = "cents",
        tieBreak = Seq("event_id"))),

    // OHLC candlesticks: hourly open/high/low/close of the event value
    // per event type, open/close under a TOTAL order (ts, event_id).
    "q_ohlc" -> ((s, dir) =>
      graft.operators.SeriesAnalytics.ohlc(
        events(s, dir)
          .select(
            col("event_type"),
            col("event_id"),
            unix_micros(col("ts").cast("timestamp")).as("ts_us"),
            col("value")),
        keys = Seq("event_type"),
        tsMicrosCol = "ts_us",
        valueCol = "value",
        windowMicros = 3600000000L,
        tieBreak = Seq("event_id"))),

    // Merged-interval coverage: per user, the exact union length of the
    // per-event-type activity spans [first event, last event] — islands
    // fuse where spans overlap (gaps-and-islands over intervals).
    "q_covered_time" -> ((s, dir) =>
      graft.operators.SeriesAnalytics.coveredTime(
        events(s, dir)
          .groupBy(col("user_id"), col("event_type"))
          .agg(
            min(unix_micros(col("ts").cast("timestamp"))).as("start_us"),
            max(unix_micros(col("ts").cast("timestamp"))).as("end_us")),
        keys = Seq("user_id"),
        startCol = "start_us",
        endCol = "end_us")),

    // As-of join: each purchase gets the most recent at-or-before signup
    // value of the same user (union-tag + LOCF window — one linear shuffle,
    // no range-join blowup).
    "q_asof_purchase_signup" -> ((s, dir) => {
      val ev = events(s, dir)
      val purchases = ev
        .filter(col("event_type") === "purchase")
        .select(
          col("event_id"),
          col("user_id"),
          unix_micros(col("ts").cast("timestamp")).as("ts_us"),
          col("value"))
      val signups = ev
        .filter(col("event_type") === "signup")
        .select(
          col("user_id"),
          unix_micros(col("ts").cast("timestamp")).as("s_ts_us"),
          col("value").as("signup_value"))
      AsOfJoin.asOf(
        purchases,
        signups,
        keys = Seq("user_id"),
        leftTime = "ts_us",
        rightTime = "s_ts_us",
        payload = Seq("signup_value"))
    }),

    // As-of join with a match tolerance (pandas merge_asof semantics):
    // same join but matches older than 7 days are dropped to NULL.
    "q_asof_tolerance" -> ((s, dir) => {
      val ev = events(s, dir)
      val purchases = ev
        .filter(col("event_type") === "purchase")
        .select(
          col("event_id"),
          col("user_id"),
          unix_micros(col("ts").cast("timestamp")).as("ts_us"),
          col("value"))
      val signups = ev
        .filter(col("event_type") === "signup")
        .select(
          col("user_id"),
          unix_micros(col("ts").cast("timestamp")).as("s_ts_us"),
          col("value").as("signup_value"))
      AsOfJoin.asOf(
        purchases,
        signups,
        keys = Seq("user_id"),
        leftTime = "ts_us",
        rightTime = "s_ts_us",
        payload = Seq("signup_value"),
        tolerance = Some(7L * 86400L * 1000000L))
    }),

    // Bucketed range join (the scale-safe interval join — no pairwise
    // range comparison): every event inside [first purchase, +1h] per
    // user, aggregated per interval. 15-minute buckets.
    "q_range_join" -> ((s, dir) => {
      val ev = events(s, dir)
        .select(
          col("user_id"),
          col("event_id"),
          unix_micros(col("ts").cast("timestamp")).as("ts_us"),
          col("value"))
      val intervals = events(s, dir)
        .filter(col("event_type") === "purchase")
        .groupBy(col("user_id"))
        .agg(min(unix_micros(col("ts").cast("timestamp"))).as("start_us"))
        .withColumn("end_us", col("start_us") + 3600000000L)
      graft.operators.RangeJoin
        .pointsInIntervals(
          ev,
          keys = Seq("user_id"),
          tCol = "ts_us",
          intervals = intervals,
          startCol = "start_us",
          endCol = "end_us",
          bucketWidth = 900000000L)
        .groupBy(col("user_id"), col("start_us"), col("end_us"))
        .agg(
          count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
    }),

    // Gap-based sessionization (30 min), then per-session aggregates.
    "q_sessionize" -> ((s, dir) => {
      val ev = events(s, dir)
        .select(
          col("user_id"),
          col("event_id"),
          unix_micros(col("ts").cast("timestamp")).as("ts_us"),
          col("value"))
      Sessionize
        .assignSessions(ev, Seq("user_id"), "ts_us", 1800000000L, tieBreak = Seq("event_id"))
        .groupBy(col("user_id"), col("session_id"))
        .agg(
          count(lit(1)).as("n_events"),
          min(col("ts_us")).as("start_us"),
          max(col("ts_us")).as("end_us"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
    }),

    // Running cumulative sum + previous value per user ordered by time
    // (ancestor: the reference's cumulative time-id / causal-mean windows,
    // transform/imputation.py:89-107).
    "q_window_running" -> ((s, dir) => {
      // event_id tie-break: lag/row_number over ts alone would be
      // nondeterministic if two events of one user share a timestamp
      val w = Window
        .partitionBy(col("user_id"))
        .orderBy(col("ts_us"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val byTime = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
      events(s, dir)
        .select(
          col("user_id"),
          col("event_id"),
          unix_micros(col("ts").cast("timestamp")).as("ts_us"),
          col("value"))
        .withColumn(
          "run_sum",
          sum(col("value").cast("decimal(18,2)")).over(w).cast("double"))
        .withColumn("prev_value", lag(col("value"), 1).over(byTime))
        .withColumn("rn", row_number().over(byTime))
    }),

    // LTTB downsample to 20 points per user — fed from the HOURLY tier
    // aggregate, whose per-key series length is bounded by
    // retention-span/3600 by construction (running flatMapGroups LTTB on
    // raw events would buffer an unbounded hot-user group; for genuinely
    // unbounded inputs use Downsample.lttbChunked). No SQL oracle
    // (sequential selection is not SQL-expressible) — rows-only check;
    // golden + invariant + chunked==plain coverage in DownsampleSpec.
    "q_lttb_events" -> ((s, dir) =>
      graft.operators.Downsample.lttb(
        s,
        events(s, dir)
          .groupBy(
            col("user_id"),
            unix_timestamp(date_trunc("hour", col("ts"))).as("x"))
          .agg(sum(col("value").cast("decimal(18,2)")).cast("double").as("y")),
        keyCol = "user_id",
        xCol = "x",
        yCol = "y",
        threshold = 20)),

    // The SQL-checkable HALF of the LTTB geometry (round-4 VERDICT #8):
    // the sequential area-argmax is not SQL-expressible, but the selection
    // grid is — per series: output count, first/last anchors == the series
    // extremes, every interior bucket covered by EXACTLY one selected
    // point, and zero in-bucket membership violations (each interior
    // rank inside [floor(b*every)+1, floor((b+1)*every)+1), the same
    // IEEE-double boundary arithmetic the core uses).
    "q_lttb_anchors" -> ((s, dir) => {
      val t = 20
      val sel = graft.operators.Downsample.lttbIndexed(
        s,
        events(s, dir)
          .groupBy(
            col("user_id"),
            unix_timestamp(date_trunc("hour", col("ts"))).as("x"))
          .agg(sum(col("value").cast("decimal(18,2)")).cast("double").as("y")),
        keyCol = "user_id",
        xCol = "x",
        yCol = "y",
        threshold = t)
      val every = (col("n_in") - 2).cast("double") / lit((t - 2).toDouble)
      val bucket = (col("sel_pos") - 1).cast("double")
      val bStart = floor(bucket * every).cast("long") + 1
      val bEnd = least(floor((bucket + 1) * every).cast("long") + 1, col("n_in").cast("long"))
      // buckets only exist when the series actually reduces (n_in > t)
      val interior = col("n_in") > t && col("sel_pos") > 0 && col("sel_pos") < t - 1
      val inBucket = col("rank") >= bStart && col("rank") < bEnd
      sel
        .groupBy(col("user_id"))
        .agg(
          max(col("n_in")).as("n_in"),
          count(lit(1)).cast("int").as("n_out"),
          min(col("x")).as("first_x"),
          min_by(col("y"), col("x")).as("first_y"),
          max(col("x")).as("last_x"),
          max_by(col("y"), col("x")).as("last_y"),
          countDistinct(when(interior, col("sel_pos"))).as("buckets_covered"),
          count(when(interior && !inBucket, lit(1))).as("bucket_violations"))
    }),

    // Top-3 events by value per user (deterministic tie-break on event_id;
    // ancestor: per-group argmin patch-size selection,
    // model/moirai/forecast.py:255-333).
    "q_topk_events" -> ((s, dir) => {
      val w = Window
        .partitionBy(col("user_id"))
        .orderBy(col("value").desc, col("event_id"))
      events(s, dir)
        .select(col("user_id"), col("event_id"), col("value"))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
    })
  )

  val oracle: Map[String, String] = Map(
    // the geometry invariants of a CORRECT LTTB selection, computed from
    // the input alone: n_out = min(n, 20); anchors = the series extremes;
    // 18 interior buckets each covered once (when the series reduces);
    // zero membership violations
    "q_lttb_anchors" ->
      """WITH h AS (
        |  SELECT user_id, CAST(epoch(date_trunc('hour', ts)) AS DOUBLE) AS x,
        |         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS y
        |  FROM events GROUP BY user_id, epoch(date_trunc('hour', ts)))
        |SELECT user_id,
        |       CAST(count(*) AS INT) AS n_in,
        |       CAST(LEAST(count(*), 20) AS INT) AS n_out,
        |       CAST(min(x) AS DOUBLE) AS first_x,
        |       CAST(arg_min(y, x) AS DOUBLE) AS first_y,
        |       CAST(max(x) AS DOUBLE) AS last_x,
        |       CAST(arg_max(y, x) AS DOUBLE) AS last_y,
        |       CAST(CASE WHEN count(*) > 20 THEN 18 ELSE 0 END AS BIGINT)
        |         AS buckets_covered,
        |       CAST(0 AS BIGINT) AS bucket_violations
        |FROM h GROUP BY 1""".stripMargin,
    "q_gapfill_hourly" ->
      """WITH obs AS (
        |  SELECT user_id, epoch(date_trunc('hour', ts))::BIGINT AS hour_start,
        |         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v,
        |         count(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |spine AS (
        |  SELECT user_id, CAST(t.h AS BIGINT) AS hour_start
        |  FROM (SELECT user_id, min(hour_start) AS w0, max(hour_start) AS w1
        |        FROM obs GROUP BY 1) b,
        |       LATERAL (SELECT unnest(range(b.w0, b.w1 + 1, 3600)) AS h) t)
        |SELECT s.user_id, s.hour_start,
        |       LAST_VALUE(o.sum_v IGNORE NULLS) OVER (
        |         PARTITION BY s.user_id ORDER BY s.hour_start
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sum_v,
        |       COALESCE(o.cnt, 0) AS cnt
        |FROM spine s LEFT JOIN obs o USING (user_id, hour_start)""".stripMargin,
    "q_gapfill_tier" ->
      s"""${TokenRollupQueries.PtsCte},
         |obs AS (
         |  SELECT source, CAST(pos // 64 AS INT) AS bucket,
         |         CAST((pos // 60) * 60 AS INT) AS window_start,
         |         CAST(sum(tok) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_tok,
         |         count(*) AS cnt_tok
         |  FROM pts WHERE (pos // 60) % 4 <> 0 GROUP BY 1, 2, 3),
         |spine AS (
         |  SELECT source, bucket, CAST(t.w AS INT) AS window_start
         |  FROM (SELECT source, bucket, min(window_start) AS w0,
         |               max(window_start) AS w1 FROM obs GROUP BY 1, 2) b,
         |       LATERAL (SELECT unnest(range(b.w0, b.w1 + 1, 60)) AS w) t)
         |SELECT s.source, s.bucket, s.window_start,
         |       LAST_VALUE(o.avg_tok IGNORE NULLS) OVER (
         |         PARTITION BY s.source, s.bucket ORDER BY s.window_start
         |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS avg_tok,
         |       COALESCE(o.cnt_tok, 0) AS cnt_tok
         |FROM spine s LEFT JOIN obs o USING (source, bucket, window_start)""".stripMargin,
    "q_gapfill_linear" ->
      s"""${TokenRollupQueries.PtsCte},
         |obs AS (
         |  SELECT source, CAST(pos // 64 AS INT) AS bucket,
         |         CAST((pos // 60) * 60 AS INT) AS window_start,
         |         CAST(sum(tok) AS BIGINT) AS sum_tok
         |  FROM pts WHERE (pos // 60) % 4 <> 0 GROUP BY 1, 2, 3),
         |spine AS (
         |  SELECT source, bucket, CAST(t.w AS INT) AS window_start
         |  FROM (SELECT source, bucket, min(window_start) AS w0,
         |               max(window_start) AS w1 FROM obs GROUP BY 1, 2) b,
         |       LATERAL (SELECT unnest(range(b.w0, b.w1 + 1, 60)) AS w) t),
         |j AS (
         |  SELECT s.source, s.bucket, s.window_start, o.sum_tok
         |  FROM spine s LEFT JOIN obs o USING (source, bucket, window_start)),
         |n AS (
         |  SELECT *,
         |    LAST_VALUE(sum_tok IGNORE NULLS) OVER bk AS pv,
         |    LAST_VALUE(CASE WHEN sum_tok IS NOT NULL THEN window_start END
         |               IGNORE NULLS) OVER bk AS pw,
         |    FIRST_VALUE(sum_tok IGNORE NULLS) OVER fw AS nv,
         |    FIRST_VALUE(CASE WHEN sum_tok IS NOT NULL THEN window_start END
         |                IGNORE NULLS) OVER fw AS nw
         |  FROM j
         |  WINDOW bk AS (PARTITION BY source, bucket ORDER BY window_start
         |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         |         fw AS (PARTITION BY source, bucket ORDER BY window_start
         |                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
         |SELECT source, bucket, window_start, sum_tok,
         |       CASE WHEN sum_tok IS NOT NULL THEN sum_tok * 1000
         |            WHEN pv IS NOT NULL AND nv IS NOT NULL
         |            THEN pv * 1000 + ((nv - pv) * 1000 *
         |                 (window_start - pw)) // (nw - pw)
         |       END AS interp_milli,
         |       sum_tok IS NULL AS filled
         |FROM n""".stripMargin,
    "q_cohort_retention" ->
      """WITH e AS (
        |  SELECT user_id,
        |         CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS INT)
        |           AS day
        |  FROM events),
        |c AS (SELECT user_id, min(day) AS cohort_day FROM e GROUP BY 1),
        |a AS (SELECT DISTINCT user_id, day FROM e)
        |SELECT c.cohort_day, a.day - c.cohort_day AS day_offset,
        |       CAST(count(DISTINCT a.user_id) AS BIGINT) AS n_users
        |FROM a JOIN c USING (user_id)
        |GROUP BY 1, 2""".stripMargin,
    "q_time_weighted" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |         CAST(ROUND(value * 100) AS BIGINT) AS cents
        |  FROM events),
        |l AS (
        |  SELECT *, lead(ts_us) OVER w AS nt, lead(cents) OVER w AS nv
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
        |a AS (
        |  SELECT user_id, count(*) AS n_events,
        |         min(ts_us) AS t_first_us, max(ts_us) AS t_last_us,
        |         CAST(sum(CASE WHEN nt IS NOT NULL
        |                       THEN (cents + nv) * (nt - ts_us) END) AS BIGINT) AS auc2,
        |         CAST(sum(CASE WHEN nt IS NOT NULL
        |                       THEN cents * (nt - ts_us) END) AS BIGINT) AS auc_locf
        |  FROM l GROUP BY 1)
        |SELECT user_id, n_events, t_first_us, t_last_us, auc2, auc_locf,
        |       CASE WHEN t_last_us > t_first_us
        |            THEN CAST(auc2 AS DOUBLE)
        |                 / (2.0 * CAST(t_last_us - t_first_us AS DOUBLE))
        |       END AS twa_linear,
        |       CASE WHEN t_last_us > t_first_us
        |            THEN CAST(auc_locf AS DOUBLE)
        |                 / CAST(t_last_us - t_first_us AS DOUBLE)
        |       END AS twa_locf
        |FROM a""".stripMargin,
    "q_ohlc" ->
      """WITH e AS (
        |  SELECT event_type, event_id, epoch_us(ts) AS ts_us, value,
        |         CAST(epoch_us(ts) - epoch_us(ts) % 3600000000 AS BIGINT)
        |           AS window_us
        |  FROM events),
        |r AS (
        |  SELECT *,
        |         row_number() OVER (PARTITION BY event_type, window_us
        |                            ORDER BY ts_us, event_id) AS ra,
        |         row_number() OVER (PARTITION BY event_type, window_us
        |                            ORDER BY ts_us DESC, event_id DESC) AS rd
        |  FROM e)
        |SELECT event_type, window_us, count(*) AS n_events,
        |       max(CASE WHEN ra = 1 THEN value END) AS open,
        |       max(value) AS high, min(value) AS low,
        |       max(CASE WHEN rd = 1 THEN value END) AS close
        |FROM r GROUP BY 1, 2""".stripMargin,
    "q_covered_time" ->
      """WITH iv AS (
        |  SELECT user_id, event_type,
        |         min(epoch_us(ts)) AS start_us, max(epoch_us(ts)) AS end_us
        |  FROM events GROUP BY 1, 2),
        |m AS (
        |  SELECT *,
        |    max(end_us) OVER (PARTITION BY user_id ORDER BY start_us, end_us
        |                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS prev_max
        |  FROM iv),
        |isl AS (
        |  SELECT *,
        |    CAST(sum(CASE WHEN prev_max IS NULL OR start_us > prev_max
        |                  THEN 1 ELSE 0 END) OVER (
        |      PARTITION BY user_id ORDER BY start_us, end_us
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS island
        |  FROM m),
        |g AS (
        |  SELECT user_id, island, min(start_us) AS s, max(end_us) AS e
        |  FROM isl GROUP BY 1, 2)
        |SELECT user_id, count(*) AS n_islands,
        |       CAST(sum(e - s) AS BIGINT) AS covered_us
        |FROM g GROUP BY 1""".stripMargin,
    "q_asof_purchase_signup" ->
      """SELECT p.event_id, p.user_id, epoch_us(p.ts) AS ts_us, p.value,
        |       s.value AS asof_signup_value
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN
        |     (SELECT user_id, ts, value FROM events WHERE event_type = 'signup') s
        |ON p.user_id = s.user_id AND p.ts >= s.ts""".stripMargin,
    "q_asof_tolerance" ->
      """SELECT p.event_id, p.user_id, epoch_us(p.ts) AS ts_us, p.value,
        |       CASE WHEN epoch_us(p.ts) - epoch_us(s.ts) <= 604800000000
        |            THEN s.value END AS asof_signup_value
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN
        |     (SELECT user_id, ts, value FROM events WHERE event_type = 'signup') s
        |ON p.user_id = s.user_id AND p.ts >= s.ts""".stripMargin,
    "q_range_join" ->
      """WITH iv AS (
        |  SELECT user_id, min(epoch_us(ts)) AS start_us,
        |         min(epoch_us(ts)) + 3600000000 AS end_us
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1)
        |SELECT e.user_id, iv.start_us, iv.end_us,
        |       count(*) AS n_events,
        |       CAST(sum(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events e
        |JOIN iv ON e.user_id = iv.user_id
        |       AND epoch_us(e.ts) >= iv.start_us AND epoch_us(e.ts) <= iv.end_us
        |GROUP BY 1, 2, 3""".stripMargin,
    "q_sessionize" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us, value,
        |         CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER (
        |                PARTITION BY user_id ORDER BY epoch_us(ts), event_id) > 1800000000
        |              THEN 1 ELSE 0 END AS brk
        |  FROM events),
        |s AS (
        |  SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM e)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
        |       count(*) AS n_events, min(ts_us) AS start_us, max(ts_us) AS end_us,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM s GROUP BY 1, 2""".stripMargin,
    "q_window_running" ->
      """SELECT user_id, event_id, epoch_us(ts) AS ts_us, value,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER (
        |         PARTITION BY user_id ORDER BY epoch_us(ts), event_id
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS run_sum,
        |       lag(value) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev_value,
        |       CAST(row_number() OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS INT) AS rn
        |FROM events""".stripMargin,
    "q_topk_events" ->
      """SELECT user_id, event_id, value, CAST(rnk AS INT) AS rnk
        |FROM (SELECT user_id, event_id, value,
        |             row_number() OVER (PARTITION BY user_id
        |               ORDER BY value DESC, event_id) AS rnk
        |      FROM events)
        |WHERE rnk <= 3""".stripMargin
  )
}
