package graft.operators

import graft.core.Tier
import graft.functions.GraftFunctions.call
import org.apache.spark.sql.{Column, DataFrame, RelationalGroupedDataset}
import org.apache.spark.sql.functions._

/**
 * Series analytics over the token table and its tiers: window outlier
 * detection, exponential smoothing, and cross-source correlation — the
 * observability layer a tier-timeseries store grows once the rollups
 * exist (outlier flags per window, smoothed levels, correlated sources).
 *
 * Arithmetic discipline matches the tier ladder: every aggregate that
 * crosses rows is an exact integer; doubles appear only in fixed
 * derivation expressions over those exact operands, so a SQL engine
 * running the same formula reproduces each value bit-for-bit.
 */
object SeriesAnalytics {

  /** Per-patch z-score outlier counts over the raw token arrays. A
   * point is an outlier when |x - mean| > z * sqrt(var) with mean and
   * sample variance derived from the patch's own exact sums (the tier
   * varExpr derivation). Computed entirely by the `arr_zscore_outliers`
   * row kernel: no explode, no shuffle — at 100 TB this is a map over
   * the document scan, embarrassingly parallel. */
  def patchOutliers(
      raw: DataFrame,
      width: Int,
      z: Double): DataFrame = {
    raw
      .select(
        col("doc_id"),
        col("source"),
        col("n_tok"),
        posexplode(
          call("arr_zscore_outliers", col("tokens"), lit(width), lit(z)))
          .as(Seq("patch_idx", "n_outliers")))
      .select(
        col("doc_id"),
        col("source"),
        col("patch_idx"),
        least(lit(width), col("n_tok") - col("patch_idx") * width)
          .cast("int")
          .as("patch_len"),
        col("n_outliers"))
  }

  /** Final EWMA(alpha = 1/2) level per document, first-element seeded —
   * the SQL `list_reduce` fold shape, so the oracle replays the exact
   * IEEE op sequence. Row-local kernel: zero shuffles. */
  def ewmaLevels(raw: DataFrame): DataFrame = {
    raw.select(
      col("doc_id"),
      col("source"),
      col("n_tok"),
      call("arr_ewma_half", col("tokens")).as("ewma_half"))
  }

  /** Continuous alerting over a tier: windows whose `valueCol` exceeds
   * `threshold` for at least `k` STRICTLY ADJACENT windows (gap-free
   * runs — a missing window breaks the run, the conservative alerting
   * convention). Classic gaps-and-islands: island key = window index
   * minus the breach's rank, one row per breaching window annotated
   * with its run length, filtered to runs >= k.
   *
   * Deterministic cross-engine: the breach compare is on the tier's
   * derived double (exact-int derivation), ordering is by the unique
   * window_start, and the island arithmetic is integer. One shuffle on
   * the tier's own key. */
  def consecutiveBreaches(
      tier: DataFrame,
      valueCol: String,
      threshold: Double,
      k: Int,
      windowWidth: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    import org.apache.spark.sql.expressions.Window
    val byKey = Window
      .partitionBy(col("source"), col("bucket"))
      .orderBy(col("window_start"))
    val breaches = tier
      .filter(col(valueCol) > threshold)
      .withColumn(
        "island",
        // integer DIV, not double division: double round-trips are exact
        // only below 2^53, and window_start may one day carry epoch-scale
        // values. DIV and DuckDB's // BOTH truncate toward zero (measured:
        // -7 // 2 = -3 — // does NOT floor), so the two agree on the whole
        // BIGINT domain, negative (pre-epoch) offsets included;
        // m4Downsample's pixel and paaSax's paa_milli use the same DIV
        expr(s"window_start DIV $windowWidth") - row_number().over(byKey))
    val runs = Window.partitionBy(col("source"), col("bucket"), col("island"))
    breaches
      .withColumn("run_len", count(lit(1)).over(runs).cast("int"))
      .filter(col("run_len") >= k)
      .select(
        col("source"),
        col("bucket"),
        col("window_start"),
        col(valueCol).as("value"),
        col("run_len"))
  }

  /** Exact distinct-value cardinality per tier window — the
   * cardinality-monitoring face of the tier store. Spark executes
   * countDistinct as a two-phase aggregate: map-side (key, tok) dedup
   * bounds the shuffle by distinct pairs, not points. */
  def windowCardinality(points: DataFrame, windowWidth: Int): DataFrame =
    points
      .groupBy(
        col("source"),
        Tier.bucket,
        Tier.windowStart(windowWidth))
      .agg(
        countDistinct(col("tok")).as("n_distinct"),
        count(lit(1)).as("cnt_tok"))

  /** Exact top-k heavy-hitter tokens per (source, bucket), ties broken
   * toward the smaller token — groupBy count then a per-key window
   * rank over the (already tiny) per-token aggregate. */
  def heavyHitters(points: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    import org.apache.spark.sql.expressions.Window
    val rank = Window
      .partitionBy(col("source"), col("bucket"))
      .orderBy(col("cnt").desc, col("tok").asc)
    points
      .groupBy(
        col("source"),
        Tier.bucket,
        col("tok"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("rank", row_number().over(rank))
      .filter(col("rank") <= k)
  }

  /** Exact fixed-bin value histogram per (source, bucket): one count
   * row per occupied bin, bin = tok DIV binWidth. The fixed-memory
   * distribution sketch of the tier store — one partial-aggregated
   * groupBy whose shuffle volume is bounded by
   * |sources|x|buckets|x|bins|, never the point count. */
  def tierHistogram(points: DataFrame, binWidth: Int): DataFrame = {
    require(binWidth >= 1, s"binWidth must be >= 1, got $binWidth")
    points
      .groupBy(
        col("source"),
        Tier.bucket,
        expr(s"CAST(tok DIV $binWidth AS INT)").as("bin"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Median bin per (source, bucket) from the exact histogram: the
   * smallest bin whose cumulative count reaches half the total — the
   * q = 500‰ case of [[histogramQuantileBins]] (one rule, one
   * implementation: the two can never disagree). */
  def histogramMedianBin(hist: DataFrame): DataFrame =
    histogramQuantileBins(hist, Seq(500))
      .select(col("source"), col("bucket"), col("q_bin").as("p50_bin"), col("total_cnt"))

  /** Arbitrary histogram quantiles per (source, bucket) from the exact
   * histogram — the [[histogramMedianBin]] rule generalized: for each
   * requested permille q, the smallest bin whose cumulative count
   * reaches q‰ of the total (pure integer arithmetic,
   * cum x 1000 >= q x total). One window pass computes every quantile —
   * the permille list explodes onto the cumulated rows and the final
   * groupBy on (key, q) reuses the window's key partitioning (superset
   * clustering, no extra exchange). */
  def histogramQuantileBins(hist: DataFrame, permilles: Seq[Int]): DataFrame = {
    require(permilles.nonEmpty, "permilles must be nonempty")
    require(
      permilles.forall(q => q >= 1 && q <= 1000),
      s"permilles must be in [1, 1000], got $permilles")
    import org.apache.spark.sql.expressions.Window
    val byKey = Window.partitionBy(col("source"), col("bucket"))
    val cum = byKey.orderBy(col("bin"))
    hist
      .withColumn("cum", sum(col("cnt")).over(cum))
      .withColumn("total_cnt", sum(col("cnt")).over(byKey))
      .withColumn("q_permille", explode(array(permilles.map(lit(_)): _*)))
      .filter(col("cum") * 1000 >= col("q_permille") * col("total_cnt"))
      .groupBy(col("source"), col("bucket"), col("q_permille"))
      .agg(min(col("bin")).as("q_bin"), min(col("total_cnt")).as("total_cnt"))
  }

  /** Trailing-k-window rolling stats over a tier: per (source, bucket)
   * ordered by window_start, the exact sums of the last k windows and
   * the derived rolling average token. One shuffle on the tier's own
   * key; window frames never leave the partition. */
  def rollingTierStats(tier: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    import org.apache.spark.sql.expressions.Window
    val frame = Window
      .partitionBy(col("source"), col("bucket"))
      .orderBy(col("window_start"))
      .rowsBetween(-(k - 1), 0)
    tier
      .select(col("source"), col("bucket"), col("window_start"), col("sum_tok"), col("cnt_tok"))
      .withColumn("roll_sum", sum(col("sum_tok")).over(frame))
      .withColumn("roll_pts", sum(col("cnt_tok")).over(frame))
      .withColumn(
        "roll_avg",
        col("roll_sum").cast("double") / col("roll_pts").cast("double"))
  }

  /** Counter-rate over a tier — the PromQL `increase`/`rate` shape
   * (reset-aware monotonic-counter delta): per (source, bucket) ordered
   * by window_start, `increase` = value - previous value, except a DROP
   * in a monotonic counter marks a counter RESET and the increase since
   * the reset is the value itself (the PromQL convention; a reset's
   * pre-drop residual is unobservable). `rate_per_unit` divides by the
   * ACTUAL spacing to the previous window, so gaps in the tier dilute
   * the rate instead of inflating it. First window of each key has no
   * predecessor: NULL increase/rate, kept (the caller sees the series
   * head explicitly).
   *
   * One shuffle on the tier's own key; the lag frame never leaves the
   * partition. Exact: value/increase are BIGINTs, the rate is one
   * division of exact operands. */
  def counterRate(tier: DataFrame, valueCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byKey = Window
      .partitionBy(col("source"), col("bucket"))
      .orderBy(col("window_start"))
    tier
      .select(
        col("source"),
        col("bucket"),
        col("window_start"),
        col(valueCol).cast("long").as("value"))
      .withColumn("prev_value", lag(col("value"), 1).over(byKey))
      .withColumn("prev_window", lag(col("window_start"), 1).over(byKey))
      .withColumn(
        "increase",
        when(col("prev_value").isNull, lit(null).cast("long"))
          .when(col("value") >= col("prev_value"), col("value") - col("prev_value"))
          .otherwise(col("value")))
      .withColumn(
        "rate_per_unit",
        col("increase").cast("double") /
          (col("window_start") - col("prev_window")).cast("double"))
      .drop("prev_value", "prev_window")
  }

  /** M4 downsampling over a tier (Jugel et al., PVLDB 2014): per
   * (source, bucket, pixel) keep ONLY the up-to-4 anchor windows — first,
   * last, value-min, value-max — the set that makes a line rendering of
   * the downsample pixel-identical to rendering all points. The exact
   * complement to LTTB (which optimizes perceived shape; M4 guarantees
   * the raster). Ties on min/max value resolve to the EARLIEST window
   * (deterministic cross-engine); one row per surviving window with
   * boolean role flags (a window can hold several roles).
   *
   * One shuffle on (source, bucket, pixel); every aggregate is a window
   * function over that partition, and the filter keeps <= 4 rows per
   * pixel, so output is bounded by pixels x 4, never by windows. */
  def m4Downsample(tier: DataFrame, valueCol: String, pixelWidth: Long): DataFrame = {
    require(pixelWidth >= 1, s"pixelWidth must be >= 1, got $pixelWidth")
    import org.apache.spark.sql.expressions.Window
    val byPix = Window.partitionBy(col("source"), col("bucket"), col("pixel"))
    tier
      .select(
        col("source"),
        col("bucket"),
        col("window_start"),
        col(valueCol).cast("long").as("value"))
      .withColumn("pixel", expr(s"window_start DIV $pixelWidth"))
      .withColumn("_ws_min", min(col("window_start")).over(byPix))
      .withColumn("_ws_max", max(col("window_start")).over(byPix))
      .withColumn("_v_min", min(col("value")).over(byPix))
      .withColumn("_v_max", max(col("value")).over(byPix))
      .withColumn(
        "_ws_of_vmin",
        min(when(col("value") === col("_v_min"), col("window_start"))).over(byPix))
      .withColumn(
        "_ws_of_vmax",
        min(when(col("value") === col("_v_max"), col("window_start"))).over(byPix))
      .filter(
        col("window_start") === col("_ws_min") ||
          col("window_start") === col("_ws_max") ||
          col("window_start") === col("_ws_of_vmin") ||
          col("window_start") === col("_ws_of_vmax"))
      .select(
        col("source"),
        col("bucket"),
        col("pixel"),
        col("window_start"),
        col("value"),
        (col("window_start") === col("_ws_min")).as("is_first"),
        (col("window_start") === col("_ws_max")).as("is_last"),
        (col("window_start") === col("_ws_of_vmin")).as("is_min"),
        (col("window_start") === col("_ws_of_vmax")).as("is_max"))
  }

  /** Exact autocorrelation moments per (source, bucket) and lag 1..maxLag
   * over a tier's value column: pairs (x_t, x_{t+lag}) are formed ONLY
   * for strictly adjacent windows (y's window_start must equal
   * window_start + lag x windowWidth — a gap breaks the pair, the
   * conservative convention matching consecutiveBreaches), accumulated
   * as the six exact BIGINT moments, with the Pearson ACF derived in one
   * fixed double formula (the sourceCorrelation discipline; NULL on zero
   * variance).
   *
   * ONE window shuffle computes all lags: the per-row lead() family
   * lands in a single array that explodes into (lag, y) pairs — maxLag
   * columns wide, never a second exchange — then one partial-aggregated
   * groupBy on (source, bucket, lag) whose shuffle volume is bounded by
   * keys x maxLag. */
  def autocorrelation(
      tier: DataFrame,
      valueCol: String,
      windowWidth: Int,
      maxLag: Int): DataFrame = {
    require(maxLag >= 1, s"maxLag must be >= 1, got $maxLag")
    import org.apache.spark.sql.expressions.Window
    val byKey = Window
      .partitionBy(col("source"), col("bucket"))
      .orderBy(col("window_start"))
    val leads = array((1 to maxLag).map { l =>
      struct(
        lit(l).as("lag"),
        lead(col("x"), l).over(byKey).as("y"),
        lead(col("window_start"), l).over(byKey).as("y_ws"))
    }: _*)
    val pairs = tier
      .select(
        col("source"),
        col("bucket"),
        col("window_start"),
        col(valueCol).cast("long").as("x"))
      // the window family must materialize in its own projection — Spark
      // rejects window expressions inside a generator's input
      .withColumn("_leads", leads)
      .withColumn("_l", explode(col("_leads")))
      .drop("_leads")
      .filter(
        col("_l.y").isNotNull &&
          col("_l.y_ws") === col("window_start") + col("_l.lag") * windowWidth)
      .groupBy(col("source"), col("bucket"), col("_l.lag").as("lag"))
    exactMoments(pairs, "n_pairs", col("x"), col("_l.y")).withColumn("acf", pearson("n_pairs"))
  }

  /** One-sided CUSUM drift detection per tier key (Page 1954): the
   * classic recursion S_t = max(0, S_{t-1} + (x_t - k)) rewritten via the
   * prefix-min identity S_t = P_t - min(0, min_{j<=t} P_j) with
   * P_t = sum_{i<=t}(x_i - k) — so the sequential fold becomes TWO window
   * aggregates over one partition (running sum, running min), fully
   * parallel within Spark's window machinery and expressible identically
   * in any SQL engine. `k` is the per-window allowance (reference drift),
   * `h` the alarm threshold; all arithmetic exact BIGINT. One shuffle on
   * the tier's own key. */
  def cusum(tier: DataFrame, valueCol: String, k: Long, h: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val prefix = Window
      .partitionBy(col("source"), col("bucket"))
      .orderBy(col("window_start"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tier
      .select(
        col("source"),
        col("bucket"),
        col("window_start"),
        col(valueCol).cast("long").as("value"))
      .withColumn("_p", sum(col("value") - lit(k)).over(prefix))
      .withColumn("cusum", col("_p") - least(min(col("_p")).over(prefix), lit(0L)))
      .withColumn("alarm", col("cusum") > h)
      .drop("_p")
  }

  /** Seasonal decomposition over a tier (seasonal-means method): each
   * window's phase is its position in a `period`-window cycle, the
   * seasonal component is the exact milli-scaled mean of the key's
   * windows sharing that phase, and the residual is the milli-scaled
   * deviation from it — all integer arithmetic
   * (sum x 1000 DIV count), so the decomposition hash-matches any SQL
   * engine. One shuffle on (source, bucket, phase); the seasonal means
   * are window aggregates over that partition (no second pass, no
   * join-back). */
  def seasonalDecompose(
      tier: DataFrame,
      valueCol: String,
      windowWidth: Int,
      period: Int): DataFrame = {
    require(period >= 2, s"period must be >= 2, got $period")
    import org.apache.spark.sql.expressions.Window
    val byPhase = Window.partitionBy(col("source"), col("bucket"), col("phase"))
    tier
      .select(
        col("source"),
        col("bucket"),
        col("window_start"),
        col(valueCol).cast("long").as("value"))
      .withColumn(
        "phase",
        expr(s"CAST((window_start DIV $windowWidth) % $period AS INT)"))
      .withColumn("_ssum", sum(col("value")).over(byPhase))
      .withColumn("_scnt", count(lit(1)).over(byPhase))
      // TRUNCATING division (DIV) on the whole BIGINT domain: value is a
      // caller-chosen column that may legitimately go negative (deltas,
      // residual metrics), and BOTH engines truncate toward zero here —
      // Spark's DIV by definition, and DuckDB's // as well (measured:
      // -7 // 2 = -3, i.e. // does NOT floor despite its Python looks).
      // A floor-division formula on this side would silently diverge
      // from the oracle's // exactly on negative sums, so the hash-match
      // contract holds by matching trunc-to-trunc, no domain caveat.
      .withColumn("seasonal_milli", expr("(_ssum * 1000) DIV _scnt"))
      .withColumn("resid_milli", col("value") * 1000 - col("seasonal_milli"))
      .drop("_ssum", "_scnt")
  }

  /** PAA + SAX symbolization of the raw token arrays (Lin et al., DMKD
   * 2007, on the raw value domain): each document's token series is cut
   * into `segLen`-point segments (arr_chunk — disjoint, so the explode
   * copies each token exactly once, no window amplification), each
   * segment reduced to its exact milli-scaled mean
   * (`sum x 1000 DIV len` — Piecewise Aggregate Approximation in
   * integer fixed point), then symbolized by the ordered `breakpoints`
   * (milli-token thresholds; letters 'a', 'b', ... per interval).
   * Shuffle-free: a map + generate over the document scan. */
  def paaSax(raw: DataFrame, segLen: Int, breakpoints: Seq[Long]): DataFrame = {
    require(segLen >= 1, s"segLen must be >= 1, got $segLen")
    require(
      breakpoints == breakpoints.sorted && breakpoints.nonEmpty,
      "breakpoints must be nonempty ascending")
    // the alphabet is 'a'..'z': more than 25 breakpoints would silently
    // truncate via the zip below — refuse instead
    require(
      breakpoints.size <= 25,
      s"paaSax: at most 25 breakpoints (26-letter alphabet), got ${breakpoints.size}")
    val letters = ('a' to 'z').take(breakpoints.size + 1).map(_.toString)
    val sax = breakpoints.zip(letters.init).foldRight(lit(letters.last)) {
      case ((bp, letter), acc) => when(col("paa_milli") < bp, lit(letter)).otherwise(acc)
    }
    raw
      .select(
        col("doc_id"),
        col("source"),
        posexplode(call("arr_chunk", col("tokens"), lit(segLen)))
          .as(Seq("seg_idx", "seg")))
      .select(
        col("doc_id"),
        col("source"),
        col("seg_idx"),
        size(col("seg")).as("seg_len"),
        call("arr_sum", col("seg")).as("seg_sum"))
      .withColumn("paa_milli", expr("seg_sum * 1000 DIV seg_len"))
      .withColumn("sax", sax)
  }

  /** Per-key least-squares trend line over a tier: regress `valueCol`
   * on window_start with the five exact BIGINT moments
   * (n, Σt, Σx, Σtx, Σt²) accumulated in one partial-aggregated groupBy,
   * slope/intercept derived in fixed double formulas (the
   * [[sourceCorrelation]] discipline — order-independent, so any SQL
   * engine reproduces them bit-for-bit). NULL slope when the key has
   * fewer than two distinct windows (zero time variance). One shuffle,
   * bounded by keys. */
  def trendLine(tier: DataFrame, valueCol: String): DataFrame =
    tier
      .select(
        col("source"),
        col("bucket"),
        col("window_start").cast("long").as("t"),
        col(valueCol).cast("long").as("x"))
      .groupBy(col("source"), col("bucket"))
      .agg(
        count(lit(1)).as("n_win"),
        sum(col("t")).as("st"),
        sum(col("x")).as("sx"),
        sum(col("t") * col("x")).as("stx"),
        sum(col("t") * col("t")).as("stt"))
      .withColumn(
        "slope",
        expr("""
          CASE WHEN CAST(n_win AS DOUBLE) * CAST(stt AS DOUBLE)
                    - CAST(st AS DOUBLE) * CAST(st AS DOUBLE) > 0
          THEN (CAST(n_win AS DOUBLE) * CAST(stx AS DOUBLE)
                - CAST(st AS DOUBLE) * CAST(sx AS DOUBLE))
               / (CAST(n_win AS DOUBLE) * CAST(stt AS DOUBLE)
                  - CAST(st AS DOUBLE) * CAST(st AS DOUBLE))
          ELSE NULL END"""))
      .withColumn(
        "intercept",
        expr("""
          CASE WHEN slope IS NOT NULL
          THEN (CAST(sx AS DOUBLE) - slope * CAST(st AS DOUBLE))
               / CAST(n_win AS DOUBLE)
          ELSE NULL END"""))

  /** Local extrema (peak/trough detection) over a tier: a window is a
   * PEAK when its value strictly exceeds both neighbors, a TROUGH when
   * strictly below both — and neighbors must be STRICTLY ADJACENT
   * (spacing exactly `windowWidth`; a gap disqualifies, the
   * conservative convention matching [[consecutiveBreaches]]). Series
   * edges have no two-sided neighborhood and never qualify. One
   * shuffle on the tier's own key; lag/lead never leave the
   * partition. */
  def localExtrema(tier: DataFrame, valueCol: String, windowWidth: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byKey = Window
      .partitionBy(col("source"), col("bucket"))
      .orderBy(col("window_start"))
    val adjacent =
      col("_pw") === col("window_start") - windowWidth &&
        col("_nw") === col("window_start") + windowWidth
    tier
      .select(
        col("source"),
        col("bucket"),
        col("window_start"),
        col(valueCol).cast("long").as("value"))
      .withColumn("_pv", lag(col("value"), 1).over(byKey))
      .withColumn("_pw", lag(col("window_start"), 1).over(byKey))
      .withColumn("_nv", lead(col("value"), 1).over(byKey))
      .withColumn("_nw", lead(col("window_start"), 1).over(byKey))
      .withColumn(
        "is_peak",
        adjacent && col("value") > col("_pv") && col("value") > col("_nv"))
      .withColumn(
        "is_trough",
        adjacent && col("value") < col("_pv") && col("value") < col("_nv"))
      .filter(col("is_peak") || col("is_trough"))
      .select(
        col("source"),
        col("bucket"),
        col("window_start"),
        col("value"),
        col("is_peak"),
        col("is_trough"))
  }

  /** Shannon entropy of the token distribution per tier window, in
   * exact nano-nats: per-(window, token) counts feed per-token terms
   * cnt x FLOOR(ln(total/cnt) x 1e9) — each term floored to a BIGINT
   * BEFORE the sum, so the cross-row accumulation is integer and
   * order-independent (the unigramLogLoss discipline; ln is
   * bit-identical JVM vs DuckDB libm on this engine's verified hosts).
   * `entropy_nats` = nano-sum / total / 1e9 is the one derived double.
   *
   * Scale shape: the first groupBy bounds everything downstream by
   * DISTINCT (key, window, token) pairs — never points; the window
   * total and final reduction run over that aggregate. The
   * distribution-health face of the tier store (a collapsing entropy
   * = a degenerate source). */
  def windowEntropy(points: DataFrame, windowWidth: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byWin = Window.partitionBy(col("source"), col("bucket"), col("window_start"))
    points
      .groupBy(
        col("source"),
        Tier.bucket,
        Tier.windowStart(windowWidth),
        col("tok"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("total", sum(col("cnt")).over(byWin))
      .withColumn(
        "_term",
        col("cnt") * expr(
          "CAST(FLOOR(LN(CAST(total AS DOUBLE) / CAST(cnt AS DOUBLE)) * 1e9) AS BIGINT)"))
      .groupBy(col("source"), col("bucket"), col("window_start"))
      .agg(
        count(lit(1)).as("n_distinct"),
        min(col("total")).as("cnt_tok"),
        sum(col("_term")).as("entropy_nano_sum"))
      .withColumn(
        "entropy_nats",
        expr("CAST(entropy_nano_sum AS DOUBLE) / 1e9 / CAST(cnt_tok AS DOUBLE)"))
  }

  /** KL divergence of each tier window's token distribution from its
   * source's GLOBAL distribution, in exact nano-nats — the
   * distribution-DRIFT detector (a window whose token mix wanders from
   * the source's historical mix shows up as a KL spike; CUSUM watches
   * the mean, this watches the shape). Per-token terms
   * cnt_w x FLOOR(ln((cnt_w x total_g) / (cnt_g x total_w)) x 1e9)
   * are floored to BIGINT before the sum ([[windowEntropy]]
   * discipline); every window token exists in its source's global
   * counts by construction, so q > 0 always and no smoothing is
   * needed.
   *
   * Scale shape: window counts are one groupBy bounded by distinct
   * (key, window, token) pairs, and that aggregate is consumed by ONE
   * lineage — per-window totals and per-source global token counts are
   * attached as window sums over it (exchanges bounded by the pairs),
   * never as join branches that would re-run the points aggregation
   * (measured: the branch shape recomputed the heavy aggregate because
   * exchange reuse does not canonicalize across the join's attribute
   * dedup — ~2x the cost of this shape). The per-source grand total is
   * a tiny rollup of the same pair aggregate (shared exchange stage),
   * bounded at one row per source, broadcast. No window partitions on
   * bare `source` (a single source's pairs would serialize into one
   * task at 10^12 scale); the widest partition key here is
   * (source, tok). */
  def klDrift(points: DataFrame, windowWidth: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byWin = Window.partitionBy(col("source"), col("bucket"), col("window_start"))
    val byTok = Window.partitionBy(col("source"), col("tok"))
    val winCnt = points
      .groupBy(
        col("source"),
        Tier.bucket,
        Tier.windowStart(windowWidth),
        col("tok"))
      .agg(count(lit(1)).as("cnt_w"))
    // per-source grand totals DERIVED from the pair aggregate (sum of the
    // per-pair counts == count of points, exactly), not from a second full
    // points pass: the winCnt exchange is a shared AQE stage, so this
    // branch costs one tiny rollup over already-aggregated rows where the
    // old count-only scan re-ran the explode over every point (round-8:
    // the ReusedExchange behavior is plan-asserted for the identical
    // shared-aggregate shape in the count-min test)
    val srcTotal = winCnt
      .groupBy(col("source"))
      .agg(sum(col("cnt_w")).as("total_g"))
    winCnt
      .withColumn("total_w", sum(col("cnt_w")).over(byWin))
      .withColumn("cnt_g", sum(col("cnt_w")).over(byTok))
      .join(broadcast(srcTotal), Seq("source"))
      .withColumn(
        "_term",
        col("cnt_w") * expr(
          """CAST(FLOOR(LN(CAST(cnt_w AS DOUBLE) * CAST(total_g AS DOUBLE)
            |  / (CAST(cnt_g AS DOUBLE) * CAST(total_w AS DOUBLE))) * 1e9) AS BIGINT)""".stripMargin))
      .groupBy(col("source"), col("bucket"), col("window_start"))
      .agg(
        count(lit(1)).as("n_distinct"),
        min(col("total_w")).as("cnt_tok"),
        sum(col("_term")).as("kl_nano_sum"))
      .withColumn(
        "kl_nats",
        expr("CAST(kl_nano_sum AS DOUBLE) / 1e9 / CAST(cnt_tok AS DOUBLE)"))
  }

  /** Vocabulary growth per source: the window where each (source,
   * token) pair is FIRST observed, rolled up to novel-token counts per
   * window plus the running cumulative vocabulary size — Heaps'-law
   * telemetry for a training corpus (a source whose curve goes flat
   * has stopped contributing new vocabulary). Two partial-aggregated
   * groupBys, both bounded by sources x vocab, then one window
   * cumulation over the per-window aggregate (rows = sources x
   * windows). */
  def vocabGrowth(points: DataFrame, windowWidth: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cum = Window
      .partitionBy(col("source"))
      .orderBy(col("window_start"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    points
      .groupBy(col("source"), col("tok"))
      .agg(min(Tier.windowStart(windowWidth)).as("window_start"))
      .groupBy(col("source"), col("window_start"))
      .agg(count(lit(1)).as("novel_tokens"))
      .withColumn("vocab_cum", sum(col("novel_tokens")).over(cum))
  }

  /** Exact-integer Pearson correlation between sources over their
   * ALIGNED tier windows: for each source pair (a < b), correlate the
   * window sums at identical (bucket, window_start) keys. All six
   * accumulated moments are exact BIGINTs (window sums < 2^25 at the
   * tested scales, squared products < 2^60 summed over < 2^8 windows);
   * the final correlation combines them in one fixed double formula —
   * bit-reproducible cross-engine. Null when either side has zero
   * variance across the aligned windows.
   *
   * Scale shape: the input is a TIER (already 1/window-width the size
   * of the points); the self-join shuffles on the window key and each
   * window emits |sources-in-window|^2 pair rows that partial-aggregate
   * map-side to one row per source pair. CARDINALITY WARNING for anyone
   * copying this pattern: the per-window pair fan-out is quadratic in
   * the sources sharing a window BEFORE the map-side collapse — fine at
   * survey-scale source counts (tens to hundreds), but at 10^4+
   * co-windowed sources the intermediate explodes 10^8-fold per window;
   * that regime needs blocking (correlate within source groups) or a
   * sketch, not this exact all-pairs join. */
  def sourceCorrelation(tier: DataFrame): DataFrame = {
    val a = tier.select(
      col("source").as("source_a"),
      col("bucket"),
      col("window_start"),
      col("sum_tok").as("x"))
    val b = tier.select(
      col("source").as("source_b"),
      col("bucket"),
      col("window_start"),
      col("sum_tok").as("y"))
    val pairs = a
      .join(b, Seq("bucket", "window_start"))
      .filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
    exactMoments(pairs, "n_win", col("x"), col("y")).withColumn("corr", pearson("n_win"))
  }

  /** Population-stability drift between CONSECUTIVE windows per source
   * (PSI over the token mix): [[klDrift]] watches a window against its
   * source's GLOBAL distribution; this watches window w against w-1 —
   * the sudden-shift detector (a corpus splice, an ingest bug, a format
   * change shows up as a PSI spike in exactly one window pair, where
   * the global-KL view smears it). Per matched token,
   * floor((p - q) * ln(p / q) * 1e9) with p = cnt_w/total_w and
   * q = cnt_prev/total_prev — each term is one fixed double expression
   * floored to BIGINT before the order-independent sum (the
   * [[windowEntropy]] discipline), and (p-q) and ln(p/q) share sign so
   * every term is >= 0 like PSI proper. Tokens present on one side
   * only are REPORTED (n_new / n_gone) rather than smoothed into the
   * sum — smoothing constants are presentation policy, churn counts
   * are facts.
   *
   * Per-source series, bucket collapsed by construction (a window
   * shift crosses bucket boundaries — the laggedCrossCorrelation
   * lesson). Single lineage: each (window, token) count row EXPLODES
   * into a `cur` role at w and a `prev` role at w+width, and the
   * role-pivot groupBy pairs consecutive windows with NO self-join —
   * the join-branch shape would re-run the points aggregation
   * (exchange reuse does not canonicalize across join attribute dedup,
   * measured on klDrift). Everything after the first groupBy is
   * bounded by distinct (source, window, token) pairs x 2. */
  def distributionShift(points: DataFrame, windowWidth: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byWin = Window.partitionBy(col("source"), col("window_start"))
    // Consecutive-window pairing by LAG/LEAD over each (source, token)
    // series instead of the former explode-into-two-roles + re-aggregate:
    // the role shape shuffled 2x the pair rows into a hash aggregate with
    // ~|pairs| groups keyed (source, window, tok); here the pair rows are
    // sorted once per (source, tok) — lag() attaches the previous
    // window's (cnt, total) when and only when that window is exactly
    // width behind (a matched token), lead() detects that the token is
    // absent from the NEXT window (gone: emit one phantom row anchored
    // there, carrying only prev-side values — exactly the rows the old
    // prev-role explode produced for vanished tokens). The final per-
    // window rollup then partial-aggregates into ~|windows| groups.
    // Row-for-row equal to the role-pivot by the case analysis in the
    // assertions below; the oracle replays the same result.
    val byTok = Window.partitionBy(col("source"), col("tok")).orderBy(col("window_start"))
    val paired = points
      .groupBy(
        col("source"),
        Tier.windowStart(windowWidth),
        col("tok"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("total", sum(col("cnt")).over(byWin))
      .withColumn("_lag_w", lag(col("window_start"), 1).over(byTok))
      .withColumn("_lag_cnt", lag(col("cnt"), 1).over(byTok))
      .withColumn("_lag_total", lag(col("total"), 1).over(byTok))
      .withColumn("_lead_w", lead(col("window_start"), 1).over(byTok))
      .withColumn(
        "_matched",
        col("_lag_w").isNotNull && col("_lag_w") === col("window_start") - windowWidth)
      .withColumn(
        "_gone",
        col("_lead_w").isNull || col("_lead_w") =!= col("window_start") + windowWidth)
    val roles = paired
      .select(
        col("source"),
        col("tok"),
        explode(
          concat(
            array(
              struct(
                col("window_start").as("w"),
                col("cnt").as("cnt_cur"),
                col("total").as("total_cur"),
                when(col("_matched"), col("_lag_cnt")).as("cnt_prev"),
                when(col("_matched"), col("_lag_total")).as("total_prev"))),
            when(
              col("_gone"),
              array(
                struct(
                  (col("window_start") + windowWidth).as("w"),
                  lit(null).cast("long").as("cnt_cur"),
                  lit(null).cast("long").as("total_cur"),
                  col("cnt").as("cnt_prev"),
                  col("total").as("total_prev"))))
              .otherwise(array().cast("array<struct<w:int,cnt_cur:bigint,total_cur:bigint,cnt_prev:bigint,total_prev:bigint>>"))))
          .as("r"))
      .select(
        col("source"),
        col("tok"),
        col("r.w").as("w"),
        col("r.cnt_cur").as("cnt_cur"),
        col("r.total_cur").as("total_cur"),
        col("r.cnt_prev").as("cnt_prev"),
        col("r.total_prev").as("total_prev"))
    roles
      .withColumn(
        "_term",
        when(
          col("cnt_cur").isNotNull && col("cnt_prev").isNotNull,
          expr("""
            CAST(FLOOR(
              (CAST(cnt_cur AS DOUBLE) / CAST(total_cur AS DOUBLE)
               - CAST(cnt_prev AS DOUBLE) / CAST(total_prev AS DOUBLE))
              * LN((CAST(cnt_cur AS DOUBLE) / CAST(total_cur AS DOUBLE))
                   / (CAST(cnt_prev AS DOUBLE) / CAST(total_prev AS DOUBLE)))
              * 1e9) AS BIGINT)""")))
      .groupBy(col("source"), col("w").as("window_start"))
      .agg(
        count(when(col("cnt_cur").isNotNull && col("cnt_prev").isNotNull, lit(1)))
          .as("n_matched"),
        count(when(col("cnt_cur").isNotNull && col("cnt_prev").isNull, lit(1))).as("n_new"),
        count(when(col("cnt_cur").isNull && col("cnt_prev").isNotNull, lit(1))).as("n_gone"),
        max(col("total_cur")).as("total_cur"),
        max(col("total_prev")).as("total_prev"),
        coalesce(sum(col("_term")), lit(0L)).as("psi_nano_sum"))
      // a w with no cur data is the phantom slot past a source's last
      // window — there is no "current" distribution to score
      .filter(col("total_cur").isNotNull)
      .withColumn("psi", expr("CAST(psi_nano_sum AS DOUBLE) / 1e9"))
  }

  /** Time-weighted integrals over an IRREGULAR series (the TimescaleDB
   * `time_weight` face; tier windows are regular, event streams are
   * not): per key, the trapezoidal area under the value curve and the
   * time-weighted average, in BOTH weightings — linear (values
   * interpolate between observations) and LOCF (a value holds until
   * the next observation). Exact integer accumulation: `valueCol` must
   * already be integer fixed-point (e.g. cents), timestamps epoch
   * micros; `auc2` is 2x the linear area (keeping the /2 out of the
   * sum keeps every term integer), `auc_locf` the step-function area,
   * and the TWA doubles derive in one fixed formula each, NULL when
   * the key spans zero time. Term magnitude is bounded by
   * 2 x max|value| x total-span (the pair deltas telescope), so BIGINT
   * holds to ~1e18 value-microsecond units — beyond that, lift the two
   * sums to DECIMAL(38,0) like the checksum queries.
   *
   * One shuffle on the key; lead() never leaves the partition; the
   * aggregate reuses the window's partitioning (no second exchange). */
  def timeWeighted(
      events: DataFrame,
      keys: Seq[String],
      tsMicrosCol: String,
      valueCol: String,
      tieBreak: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // same rule as [[ohlc]]/[[graft.operators.Sessionize]]: lead() over a
    // non-unique order is nondeterministic, so two events sharing a
    // timestamp would make the areas depend on arbitrary partition order
    require(tieBreak.nonEmpty, "timeWeighted: pass tie-break columns making the order total")
    val order = (col(tsMicrosCol) +: tieBreak.map(col)).toSeq
    val byKey = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    events
      .withColumn("_nt", lead(col(tsMicrosCol), 1).over(byKey))
      .withColumn("_nv", lead(col(valueCol), 1).over(byKey))
      .groupBy(keys.map(col): _*)
      .agg(
        count(lit(1)).as("n_events"),
        min(col(tsMicrosCol)).as("t_first_us"),
        max(col(tsMicrosCol)).as("t_last_us"),
        sum(
          when(
            col("_nt").isNotNull,
            (col(valueCol) + col("_nv")) * (col("_nt") - col(tsMicrosCol)))).as("auc2"),
        sum(
          when(col("_nt").isNotNull, col(valueCol) * (col("_nt") - col(tsMicrosCol))))
          .as("auc_locf"))
      .withColumn(
        "twa_linear",
        expr("""
          CASE WHEN t_last_us > t_first_us
          THEN CAST(auc2 AS DOUBLE) / (2.0 * CAST(t_last_us - t_first_us AS DOUBLE))
          ELSE NULL END"""))
      .withColumn(
        "twa_locf",
        expr("""
          CASE WHEN t_last_us > t_first_us
          THEN CAST(auc_locf AS DOUBLE) / CAST(t_last_us - t_first_us AS DOUBLE)
          ELSE NULL END"""))
  }

  /** OHLC (open-high-low-close) downsampling of an irregular stream
   * into fixed windows — the candlestick face of the tier store. Open
   * and close are the FIRST and LAST values in the window under a
   * TOTAL order (time + caller-supplied tie-break: first/last on a
   * non-unique order is nondeterministic, the [[graft.operators.Sessionize]]
   * rule), high/low plain max/min. One exchange on (key, window); the
   * two row_number passes are two sorts over the same partitioning;
   * the final aggregate reuses it. */
  def ohlc(
      events: DataFrame,
      keys: Seq[String],
      tsMicrosCol: String,
      valueCol: String,
      windowMicros: Long,
      tieBreak: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(windowMicros >= 1, s"windowMicros must be >= 1, got $windowMicros")
    require(tieBreak.nonEmpty, "ohlc: pass tie-break columns making the order total")
    val win = expr(
      s"CAST($tsMicrosCol - $tsMicrosCol % ${windowMicros}L AS BIGINT)").as("window_us")
    val withWin = events.withColumn("window_us", win)
    val part = (keys :+ "window_us").map(col)
    val asc = Window
      .partitionBy(part: _*)
      .orderBy((col(tsMicrosCol) +: tieBreak.map(col)).map(_.asc): _*)
    val desc = Window
      .partitionBy(part: _*)
      .orderBy((col(tsMicrosCol) +: tieBreak.map(col)).map(_.desc): _*)
    withWin
      .withColumn("_ra", row_number().over(asc))
      .withColumn("_rd", row_number().over(desc))
      .groupBy(part: _*)
      .agg(
        count(lit(1)).as("n_events"),
        max(when(col("_ra") === 1, col(valueCol))).as("open"),
        max(col(valueCol)).as("high"),
        min(col(valueCol)).as("low"),
        max(when(col("_rd") === 1, col(valueCol))).as("close"))
  }

  /** Merged-interval coverage per key (interval union): overlapping or
   * touching intervals fuse into islands (classic gaps-and-islands —
   * an island starts where `start` exceeds the running max of all
   * previous ends), and the key's coverage is the exact total length
   * of the merged islands plus their count. All integer arithmetic.
   * One exchange on the key; both the island assignment and the two
   * aggregates reuse that partitioning. */
  def coveredTime(
      intervals: DataFrame,
      keys: Seq[String],
      startCol: String,
      endCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byKey = Window
      .partitionBy(keys.map(col): _*)
      .orderBy(col(startCol), col(endCol))
    val prevMax = max(col(endCol)).over(byKey.rowsBetween(Window.unboundedPreceding, -1))
    val run = byKey.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    intervals
      .withColumn(
        "_new",
        when(prevMax.isNull || col(startCol) > prevMax, 1L).otherwise(0L))
      .withColumn("_island", sum(col("_new")).over(run))
      .groupBy((keys :+ "_island").map(col): _*)
      .agg(min(col(startCol)).as("_s"), max(col(endCol)).as("_e"))
      .groupBy(keys.map(col): _*)
      .agg(
        count(lit(1)).as("n_islands"),
        sum(col("_e") - col("_s")).as("covered_us"))
  }

  /** Lagged cross-correlation (CCF) between source pairs over PER-SOURCE
   * window series: for each pair (a < b) and each lag L in
   * [-maxLag, maxLag], the Pearson correlation of a's value at window w
   * with b's value at window w + L*windowWidth — positive lag = "a
   * leads b", negative = "b leads a". The causal-discovery face of the
   * tier store: a traffic source whose volume moves T minutes after
   * another shows up as an off-center CCF peak.
   *
   * Input is a (source, window_start, value) series — deliberately NOT
   * the (source, bucket, window) tier key: a lag shift crosses bucket
   * boundaries (60-wide windows fragment across 64-wide buckets), so a
   * bucket-equality join would correlate mismatched partial-window
   * fragments at nonzero lags and drop window pairs whose shifted twin
   * lives in another bucket entirely (measured: a delayed copy scored
   * −0.93 at its true lag and ±2 lags vanished). Collapse the bucket
   * BEFORE calling (sum windows per source — the q_peaks rule).
   *
   * Same exact-moment discipline as [[sourceCorrelation]] — all six
   * moments are BIGINT sums per (pair, lag), corr one fixed double
   * formula, NULL on zero variance — and the same quadratic-pair
   * cardinality warning: the join fans out |sources-in-window|^2 x
   * (2*maxLag+1) rows per window before the map-side partial aggregate
   * collapses them to pairs x lags. Fine at survey-scale source
   * counts; at high source cardinality, prefilter to a candidate pair
   * set. n_win shrinks as |L| grows (fewer overlapping windows) —
   * callers comparing lags should normalize on it. */
  def laggedCrossCorrelation(series: DataFrame, windowWidth: Int, maxLag: Int): DataFrame = {
    require(maxLag >= 1 && maxLag <= 64, s"maxLag in [1, 64], got $maxLag")
    val a = series.select(
      col("source").as("source_a"),
      col("window_start"),
      col("value").as("x"))
    val b = series
      .select(
        col("source").as("source_b"),
        col("window_start"),
        col("value").as("y"))
      .select(
        col("source_b"),
        explode(sequence(lit(-maxLag), lit(maxLag))).as("lag"),
        col("window_start"),
        col("y"))
      // b's window w matches a's window w - L*width: align by shifting
      .withColumn("window_start", col("window_start") - col("lag") * windowWidth)
    val pairs = a
      .join(b, Seq("window_start"))
      .filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"), col("lag"))
    exactMoments(pairs, "n_win", col("x"), col("y")).withColumn("corr", pearson("n_win"))
  }

  /** The six exact BIGINT moments of each group's (x, y) pairs: the pair
   * count as `n`, then sx, sy, sxy, sxx, syy. The exact half of the
   * correlation discipline shared by [[sourceCorrelation]],
   * [[autocorrelation]] and [[laggedCrossCorrelation]]. */
  private def exactMoments(
      pairs: RelationalGroupedDataset,
      n: String,
      x: Column,
      y: Column): DataFrame =
    pairs.agg(
      count(lit(1)).as(n),
      sum(x).as("sx"),
      sum(y).as("sy"),
      sum(x * y).as("sxy"),
      sum(x * x).as("sxx"),
      sum(y * y).as("syy"))

  /** Pearson correlation over [[exactMoments]]' columns (count `n`) in
   * one fixed double formula, so it is bit-reproducible cross-engine;
   * NULL when either side has zero variance. */
  private def pearson(n: String): Column =
    expr(s"""
      CASE WHEN CAST($n AS DOUBLE) * CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
            AND CAST($n AS DOUBLE) * CAST(syy AS DOUBLE)
                - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) > 0
      THEN (CAST($n AS DOUBLE) * CAST(sxy AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
           / (SQRT(CAST($n AS DOUBLE) * CAST(sxx AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
              * SQRT(CAST($n AS DOUBLE) * CAST(syy AS DOUBLE)
                     - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
      ELSE NULL END""")
}
