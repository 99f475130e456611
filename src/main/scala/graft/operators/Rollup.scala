package graft.operators

import graft.core.{Deferred, Tier}
import graft.functions.GraftFunctions.call
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Continuous-aggregate rollup: min/max/sum/count(/avg) per retention tier,
 * keyed by (source, token-position bucket, tier window).
 *
 * Semantic ancestor: the reference's grouped masked reductions per
 * (sample_id, variate_id) (uni2ts/src/uni2ts/module/packed_scaler.py:78-155)
 * — there implemented as O(n^2) pairwise-equality masks for the GPU; here a
 * plain `groupBy().agg()`, which Spark executes as partial (map-side)
 * aggregation + one shuffle on the group keys + final aggregation. At 100 TB
 * the partial agg collapses each input partition to at most
 * |sources|×|buckets|×|windows-in-partition| rows before the shuffle, so
 * shuffle volume is bounded by group cardinality, not input size.
 *
 * The tier ladder (5m from 1m, 1h from 5m, 1d from 1h) is a reaggregation
 * cascade: sum/count/min/max compose exactly; avg is re-derived. This is the
 * standard continuous-aggregate construction (SURVEY.md §2.4) and means each
 * coarser tier reads the (much smaller) previous tier, never the raw data.
 *
 * All aggregates are exact integer arithmetic (tokens are int32, sums Long)
 * so every tier is bit-exact under any shuffle order / parallelism level —
 * the discipline behind the north rule's "bit-exact tier match"
 * (SURVEY.md §7.4 hard part 1).
 */
object Rollup {

  /** Sample variance derived at read time from the exact integer state
   * (sum, count, sum-of-squares) — the dispersion statistic of the
   * reference's PackedStdScaler (packed_scaler.py:78-122, correction=1).
   * One fixed double expression over exact longs, so Spark and the SQL
   * oracle agree bitwise; null when the group has a single point. */
  private val varExpr =
    "CASE WHEN cnt_tok > 1 THEN " +
      "(CAST(sumsq_tok AS DOUBLE) - CAST(sum_tok AS DOUBLE) * CAST(sum_tok AS DOUBLE) " +
      "/ CAST(cnt_tok AS DOUBLE)) / CAST(cnt_tok - 1 AS DOUBLE) " +
      "ELSE NULL END"

  /** Point kernel: exact tier state (source, bucket, window_start,
   * min_tok, max_tok, sum_tok, cnt_tok, sumsq_tok) of `tier` from points
   * (source, pos, tok), grouped additionally by `extraKeys` (which do not
   * appear in the output — the salted phase 1 keys its partials on a salt
   * this way).
   *
   * ONE fused aggregate buffer (tier_stats_decl, codegen
   * DeclarativeAggregate) instead of five built-in buffers: identical
   * values, but roughly half the per-point hash-map traffic — measured at
   * 1.024B points this is the difference between 0.65-0.82 and 0.91-1.02
   * N->4N wall efficiency (BENCH.md round-7: the five-buffer shape
   * saturates shared memory bandwidth at 16 threads; cpu-per-point ratios
   * 1.15-1.37 vs 0.94-1.06 fused). The 128-bit sumsq is cast back to LONG
   * for schema stability: tok^2 < 2.53e9, so the column is exact up to
   * ~3.6e9 points per group, and past that the ANSI cast fails LOUDLY
   * instead of wrapping; read the `tier_stats_decl` struct directly when
   * groups can exceed that. */
  private[graft] def pointState(points: DataFrame, tier: String, extraKeys: Column*): DataFrame = {
    points
      .groupBy(
        extraKeys ++ Seq(col("source"), Tier.bucket, Tier.windowStart(Tier.widths(tier))): _*)
      .agg(call("tier_stats_decl", col("tok")).as("_st"))
      .select(
        col("source"),
        col("bucket"),
        col("window_start"),
        col("_st.min_tok").as("min_tok"),
        col("_st.max_tok").as("max_tok"),
        col("_st.sum_tok").as("sum_tok"),
        col("_st.cnt_tok").as("cnt_tok"),
        col("_st.sumsq_tok").cast("long").as("sumsq_tok"))
  }

  /** Merge kernel: tier-state rows (possibly several per key) into one
   * exact state row per (source, bucket, `windowStart`). Exact because
   * every state column is a min/max/sum over disjoint point sets; pass
   * the window truncated to a coarser width to cascade a tier. */
  private[graft] def mergeState(
      rows: DataFrame,
      windowStart: Column = col("window_start")): DataFrame =
    rows
      .groupBy(col("source"), col("bucket"), windowStart)
      .agg(
        min(col("min_tok")).as("min_tok"),
        max(col("max_tok")).as("max_tok"),
        sum(col("sum_tok")).as("sum_tok"),
        sum(col("cnt_tok")).as("cnt_tok"),
        sum(col("sumsq_tok")).as("sumsq_tok"))

  /** Finishing step: tier state -> the 11-column tier row
   * ([[graft.core.TierRow]] order), adding `tier` and the derived
   * `avg_tok` / `var_tok`. */
  private[graft] def finishTier(state: DataFrame, tier: String): DataFrame =
    state.select(
      col("source"),
      col("bucket"),
      lit(tier).as("tier"),
      col("window_start"),
      col("min_tok"),
      col("max_tok"),
      col("sum_tok"),
      col("cnt_tok"),
      (col("sum_tok").cast("double") / col("cnt_tok").cast("double")).as("avg_tok"),
      col("sumsq_tok"),
      expr(varExpr).as("var_tok"))

  /** Tier windows on the position axis: `window_start = (pos div W) * W`;
   * see [[pointState]] for the aggregate and the exactness range of
   * `sumsq_tok`. */
  def rollupFromPoints(points: DataFrame, tier: String): DataFrame =
    finishTier(pointState(points, tier), tier)

  /** Reaggregate a finer tier into a coarser one (sum/count/min/max compose;
   * avg derived). Input and output share the (source, bucket) key, so with
   * tier tables bucketed/partitioned on (source, bucket) this is a
   * co-partitioned aggregation. The window truncates with
   * [[graft.core.Tier.truncateWindow]], so the output keeps the input's
   * window_start type (INT for a position tier, BIGINT for an epoch one). */
  def reaggregate(finer: DataFrame, toTier: String): DataFrame =
    finishTier(mergeState(finer, Tier.truncateWindow(Tier.widths(toTier)).as("window_start")), toTier)

  /** Incremental late-data reconciliation: fold a delta of late-arriving
   * points into an existing tier table with [[remerge]] — ONE aggregate
   * over the tier's state rows unioned with the delta's, in one hash
   * shuffle on the tier key. Untouched windows pass through the merge as
   * single-row groups; windows that exist only in the delta
   * (entirely-late windows) surface as new rows. The raw points are
   * never re-read, only the late slice.
   *
   * The merge is exact because every persisted aggregate is a
   * sum/min/max/count over disjoint point sets (the tier invariant);
   * avg/var re-derive from the merged integer state. Result is bit-equal
   * to `rollupFromPoints(onTime UNION late)` under any split — the
   * RollupSpec property and the q_rollup_late full-recompute oracle.
   * `tierTable` must be a single-tier table of the same `tier`. Output
   * keeps `tierTable`'s column order.
   *
   * Loud ceiling: a delta touching more than `maxAffectedWindows`
   * windows is a bulk backfill — run a full re-rollup; the query fails
   * with that diagnosis at the consumer's action, before anything is
   * folded or written. The guard is a [[graft.core.Deferred]] step: when
   * the query executes, one job (under a named job description)
   * materializes the delta aggregate and counts its windows, and the fold
   * reads those materialized rows, so the delta is derived once and any
   * `latePoints` plan, nondeterministic ones included, is folded exactly
   * as counted. */
  def mergeLate(
      tierTable: DataFrame,
      latePoints: DataFrame,
      tier: String,
      maxAffectedWindows: Long = DefaultMaxAffectedWindows): DataFrame = {
    val delta = pointState(latePoints, tier)
    val guarded = Deferred(delta, delta.schema) { (state, describe) =>
      describe("Rollup.mergeLate: guard count of the late delta's windows")
      val rows = state.map(_.copy()).localCheckpoint()
      guardDelta(rows.count(), maxAffectedWindows, "mergeLate", ", or raise maxAffectedWindows")
      rows
    }
    remerge(tierTable, guarded, tier)
  }

  /** Absolute loud ceiling on a reconciliation delta: the re-merge
   * shuffles the whole tier against the delta, and a delta touching a
   * large fraction of all windows is a bulk backfill — the economics flip
   * to a full re-rollup from points (one shuffle of the points REPLACES
   * the tier instead of reconciling it). */
  val DefaultMaxAffectedWindows: Long = 100000000L

  /** The loud ceiling on an incremental fold ([[DefaultMaxAffectedWindows]]
   * unless the caller exposes its own), checked BEFORE anything is
   * folded or written: `n` is the delta's window count, `caller` names
   * the API in the message and `knob` says how that caller can move the
   * ceiling (empty when it cannot). */
  private[graft] def guardDelta(n: Long, maxAffectedWindows: Long, caller: String, knob: String = ""): Unit =
    require(
      n <= maxAffectedWindows,
      s"$caller: delta touches $n windows (> $maxAffectedWindows). " +
        "Incremental reconciliation is for late slices; a delta this " +
        s"size is a bulk backfill — run a full re-rollup$knob.")

  /** The tier-state columns a fold reads (extra tier-row columns are
   * ignored). */
  private val stateCols =
    Seq("source", "bucket", "window_start", "min_tok", "max_tok", "sum_tok", "cnt_tok", "sumsq_tok").map(col)

  /** The one fold of new tier state into an existing tier: tier-state
   * rows `state`, of `tier` or of any finer tier, folded into `tierTable`
   * (a single-tier table of `tier`) by [[reaggregate]] over their union,
   * keyed on (source, bucket, window_start truncated to `tier`'s width).
   * A finer `state` therefore cascades inside the same aggregate, with no
   * exchange of its own. Untouched windows pass through as single-row
   * groups, bit-equal since avg/var re-derive from the same exact integer
   * state. The output is the whole new tier ([[mergeLate]] and both
   * streaming tier sinks fold with it). Output keeps `tierTable`'s column
   * order. */
  private[graft] def remerge(tierTable: DataFrame, state: DataFrame, tier: String): DataFrame =
    reaggregate(tierTable.select(stateCols: _*).unionByName(state.select(stateCols: _*)), tier)
      .select(tierTable.columns.map(col): _*)

  /** Full ladder from the point view: returns tier name -> tier DataFrame.
   * Only the 1m tier touches the raw points; every coarser tier cascades. */
  def ladder(points: DataFrame): Map[String, DataFrame] = {
    val t1m = rollupFromPoints(points, Tier.OneMinute)
    val t5m = reaggregate(t1m, Tier.FiveMinutes)
    val t1h = reaggregate(t5m, Tier.OneHour)
    val t1d = reaggregate(t1h, Tier.OneDay)
    Map(
      Tier.OneMinute -> t1m,
      Tier.FiveMinutes -> t5m,
      Tier.OneHour -> t1h,
      Tier.OneDay -> t1d)
  }
}
