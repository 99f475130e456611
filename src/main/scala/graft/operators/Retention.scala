package graft.operators

import graft.core.Tier
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Retention enforcement — the third noun of the north rule's "rollup +
 * downsample + retention engine": each tier keeps a bounded window of
 * history, and expiry is COMPACT-THEN-EXPIRE (the TimescaleDB
 * retention-policy shape): a fine-tier row older than the horizon may be
 * dropped only where the coarser tier already aggregates its window —
 * rows whose coverage is missing (a cascade that has not caught up, a
 * backfilled source) are retained and flagged, never silently lost.
 *
 * Reference ancestor: the retention-tier ladder itself (SURVEY §2.4);
 * the expiry policy has no direct reference op (the reference keeps all
 * history) and is brief-level: a 100 TB/day tier store is unbounded
 * without it.
 *
 * Scale shape:
 *  - [[expire]] is a single comparison filter on `window_start` — it
 *    reaches the scan as a pushed-down predicate (PlanSpec), and on a
 *    date/window-partitioned tier table it prunes whole partitions, so
 *    expiry cost is proportional to the SURVIVING data read, not history.
 *  - [[safeExpire]] is ONE pass over the fine tier: a single left-outer
 *    join against the coverage keys — the coarse tier pruned to the
 *    expired range (the horizon reaches its scan as a pushed filter), so
 *    the build side shrinks with the horizon, and AQE broadcasts it when
 *    small. Live rows probe the coverage hash relation too (and are kept
 *    whatever they hit); in exchange the fine tier is read once, with no
 *    union of a live and an expired branch. No collect, no driver loop —
 *    the verdict is a join column.
 */
object Retention {

  /** Keep rows at or after `horizonStart` (tier windows are closed-open,
   * so a window starting at the horizon is entirely inside it). Pure
   * pushed-down filter. */
  def expire(tierDf: DataFrame, horizonStart: Long): DataFrame =
    tierDf.filter(col("window_start") >= horizonStart)

  /** Compact-then-expire: returns the surviving fine-tier rows with a
   * `retained_uncovered` flag — false for rows inside the horizon, true
   * for rows OLDER than the horizon kept because the coarse tier has no
   * aggregate for their (source, bucket, coarse window) yet. Covered
   * expired rows are dropped. `coarse` holds at most one row per
   * (source, bucket, window_start) — true of every tier table — so the
   * coverage join never duplicates a fine row. */
  def safeExpire(
      fine: DataFrame,
      coarse: DataFrame,
      coarseTier: String,
      horizonStart: Long): DataFrame = {
    val w = Tier.widths(coarseTier)
    // coverage key set, pruned to the expired range before the join
    val cov = coarse
      .filter(col("window_start") < horizonStart)
      .select(
        col("source").as("_cs"),
        col("bucket").as("_cb"),
        col("window_start").as("_cw"))
    val expired = col("window_start") < horizonStart
    fine
      .join(
        cov,
        col("source") === col("_cs") && col("bucket") === col("_cb") &&
          Tier.truncateWindow(w) === col("_cw"),
        "left_outer")
      .filter(col("window_start") >= horizonStart || (expired && col("_cw").isNull))
      .withColumn("retained_uncovered", expired)
      .drop("_cs", "_cb", "_cw")
  }

  /** Per-tier horizons over the WHOLE ladder (the TimescaleDB per-policy
   * shape: every tier has its own retention window, fine tiers short,
   * coarse tiers long): each level runs [[safeExpire]] against the NEXT
   * tier as coverage, and the coarsest tier — pure history — passes
   * through (compose [[expire]] on it separately if it ever needs a
   * horizon). Returns the union of every level's surviving rows; each
   * row keeps its `tier` label and the `retained_uncovered` audit flag
   * (false for the coarsest level).
   *
   * Coverage at level i is tier i+1 AS GIVEN (pre-expiry): expiry of a
   * fine window only needs the coarser aggregate to EXIST — whether the
   * coarser tier later expires that window is its own level's question,
   * answered against the tier above it. Ordering between levels
   * therefore doesn't matter and no level's output feeds another: the
   * chain is independent bounded joins, no cross-level shuffle.
   *
   * `ladder` is fine -> coarse as (tierTable, tierName);
   * `horizons(i)` is level i's horizonStart (one per non-coarsest tier;
   * the sane policy is NONINCREASING fine -> coarse: finer tiers keep
   * less history, so their oldest-kept timestamp is more recent). */
  def ladderExpire(
      ladder: Seq[(DataFrame, String)],
      horizons: Seq[Long]): DataFrame = {
    require(
      ladder.size == horizons.size + 1,
      s"ladderExpire: ${ladder.size} tiers need ${ladder.size - 1} horizons, " +
        s"got ${horizons.size}")
    val expired = ladder.init.zip(ladder.tail).zip(horizons).map {
      case (((fine, _), (coarse, coarseTier)), h) =>
        safeExpire(fine, coarse, coarseTier, h)
    }
    val coarsest = ladder.last._1.withColumn("retained_uncovered", lit(false))
    (expired :+ coarsest).reduce(_ unionByName _)
  }
}
