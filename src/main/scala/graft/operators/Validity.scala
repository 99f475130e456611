package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._

/**
 * Validity filter with invariant counters — the engine's analogue of the
 * reference's skip-and-count validity handling
 * (cli/eval_precond_space.py:100-136: items whose recoding introduced new
 * NaN are skipped and the skip count is tracked alongside the results).
 *
 * The counters ride on `df.observe`, i.e. they are collected DURING the
 * query's own action with zero extra passes — the scale-correct
 * alternative to a second count() scan (same mechanism as the row
 * count SnapshotStore.stage observes on a commit's write).
 */
object Validity {

  /** Returns (filtered df, observation). After ANY action on the returned
   * DataFrame, `obs.get("skipped")` / `obs.get("total")` hold the number
   * of rows the validity predicate rejected / saw. */
  def filterWithCounter(
      df: DataFrame,
      valid: Column,
      name: String): (DataFrame, Observation) = {
    val obs = Observation(name)
    // count(when(...)), not sum(when(...)): sum over ZERO rows observes
    // NULL and a caller's .asInstanceOf[Long] would NPE on an empty stage;
    // count is 0 on empty input. The skip predicate must be
    // `isNull || !valid`, not `!valid` alone: a NULL predicate row (e.g. a
    // null tokens column under size(tokens) >= 1) is dropped by
    // .filter(valid) but !NULL is NULL, so it would escape the counter and
    // break the skipped + kept == total invariant.
    val observed = df.observe(
      obs,
      count(when(valid.isNull || !valid, lit(1))).as("skipped"),
      count(lit(1)).as("total"))
    (observed.filter(valid), obs)
  }
}
