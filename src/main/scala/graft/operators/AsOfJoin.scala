package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * As-of join: for each left row, attach the most recent right row (by time)
 * with the same key, at-or-before the left row's time.
 *
 * Semantic ancestor: LOCF as-of semantics in the reference
 * (uni2ts/src/uni2ts/transform/imputation.py:43-62) — "each missing point
 * takes the most recent observed value" — generalized to two tables.
 *
 * Implementation: the union-tag pattern, NOT a range join. Left and right
 * rows are unioned, tagged, sorted within each key partition by
 * (time, tag, right-row) with right rows first on ties, and the last
 * right ROW is carried with `last(_, ignoreNulls)` — pandas merge_asof /
 * DuckDB ASOF JOIN row semantics. Cost: ONE shuffle of
 * |L| + |R| rows on the key + an in-partition sort — linear, no pairwise
 * range-condition blowup, skew-bounded by the largest single key. This is
 * the standard scalable as-of construction for billion-row tables where a
 * broadcast range join is impossible.
 */
object AsOfJoin {

  /**
   * @param left      left table
   * @param right     right table
   * @param keys      equi-join keys present in both
   * @param leftTime  event-time column in `left`
   * @param rightTime event-time column in `right`
   * @param payload   columns of `right` to carry onto each left row
   *                  (renamed `asof_<name>` in the output)
   * @param tolerance optional maximum allowed (leftTime - rightTime) in the
   *                  time columns' own units (the pandas merge_asof
   *                  `tolerance` semantics): a match older than this is
   *                  dropped (payload NULL) instead of carried forward
   * @param tieBreak  payload columns (must be a subset of `payload`) that
   *                  decide the winner among right rows TIED on
   *                  (keys, rightTime) — pass a unique right-row sequence
   *                  column here to reproduce pandas merge_asof's
   *                  last-occurrence rule. When empty (and (keys,
   *                  rightTime) is not unique), the whole payload struct
   *                  decides: the MAX payload row wins — deterministic at
   *                  any parallelism but engine-defined, and it requires
   *                  every payload column to be orderable (no map type).
   *                  With unique (keys, rightTime) — the common shape —
   *                  ties cannot occur and none of this matters.
   */
  def asOf(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      leftTime: String,
      rightTime: String,
      payload: Seq[String],
      tolerance: Option[Long] = None,
      tieBreak: Seq[String] = Nil): DataFrame = {
    require(
      tieBreak.forall(payload.contains),
      s"tieBreak columns must be payload columns: ${tieBreak.filterNot(payload.contains).mkString(", ")}")
    // The construction owns the _t/_tag/_rrow/_last_r working columns and
    // the struct field name _rt; an input column with one of those names
    // would silently resolve to the wrong thing, so refuse it up front.
    val reserved = Set("_t", "_tag", "_rrow", "_last_r", "_rt")
    val clash = (left.columns ++ right.columns).filter(reserved.contains).distinct
    require(
      clash.isEmpty,
      s"asOf inputs must not contain reserved column name(s): ${clash.mkString(", ")}")
    val leftCols = left.columns.toSeq
    val tagged =
      left
        .withColumn("_t", col(leftTime))
        .withColumn("_tag", lit(1))
        .select(
          (keys.map(col) :+ col("_t") :+ col("_tag")) ++
            leftCols.filterNot(keys.contains).map(c => col(c)) ++
            payload.map(c => lit(null).cast(right.schema(c).dataType).as(s"_p_$c")): _*)
        .unionByName(
          right
            .withColumn("_t", col(rightTime))
            .withColumn("_tag", lit(0))
            .select(
              (keys.map(col) :+ col("_t") :+ col("_tag")) ++
                leftCols.filterNot(keys.contains).map(c =>
                  lit(null).cast(left.schema(c).dataType).as(c)) ++
                payload.map(c => col(c).as(s"_p_$c")): _*))
    // merge_asof ROW semantics in BOTH branches: the match is the last
    // right ROW at-or-before the left time, and its own payload is taken
    // even when null — filling payload columns independently would pair an
    // old value with a fresh row's timestamp AND diverge from DuckDB's
    // ASOF JOIN (the oracle's semantics). Per-column LOCF imputation is a
    // different operator (GapFill.gapFill's `fillCols`).
    // Struct field order = tie order: tieBreak columns first (caller-chosen
    // rule), remaining payload after (struct comparison falls through in
    // field order). Extraction below is by NAME, so reordering is safe.
    val orderedPayload = tieBreak ++ payload.filterNot(tieBreak.contains)
    val rowStruct = struct(
      (col("_t").as("_rt") +: orderedPayload.map(c => col(s"_p_$c").as(c))): _*)
    val withRow = tagged.withColumn("_rrow", when(col("_tag") === 0, rowStruct))
    // Right rows sort before left rows at equal time => "at or before".
    // _rrow extends the order to a TOTAL one among right rows tied on
    // (_t): without it the winner among equal-time right rows would be
    // shuffle-order-dependent (rows whose full payload is identical remain
    // interchangeable, which is harmless). See the tieBreak param doc for
    // the tie semantics this implies.
    val w = Window
      .partitionBy(keys.map(col): _*)
      .orderBy(col("_t"), col("_tag"), col("_rrow"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val matched = withRow.withColumn("_last_r", last(col("_rrow"), ignoreNulls = true).over(w))
    val filled = payload.foldLeft(matched) { (d, c) =>
      d.withColumn(
        s"asof_$c",
        tolerance match {
          case None => col(s"_last_r.$c")
          case Some(tol) =>
            when(col("_t") - col("_last_r._rt") <= tol, col(s"_last_r.$c"))
        })
    }
    filled
      .filter(col("_tag") === 1)
      .select(
        leftCols.map(col) ++ payload.map(c => col(s"asof_$c")): _*)
  }
}
