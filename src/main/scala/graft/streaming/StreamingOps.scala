package graft.streaming

import graft.core.{Hash, Tier}
import graft.functions.GraftFunctions.call
import graft.jobs.{SnapshotInfo, SnapshotStore, StageRun}
import graft.operators.{Retention, Rollup}
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.storage.StorageLevel

/**
 * Structured Streaming counterparts of the batch operators. The reference
 * is fully offline (SURVEY.md §2.10) — these are the engine's additions for
 * continuous ingestion: the same tier semantics expressed as watermarked
 * windowed aggregates, and gap-based sessionization as explicit keyed state.
 *
 * Design for scale: state is keyed (hash-partitioned by Spark's state
 * store); watermark bounds state size — a window's state is dropped once
 * the watermark passes its end, so memory is O(active windows × keys), not
 * O(stream length).
 */
object StreamingOps {

  /** Continuous 1h tier over an event stream: per (event_type, hour window)
   * count + exact decimal sum. Late rows beyond the 2h watermark are
   * dropped (the streaming face of the batch gap-fill's static
   * late/missing handling). */
  def hourlyEventRollup(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(col("event_type"), window(col("ts"), "1 hour"))
      .agg(
        count(lit(1)).as("cnt"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_v"))
      .select(
        col("event_type"),
        col("window.start").as("window_start"),
        col("cnt"),
        col("sum_v"))

  /** Streaming exact dedup — the continuous face of Dedup.exactDedup:
   * re-observed content (same hash columns) within the watermark delay is
   * dropped via `dropDuplicatesWithinWatermark`, so dedup state is bounded
   * by the delay window instead of growing with the stream (the standard
   * bounded-state trade: a duplicate arriving later than `delay` after
   * its original is passed through — at 100 TB/day retention-unbounded
   * exact dedup is a batch job over the snapshot store, not stream state). */
  def dedupStream(
      docs: DataFrame,
      tsCol: String,
      keyCols: Seq[String],
      delay: String): DataFrame =
    docs.withWatermark(tsCol, delay).dropDuplicatesWithinWatermark(keyCols)

  /** Streaming tier CASCADE: the 1m tier and its 5m reaggregation chained
   * inside ONE streaming query — the continuous face of the batch ladder
   * (Rollup.reaggregate), using Spark's multiple-stateful-operator support:
   * the second aggregation groups on `window_time()` of the first's window
   * column, so each finalized 1m window flows straight into its 5m parent
   * without an intermediate sink or a second job.
   *
   * Scale shape identical to the batch cascade: the 5m state sees one row
   * per finalized (key, 1m window) — already collapsed by the first
   * aggregation — never raw events. Both states are watermark-bounded. */
  def tierCascadeStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(col("event_type"), window(col("ts"), "1 minute").as("w1m"))
      .agg(
        count(lit(1)).as("cnt"),
        sum(col("value").cast("decimal(18,2)")).as("sum_v"))
      .groupBy(col("event_type"), window(window_time(col("w1m")), "5 minutes").as("w5m"))
      .agg(
        sum(col("cnt")).as("cnt"),
        count(lit(1)).as("n_1m_windows"),
        sum(col("sum_v")).cast("double").as("sum_v"))
      .select(
        col("event_type"),
        col("w5m.start").as("window_start"),
        col("cnt"),
        col("n_1m_windows"),
        col("sum_v"))

  /** Exactly-once batch commit shared by every streaming sink, in two
   * steps: [[batchFingerprint]] once per micro-batch, then
   * [[SinkBatch.commit]] per table the batch commits to. The stored
   * fingerprint is the batch id PLUS exact content (the shared
   * [[graft.core.Hash.contentFingerprint]] over all columns). A
   * batch-id-only fingerprint cannot tell a genuine crash-replay from a
   * fresh checkpoint whose counter rewound onto a populated table — the
   * rewound batch would be skipped as a "replay" and its rows silently
   * dropped (or, for the merge sink, double-counted). Rules:
   *   - same id, same content  -> genuine replay: skip (the resume of
   *     [[graft.jobs.SnapshotStore.stage]], keyed on this fingerprint).
   *   - same id, DIFFERENT content (or a legacy id-only fingerprint,
   *     whose content is unverifiable) -> the counter rewound: refuse
   *     loudly, the operator decides. RESIDUAL AMBIGUITY (accepted): a
   *     rewound counter whose batch happens to carry byte-identical
   *     content to the original is indistinguishable from a replay and
   *     is skipped — harmless precisely because committing it would be
   *     a no-op duplicate of what the table already holds.
   *   - empty batch -> nothing to commit: the fingerprint is None (the
   *     fingerprint aggregation doubles as the emptiness probe — one
   *     pass, no separate isEmpty job; the hash must be known BEFORE
   *     commit because it IS the stored fingerprint, so it cannot ride
   *     the commit's observe). */
  private def batchFingerprint(batchId: Long, batch: DataFrame): Option[String] = {
    val (n, h) = Hash.contentFingerprint(batch, batch.columns.map(col).toSeq: _*)
    Option.when(n > 0)(s"batch=$batchId-n$n-h$h")
  }

  /** One non-empty micro-batch of a snapshot sink: its rows, id and
   * content fingerprint, committed under the sink's `stage`. */
  private final case class SinkBatch(rows: DataFrame, id: Long, fp: String, stage: String) {

    /** The per-table step of the [[batchFingerprint]] contract, as one
     * [[graft.jobs.SnapshotStore.stage]]: a table that holds this batch
     * resumes it (a genuine replay — `compute` never runs). Otherwise the
     * stage's compute lists the table once, fails loudly on a rewound or
     * legacy batch id — before anything is written — and hands the
     * previous version, if any, to `compute`, whose frame is committed. */
    def commit(store: SnapshotStore, table: String)(
        compute: Option[SnapshotInfo] => DataFrame): StageRun =
      store.stage(table, stage, fp) {
        val snaps = store.snapshots(table)
        require(
          !snaps.exists(s =>
            s.stage == stage &&
              (s.fingerprint == s"batch=$id" ||
                (s.fingerprint.startsWith(s"batch=$id-") && s.fingerprint != fp))),
          s"streaming sink: batch id $id was already committed with " +
            "different (or unverifiable legacy) content — a fresh checkpoint " +
            "was pointed at a populated table. Keep the original " +
            "checkpointLocation or start a new table.")
        compute(snaps.lastOption)
      }
  }

  /** The one snapshot-sink builder: streams `df` as query `queryName`
   * (append mode, checkpoint REQUIRED at `checkpointDir` — batch ids are
   * only unique within one checkpoint lineage) and hands each non-empty
   * micro-batch, fingerprinted once, to the sink's `commit` body. */
  private def snapshotSink(df: DataFrame, queryName: String, checkpointDir: String)(
      commit: SinkBatch => Unit): DataStreamWriter[Row] =
    df.writeStream
      .queryName(queryName)
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batchFingerprint(batchId, batch).foreach { fp =>
          commit(SinkBatch(batch, batchId, fp, s"stream_$queryName"))
        }
      }

  /** Continuous ingestion into the engine's snapshot layer: each
   * micro-batch commits one immutable snapshot version — exactly-once
   * under crash-replay, loud under checkpoint rewind (the
   * [[batchFingerprint]] content-fingerprint contract): the streaming
   * face of the batch job's resume contract (RollupJob stage
   * fingerprints).
   *
   * `checkpointDir` is REQUIRED and set here: batch ids are only unique
   * within one checkpoint lineage; a fresh checkpoint renumbers from 0
   * and is refused rather than silently dropped. */
  def sinkToSnapshots(
      df: DataFrame,
      store: SnapshotStore,
      table: String,
      queryName: String,
      checkpointDir: String): DataStreamWriter[Row] =
    snapshotSink(df, queryName, checkpointDir) { b =>
      b.commit(store, table)(_ => b.rows)
    }

  /** Streaming codec-payload sink — the continuous face of the batch
   * payload table (CodecQueries.tierPayload): each micro-batch takes the
   * FINALIZED tier windows it received (the append-mode output of a
   * watermarked tier aggregation upstream in the same query), packs each
   * (source, bucket) group's windows into ONE Gorilla/Chimp/DoD-encoded
   * payload SEGMENT row, and commits the whole batch of segments as one
   * snapshot version — exactly-once/loud-rewind per the
   * [[batchFingerprint]] content-fingerprint contract (a silently
   * skipped rewound batch here would punch a hole in the segment
   * sequence the decode concatenation relies on).
   *
   * A stream cannot re-encode the full history every batch (that state is
   * unbounded), so the streamed table is a SEQUENCE of segments per key:
   * decoding all segments in version order and concatenating recovers
   * exactly the series the one-shot batch payload encodes — the same
   * block-per-interval shape the Gorilla paper's production store uses
   * (VLDB'15, 2-hour blocks). Input schema:
   * (source string, bucket, window_start long, value double). */
  def codecPayloadSink(
      tierWindows: DataFrame,
      store: SnapshotStore,
      table: String,
      queryName: String,
      checkpointDir: String): DataStreamWriter[Row] =
    // watermark-only batches carry no finalized windows; the
    // fingerprint's emptiness probe keeps them from minting empty
    // snapshot versions
    snapshotSink(tierWindows, queryName, checkpointDir) { b =>
      b.commit(store, table)(_ => encodePayloadSegments(b.rows))
    }

  /** Streaming tier maintenance — the continuous face of
   * [[graft.operators.Rollup.mergeLate]]: each micro-batch of raw
   * points folds into the latest committed tier snapshot in one
   * whole-tier re-merge (the per-batch fold of [[foldTierBatch]]).
   * Arrival order does not matter — no watermark, no dropped late
   * data — because the merge is an exact integer reaggregation, so
   * after any sequence of batches the table's latest version is
   * bit-equal to the one-shot batch rollup of every point seen. Each
   * batch commits one snapshot version fingerprinted by batch id PLUS
   * exact content (count + hash-sum): a genuine crash-replay skips,
   * while a rewound batch counter with different content — a fresh
   * checkpoint aimed at a populated table — fails loudly instead of
   * silently dropping or double-counting. Input schema:
   * (source string, pos, tok). */
  def tierMergeSink(
      points: DataFrame,
      store: SnapshotStore,
      table: String,
      queryName: String,
      checkpointDir: String,
      tier: String): DataStreamWriter[Row] =
    snapshotSink(points, queryName, checkpointDir) { b =>
      foldTierBatch(store, "tierMergeSink", b, table, tier, None)
    }

  /** Streaming tier MAINTENANCE — the lifecycle composed into one sink
   * (ingest -> merge -> compact-then-expire), the continuous face of
   * [[graft.operators.Retention.safeExpire]] beside [[tierMergeSink]].
   * Each micro-batch of raw points is fingerprinted once and rolled up
   * once, then ([[foldTierBatch]]):
   *   1. ONE job over the batch's persisted fine-tier delta state and
   *      the previous fine snapshot's `window_start` yields the guard
   *      count and the fine tier's frontier;
   *   2. the COARSE tier commits FIRST — the fine delta folded into its
   *      latest snapshot, cascading inside the same aggregate — because
   *      the coarse tier is the retention policy's coverage and keeps
   *      full history;
   *   3. the FINE tier commits the fine delta folded into its latest
   *      snapshot, compacted-then-expired against the just-committed
   *      coarse table: the horizon trails the frontier by `keepWindows`
   *      windows, and a fine row older than it is dropped only where its
   *      coarse coverage exists (here it always does — the SAME batch
   *      advanced coarse first, and a coarse parent window never starts
   *      after its fine child). The horizon is MONOTONE across batches
   *      (the frontier is the max over the delta AND the previous
   *      snapshot, so a late-only batch never pulls it back), so an
   *      expired window cannot resurrect: late points for it still merge
   *      into the coarse tier, and the fine window they re-create is
   *      re-expired inside the same commit.
   * Both tables commit exactly-once per batch under the
   * [[batchFingerprint]] content-fingerprint contract, the coarse stage
   * nested in the fine one: a crash between the two commits replays the
   * batch, resumes the already-committed coarse version, and completes
   * the fine one; a batch the fine table holds is skipped whole. The
   * stored fine table carries safeExpire's `retained_uncovered` audit
   * flag (always false in this self-covering composition; meaningful
   * when a caller points the sink at an externally-maintained coarse
   * table via [[graft.operators.Retention.safeExpire]] directly).
   * Input schema: (source string, pos, tok). */
  def tierMaintenanceSink(
      points: DataFrame,
      store: SnapshotStore,
      fineTable: String,
      coarseTable: String,
      queryName: String,
      checkpointDir: String,
      fineTier: String,
      coarseTier: String,
      keepWindows: Long): DataStreamWriter[Row] = {
    require(keepWindows >= 1, s"tierMaintenanceSink: keepWindows must be >= 1, got $keepWindows")
    require(
      Tier.widths(coarseTier) > Tier.widths(fineTier),
      s"tierMaintenanceSink: coverage tier $coarseTier must be coarser than $fineTier")
    val coverage = Some(Coverage(coarseTable, coarseTier, keepWindows))
    snapshotSink(points, queryName, checkpointDir) { b =>
      foldTierBatch(store, "tierMaintenanceSink", b, fineTable, fineTier, coverage)
    }
  }

  /** The maintenance sink's coverage tier: `table` of tier `tier`, and
   * how many fine windows the fine tier keeps behind its frontier. */
  private final case class Coverage(table: String, tier: String, keepWindows: Long)

  /** The per-batch fold of both tier sinks: micro-batch `b` of raw
   * points into the `tier` table `table` — and first into the `coverage`
   * table, which `table` is then compacted-then-expired against. The
   * coverage stage runs INSIDE the fine table's stage: the coarse tier
   * still commits first, a batch the fine table holds is a full replay
   * (its coarse commit came first), and the fine table's rewind check
   * fires before either table is written. Every table folds the same ONE
   * persisted fine delta ([[graft.operators.Rollup.pointState]]) into its
   * previous snapshot with ONE aggregate,
   * [[graft.operators.Rollup.remerge]], which truncates the delta's
   * windows to the table's width, so the coverage tier's cascade runs in
   * that aggregate too — the same fold
   * [[graft.operators.Rollup.mergeLate]] runs. ONE job over the delta,
   * run by the first table to fold, checks the guard, warms the cache
   * and, when expiring, takes the frontier: max(window_start) over the
   * delta and the previous snapshot, i.e. over the folded tier without
   * running the fold. A stored `retained_uncovered` flag is dropped
   * before the fold; the expiry re-derives it. */
  private def foldTierBatch(
      store: SnapshotStore,
      caller: String,
      b: SinkBatch,
      table: String,
      tier: String,
      coverage: Option[Coverage]): Unit = {
    val spark = b.rows.sparkSession
    def readTier(s: SnapshotInfo): DataFrame = store.read(spark, s).drop("retained_uncovered")
    // set once the fine stage computes; held until its write has run
    var persisted: Option[DataFrame] = None
    try b.commit(store, table) { prev =>
      val prevTier = prev.map(readTier)
      val delta = Rollup.pointState(b.rows, tier).persist(StorageLevel.MEMORY_AND_DISK)
      persisted = Some(delta)
      lazy val probe = {
        val frontierOver = if (coverage.isDefined) prevTier else None
        val r = frontierOver
          .foldLeft(delta.select(lit(1L).as("_n"), col("window_start"))) { (rows, p) =>
            rows.unionByName(p.select(lit(0L).as("_n"), col("window_start")))
          }
          .agg(sum(col("_n")), expr("CAST(max(window_start) AS BIGINT)"))
          .head()
        Rollup.guardDelta(r.getLong(0), Rollup.DefaultMaxAffectedWindows, caller)
        r
      }
      def fold(prev: Option[DataFrame], t: String): DataFrame = {
        probe // the guard fires before any fold is built, let alone written
        prev.fold(Rollup.reaggregate(delta, t))(Rollup.remerge(_, delta, t))
      }
      coverage.fold(fold(prevTier, tier)) { c =>
        // coarse first: it is the fine tier's expiry coverage
        val covered = b.commit(store, c.table) { coarsePrev =>
          fold(coarsePrev.map(readTier), c.tier)
        }.snap
        val horizon = probe.getLong(1) - (c.keepWindows - 1) * Tier.widths(tier)
        Retention.safeExpire(fold(prevTier, tier), store.read(spark, covered), c.tier, horizon)
      }
    } finally persisted.foreach(_.unpersist())
  }

  /** One payload-segment row per (source, bucket) of a finalized-window
   * batch: timestamps delta-of-delta encoded, values Gorilla- AND
   * Chimp-encoded (the batch table's exact column shape). */
  private def encodePayloadSegments(batch: DataFrame): DataFrame = {
    batch
      .groupBy(col("source"), col("bucket"))
      .agg(
        sort_array(collect_list(struct(col("window_start"), col("value"))))
          .as("series"))
      .select(
        col("source"),
        col("bucket"),
        size(col("series")).as("n_windows"),
        call("dod_encode", expr("CAST(series.window_start AS array<bigint>)"))
          .as("payload_ts"),
        call("gorilla_encode", expr("CAST(series.value AS array<double>)"))
          .as("payload_values"),
        call("chimp_encode", expr("CAST(series.value AS array<double>)"))
          .as("payload_values_chimp"))
  }

  final case class Obs(key: String, window_start: Long, value: Double)
  final case class Filled(key: String, window_start: Long, value: Double, is_gap: Boolean)
  final case class FillState(lastWindow: Long, lastValue: Double)

  /** Streaming gap-fill: the continuous face of [[graft.operators.GapFill]]
   * — per key, every missing `width`-spaced window between consecutive
   * observations is emitted with the last observed value carried forward
   * (LOCF), including gaps that SPAN micro-batch boundaries (the keyed
   * state remembers the last emitted window). Late/duplicate windows
   * (<= the state's last window) are dropped, mirroring the watermark
   * discipline of the windowed rollup. State is O(1) per key. */
  def gapFillStream(obs: Dataset[Obs], width: Long): Dataset[Filled] = {
    import obs.sparkSession.implicits._
    obs
      .groupByKey(_.key)
      .flatMapGroupsWithState[FillState, Filled](
        OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) {
        (key: String, rows: Iterator[Obs], state: GroupState[FillState]) =>
          // (window, value) sort: same-window duplicates inside one batch
          // resolve to the smallest value deterministically, never by
          // shuffle arrival order (the counterRateStream discipline)
          val sorted = rows.toSeq.sortBy(r => (r.window_start, r.value))
          var st = state.getOption.orNull
          val out = scala.collection.mutable.ArrayBuffer.empty[Filled]
          sorted.foreach { o =>
            if (st != null && o.window_start > st.lastWindow + width) {
              var w = st.lastWindow + width
              while (w < o.window_start) {
                out += Filled(key, w, st.lastValue, is_gap = true)
                w += width
              }
            }
            if (st == null || o.window_start > st.lastWindow) {
              out += Filled(key, o.window_start, o.value, is_gap = false)
              st = FillState(o.window_start, o.value)
            }
          }
          if (st != null) state.update(st)
          out.iterator
      }
  }

  final case class RateIn(key: String, window_start: Long, value: Long)
  final case class RateOut(
      key: String,
      window_start: Long,
      value: Long,
      increase: Option[Long],
      rate_per_unit: Option[Double])
  final case class RateState(lastWindow: Long, lastValue: Long)

  /** Streaming counter rate — the continuous face of
   * [[graft.operators.SeriesAnalytics.counterRate]]: per key, the
   * reset-aware increase and gap-diluted rate against the PREVIOUS
   * window, with the last (window, value) carried in keyed state so the
   * lag crosses micro-batch boundaries (the gapFillStream O(1)-per-key
   * state discipline). Within a batch rows sort by (window, value); rows
   * at or before the state's last window are dropped (late/duplicate —
   * mirroring the batch operator's strict ordering), so SAME-WINDOW
   * duplicates inside one batch resolve deterministically to the
   * smallest value — shuffle arrival order never decides (a
   * window-alone sort is stable and would keep whichever duplicate
   * happened to arrive first). A key's first-ever window emits None
   * increase/rate, exactly as the batch lag does. */
  def counterRateStream(in: Dataset[RateIn]): Dataset[RateOut] = {
    import in.sparkSession.implicits._
    in.groupByKey(_.key)
      .flatMapGroupsWithState[RateState, RateOut](
        OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) {
        (key: String, rows: Iterator[RateIn], state: GroupState[RateState]) =>
          val sorted = rows.toSeq.sortBy(r => (r.window_start, r.value))
          var st = state.getOption.orNull
          val out = scala.collection.mutable.ArrayBuffer.empty[RateOut]
          sorted.foreach { r =>
            if (st == null) {
              out += RateOut(key, r.window_start, r.value, None, None)
              st = RateState(r.window_start, r.value)
            } else if (r.window_start > st.lastWindow) {
              val inc =
                if (r.value >= st.lastValue) r.value - st.lastValue
                else r.value // counter reset: increase since the restart
              out += RateOut(
                key,
                r.window_start,
                r.value,
                Some(inc),
                Some(inc.toDouble / (r.window_start - st.lastWindow).toDouble))
              st = RateState(r.window_start, r.value)
            } // else: late/duplicate window — dropped
          }
          if (st != null) state.update(st)
          out.iterator
      }
  }

  final case class CusumIn(key: String, window_start: Long, value: Long)
  final case class CusumOut(
      key: String,
      window_start: Long,
      value: Long,
      cusum: Long,
      alarm: Boolean)
  final case class CusumState(lastWindow: Long, p: Long, minP: Long)

  /** Streaming CUSUM — the continuous face of
   * [[graft.operators.SeriesAnalytics.cusum]], via the same prefix-min
   * identity: keyed state carries (last window, running sum P of
   * (value - k), running min of P seeded at P_0 = 0), so
   * S = P - min(P-so-far) needs O(1) state per key and no replay of
   * history. Within a batch rows sort by (window, value); rows at or
   * before the state's last window are dropped (the counterRateStream
   * late discipline), so same-window duplicates inside one batch
   * resolve deterministically to the smallest value rather than by
   * shuffle arrival order. After any batching of a duplicate-free
   * window sequence the emitted (window, cusum, alarm) rows equal the
   * batch operator's. */
  def cusumStream(in: Dataset[CusumIn], k: Long, h: Long): Dataset[CusumOut] = {
    import in.sparkSession.implicits._
    in.groupByKey(_.key)
      .flatMapGroupsWithState[CusumState, CusumOut](
        OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) {
        (key: String, rows: Iterator[CusumIn], state: GroupState[CusumState]) =>
          val sorted = rows.toSeq.sortBy(r => (r.window_start, r.value))
          var st = state.getOption.getOrElse(CusumState(Long.MinValue, 0L, 0L))
          val out = scala.collection.mutable.ArrayBuffer.empty[CusumOut]
          sorted.foreach { r =>
            if (r.window_start > st.lastWindow) {
              val p = st.p + (r.value - k)
              val minP = math.min(st.minP, p)
              st = CusumState(r.window_start, p, minP)
              val s = p - minP
              out += CusumOut(key, r.window_start, r.value, s, s > h)
            } // else: late/duplicate window — dropped
          }
          state.update(st)
          out.iterator
      }
  }

  final case class AsOfIn(key: String, ts: Long, is_right: Boolean, value: Double)
  final case class AsOfOut(key: String, ts: Long, asof_value: Option[Double])
  final case class AsOfState(rightTs: Long, rightValue: Double)

  /** Streaming as-of join — the continuous face of
   * [[graft.operators.AsOfJoin]]: each left (event) row is joined to the
   * most recent right (quote) row at-or-before its time, per key, with the
   * last right row carried in keyed state so matches SPAN micro-batch
   * boundaries (the gapFillStream state discipline; state is O(1) per
   * key). The two streams arrive pre-unioned and tagged (`is_right`) — the
   * same union-tag construction as the batch operator, which is also how a
   * caller feeds two source streams: `leftDs.union(rightDs)` keeps this a
   * single stateful operator instead of a stream-stream join with
   * watermark-bounded buffers.
   *
   * Ordering contract (as sessionize/gapFillStream): per-key delivery is
   * event-time-ordered ACROSS batches; within a batch rows are sorted
   * here, right-before-left at equal times ("at or before"), equal-time
   * right rows resolved max-value-last — the batch operator's tie rule.
   * `tolerance` mirrors merge_asof: a match older than `tolerance` time
   * units yields None instead of a stale carry. */
  def asOfStream(in: Dataset[AsOfIn], tolerance: Option[Long] = None): Dataset[AsOfOut] = {
    import in.sparkSession.implicits._
    in.groupByKey(_.key)
      .flatMapGroupsWithState[AsOfState, AsOfOut](
        OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) {
        (key: String, rows: Iterator[AsOfIn], state: GroupState[AsOfState]) =>
          val sorted = rows.toSeq.sortBy(r => (r.ts, r.is_right, r.value))(
            Ordering.Tuple3(Ordering.Long, Ordering.Boolean.reverse, Ordering.Double.TotalOrdering))
          var st = state.getOption.orNull
          val out = scala.collection.mutable.ArrayBuffer.empty[AsOfOut]
          sorted.foreach { r =>
            if (r.is_right) {
              // monotonic guard: a late right row older than the carried
              // state must not regress it
              if (st == null || r.ts >= st.rightTs) st = AsOfState(r.ts, r.value)
            } else {
              val v = st match {
                case null => None
                // out-of-contract LATE left row: the carried right state is
                // from the FUTURE relative to it — emitting the carry would
                // violate at-or-before (the batch operator yields None for
                // this row), so refuse the match rather than lie
                case s if s.rightTs > r.ts => None
                case s if tolerance.exists(tol => r.ts - s.rightTs > tol) => None
                case s => Some(s.rightValue)
              }
              out += AsOfOut(key, r.ts, v)
            }
          }
          if (st != null) state.update(st)
          out.iterator
      }
  }

  /** Continuous cardinality maintenance: each micro-batch's per-window
   * KMV sketch folds into the committed sketch table
   * ([[graft.operators.Sketches.mergeSketches]] — a pure set property,
   * so re-folding identical content is a no-op), committed through the
   * [[batchFingerprint]] exactly-once contract: crash-replays of a batch
   * skip, rewound checkpoints over different content fail loudly. The
   * streaming face of [[graft.jobs.SketchJob]]: history is never
   * rescanned — each batch costs its own sketch plus one exchange
   * bounded by keys x k. */
  def sketchMaintenanceSink(
      points: DataFrame,
      store: SnapshotStore,
      table: String,
      queryName: String,
      checkpointDir: String,
      windowWidth: Int,
      k: Int): DataStreamWriter[Row] =
    snapshotSink(points, queryName, checkpointDir) { b =>
      b.commit(store, table) { prev =>
        val delta = graft.operators.Sketches.kmvSketch(b.rows, windowWidth, k)
        prev.fold(delta) { p =>
          graft.operators.Sketches.mergeSketches(
            store.read(b.rows.sparkSession, p), delta, Seq("source", "bucket", "window_start"), k)
        }
      }
    }

  final case class Ev(user_id: Long, ts_us: Long, value: Double)
  final case class SessionState(sessionId: Long, lastTsUs: Long)
  final case class SessionAssignment(user_id: Long, ts_us: Long, session_id: Long)

  /** Streaming sessionization: custom keyed state via
   * flatMapGroupsWithState — the streaming counterpart of
   * [[graft.operators.Sessionize]] (same gap rule). Assumes per-user
   * in-order delivery within a batch (sorted inside the group). */
  def sessionize(
      events: Dataset[Ev],
      gapMicros: Long): Dataset[SessionAssignment] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionAssignment](
        OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[Ev], state: GroupState[SessionState]) =>
          val sorted = rows.toSeq.sortBy(_.ts_us)
          var st = state.getOption.getOrElse(SessionState(0L, Long.MinValue))
          val out = sorted.map { e =>
            if (st.lastTsUs != Long.MinValue && e.ts_us - st.lastTsUs > gapMicros)
              st = SessionState(st.sessionId + 1, e.ts_us)
            else
              st = SessionState(st.sessionId, e.ts_us)
            SessionAssignment(user, e.ts_us, st.sessionId)
          }
          state.update(st)
          out.iterator
      }
  }
}
