package graft.streaming

import graft.core.{Hash, Tier}
import graft.functions.GraftFunctions.call
import graft.jobs.{SnapshotInfo, SnapshotStore, StageRun}
import graft.operators.{Retention, Rollup}
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.storage.StorageLevel
import scala.math.Ordering.Double.TotalOrdering

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

  /** The one keyed scan behind the five stateful stream operators
   * ([[gapFillStream]], [[counterRateStream]], [[cusumStream]],
   * [[asOfStream]], [[sessionize]]): rows grouped by `key`, one
   * append-mode group-state scan per key without timeout, O(1) state per
   * key. The contract all five share:
   *   - per key, delivery is event-time-ordered ACROSS micro-batches;
   *     within a batch the key's rows are sorted by `order`, a TOTAL
   *     order, so ties (same-window duplicates, equal-time rows) resolve
   *     by value, never by shuffle arrival order;
   *   - a row for which `late(state, row)` holds is behind the key's
   *     state: it is dropped, emits nothing and leaves the state where it
   *     was, so no late row moves a key's state backwards. The window
   *     operators call a row at or before the state's window late (one
   *     output row per window: a re-delivered window is a duplicate);
   *     `sessionize` and as-of right rows call only a strictly earlier
   *     time late (an equal time stays in the session, and the last
   *     equal-time right row wins);
   *   - every other row goes through `step(key, state, row)`, which
   *     returns the next state (None: still no state) and the rows to emit.
   * So after any contiguous batching of an in-order stream, the emitted
   * rows equal the batch twin's over the same rows (without re-delivered
   * windows, for the window operators). */
  private def keyedScan[I, K: Encoder, S: Encoder, O: Encoder](in: Dataset[I], key: I => K)(
      order: Ordering[I],
      late: (S, I) => Boolean)(
      step: (K, Option[S], I) => (Option[S], Seq[O])): Dataset[O] =
    in.groupByKey(key)
      .flatMapGroupsWithState[S, O](OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (k: K, rows: Iterator[I], state: GroupState[S]) =>
          var st = state.getOption
          val out = rows.toSeq.sorted(order).flatMap { r =>
            if (st.exists(late(_, r))) Nil
            else {
              val (next, emit) = step(k, st, r)
              st = next
              emit
            }
          }
          st.foreach(state.update)
          out.iterator
      }

  final case class Obs(key: String, window_start: Long, value: Double)
  final case class Filled(key: String, window_start: Long, value: Double, is_gap: Boolean)
  final case class FillState(lastWindow: Long, lastValue: Double)

  /** Streaming gap-fill: the continuous face of [[graft.operators.GapFill]]
   * — per key, every missing `width`-spaced window between consecutive
   * observations is emitted with the last observed value carried forward
   * (LOCF), including gaps that SPAN micro-batch boundaries (the keyed
   * state remembers the last emitted window). Rows sort by (window,
   * value); a window at or before the state's is late ([[keyedScan]]). */
  def gapFillStream(obs: Dataset[Obs], width: Long): Dataset[Filled] = {
    import obs.sparkSession.implicits._
    keyedScan[Obs, String, FillState, Filled](obs, _.key)(
      Ordering.by(o => (o.window_start, o.value)),
      (s, o) => o.window_start <= s.lastWindow) { (key, st, o) =>
      val gaps = st.toSeq.flatMap { s =>
        Range.Long(s.lastWindow + width, o.window_start, width)
          .map(Filled(key, _, s.lastValue, is_gap = true))
      }
      val seen = Filled(key, o.window_start, o.value, is_gap = false)
      (Some(FillState(o.window_start, o.value)), gaps :+ seen)
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
   * lag crosses micro-batch boundaries. Rows sort by (window, value); a
   * window at or before the state's is late ([[keyedScan]]), mirroring
   * the batch operator's strict ordering. A key's first-ever window
   * emits None increase/rate, exactly as the batch lag does. */
  def counterRateStream(in: Dataset[RateIn]): Dataset[RateOut] = {
    import in.sparkSession.implicits._
    keyedScan[RateIn, String, RateState, RateOut](in, _.key)(
      Ordering.by(r => (r.window_start, r.value)),
      (s, r) => r.window_start <= s.lastWindow) { (key, st, r) =>
      val (inc, rate) = st.map { s =>
        val inc =
          if (r.value >= s.lastValue) r.value - s.lastValue
          else r.value // counter reset: increase since the restart
        (inc, inc.toDouble / (r.window_start - s.lastWindow).toDouble)
      }.unzip
      (Some(RateState(r.window_start, r.value)), Seq(RateOut(key, r.window_start, r.value, inc, rate)))
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
   * history. Rows sort by (window, value); a window at or before the
   * state's is late ([[keyedScan]]). */
  def cusumStream(in: Dataset[CusumIn], k: Long, h: Long): Dataset[CusumOut] = {
    import in.sparkSession.implicits._
    keyedScan[CusumIn, String, CusumState, CusumOut](in, _.key)(
      Ordering.by(r => (r.window_start, r.value)),
      (s, r) => r.window_start <= s.lastWindow) { (key, st, r) =>
      val p = st.fold(0L)(_.p) + (r.value - k)
      val minP = math.min(st.fold(0L)(_.minP), p)
      val out = CusumOut(key, r.window_start, r.value, p - minP, p - minP > h)
      (Some(CusumState(r.window_start, p, minP)), Seq(out))
    }
  }

  final case class AsOfIn(key: String, ts: Long, is_right: Boolean, value: Double)
  final case class AsOfOut(key: String, ts: Long, asof_value: Option[Double])
  final case class AsOfState(rightTs: Long, rightValue: Double)

  /** Streaming as-of join — the continuous face of
   * [[graft.operators.AsOfJoin]]: each left (event) row is joined to the
   * most recent right (quote) row at-or-before its time, per key, with the
   * last right row carried in keyed state so matches SPAN micro-batch
   * boundaries. The two streams arrive pre-unioned and tagged
   * (`is_right`) — the same union-tag construction as the batch operator,
   * which is also how a caller feeds two source streams:
   * `leftDs.union(rightDs)` keeps this a single stateful operator instead
   * of a stream-stream join with watermark-bounded buffers.
   *
   * Rows sort right-before-left at equal times ("at or before"), equal-time
   * right rows max-value-last — the batch operator's tie rule. A right
   * row strictly before the carried one is late ([[keyedScan]]). A left
   * row before the carried right row is out of contract: the carry is from
   * its FUTURE, so it gets None (as from the batch operator when no right
   * row precedes it) rather than a match that breaks at-or-before.
   * `tolerance` mirrors merge_asof: a match older than `tolerance` time
   * units yields None instead of a stale carry. */
  def asOfStream(in: Dataset[AsOfIn], tolerance: Option[Long] = None): Dataset[AsOfOut] = {
    import in.sparkSession.implicits._
    keyedScan[AsOfIn, String, AsOfState, AsOfOut](in, _.key)(
      Ordering.by(r => (r.ts, !r.is_right, r.value)),
      (s, r) => r.is_right && r.ts < s.rightTs) { (key, st, r) =>
      if (r.is_right) (Some(AsOfState(r.ts, r.value)), Nil)
      else {
        val v = st.filter(s => s.rightTs <= r.ts && tolerance.forall(r.ts - s.rightTs <= _))
        (st, Seq(AsOfOut(key, r.ts, v.map(_.rightValue))))
      }
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

  /** Streaming sessionization — the continuous face of
   * [[graft.operators.Sessionize]] (same gap rule): per user, a new
   * session starts when an event is more than `gapMicros` after the
   * previous one, with (session id, last time) in keyed state so sessions
   * span micro-batches. Rows sort by (time, value); an event strictly
   * before the state's last time is late and dropped ([[keyedScan]]), so
   * it cannot rewind the session clock. */
  def sessionize(
      events: Dataset[Ev],
      gapMicros: Long): Dataset[SessionAssignment] = {
    import events.sparkSession.implicits._
    keyedScan[Ev, Long, SessionState, SessionAssignment](events, _.user_id)(
      Ordering.by(e => (e.ts_us, e.value)),
      (s, e) => e.ts_us < s.lastTsUs) { (user, st, e) =>
      val id = st.fold(0L) { s =>
        if (e.ts_us - s.lastTsUs > gapMicros) s.sessionId + 1 else s.sessionId
      }
      (Some(SessionState(id, e.ts_us)), Seq(SessionAssignment(user, e.ts_us, id)))
    }
  }
}
