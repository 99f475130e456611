package graft

import java.sql.Timestamp

import scala.util.Random

import graft.streaming.StreamingOps
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

class StreamingSpec extends SparkSpec {

  test("watermarked hourly rollup: on-time rows aggregate, state finalizes after watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String, Double)]
    val df = in
      .toDF()
      .toDF("ts", "event_type", "value")
    val q = StreamingOps
      .hourlyEventRollup(df)
      .writeStream
      .format("memory")
      .queryName("hourly")
      .outputMode(OutputMode.Append())
      .start()
    def ts(h: Int, m: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    // two events in hour 0, one in hour 1
    in.addData((ts(0, 10), "a", 1.5), (ts(0, 40), "a", 2.25), (ts(1, 5), "a", 4.0))
    q.processAllAvailable()
    // advance watermark past hour 0+2h grace -> hour-0 window emits (append)
    in.addData((ts(4, 0), "a", 0.5))
    q.processAllAvailable()
    val rows = spark
      .sql("SELECT event_type, window_start, cnt, sum_v FROM hourly")
      .collect()
      .map(r => (r.getString(0), r.getTimestamp(1).toString, r.getLong(2), r.getDouble(3)))
      .toSet
    q.stop()
    assert(rows.contains(("a", "2024-01-01 00:00:00.0", 2L, 3.75)))
    assert(rows.contains(("a", "2024-01-01 01:00:00.0", 1L, 4.0)))
  }

  test("streaming dedup: re-observed content within the watermark is dropped across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String, Long)]
    val df = in.toDF().toDF("ts", "text_hash", "doc_id")
    val q = StreamingOps
      .dedupStream(df, "ts", Seq("text_hash"), "10 minutes")
      .writeStream
      .format("memory")
      .queryName("deduped")
      .outputMode(OutputMode.Append())
      .start()
    def ts(m: Int) = Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    in.addData((ts(0), "aaa", 1L), (ts(1), "bbb", 2L))
    q.processAllAvailable()
    // batch 2: a CROSS-BATCH duplicate of "aaa" within the watermark is
    // dropped; a new hash passes
    in.addData((ts(2), "aaa", 3L), (ts(3), "ccc", 4L))
    q.processAllAvailable()
    val rows = spark
      .sql("SELECT text_hash, doc_id FROM deduped")
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .toSet
    q.stop()
    assert(rows == Set(("aaa", 1L), ("bbb", 2L), ("ccc", 4L)), rows.toString)
  }

  test("streaming tier cascade: chained 1m -> 5m aggregation equals batch recomputation") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String, Double)]
    val df = in.toDF().toDF("ts", "event_type", "value")
    val q = StreamingOps
      .tierCascadeStream(df)
      .writeStream
      .format("memory")
      .queryName("cascade")
      .outputMode(OutputMode.Append())
      .start()
    def ts(m: Int, s: Int) = Timestamp.valueOf(f"2024-01-01 00:$m%02d:$s%02d")
    // minutes 0,1,3 in 5m-window 0; minute 7 in 5m-window 1; spread over
    // two micro-batches so the chained state crosses batch boundaries
    val data = Seq(
      (ts(0, 10), "a", 1.0), (ts(0, 40), "a", 2.0),
      (ts(1, 5), "a", 4.0), (ts(3, 30), "a", 8.0))
    in.addData(data.take(2))
    q.processAllAvailable()
    in.addData(data.drop(2) :+ ((ts(7, 0), "a", 16.0)))
    q.processAllAvailable()
    // advance the watermark far enough to finalize BOTH 5m windows
    in.addData((Timestamp.valueOf("2024-01-01 01:00:00"), "a", 0.0))
    q.processAllAvailable()
    val rows = spark
      .sql("SELECT event_type, window_start, cnt, n_1m_windows, sum_v FROM cascade")
      .collect()
      .map(r =>
        (r.getString(0), r.getTimestamp(1).toString, r.getLong(2), r.getLong(3),
          r.getDouble(4)))
      .toSet
    q.stop()
    // window [00:00, 05:00): 4 events over 3 distinct 1m windows, sum 15;
    // window [05:00, 10:00): 1 event, 1 window, sum 16 — exactly the batch
    // ladder's reaggregation of the same points
    assert(rows.contains(("a", "2024-01-01 00:00:00.0", 4L, 3L, 15.0)), rows.toString)
    assert(rows.contains(("a", "2024-01-01 00:05:00.0", 1L, 1L, 16.0)), rows.toString)
  }

  test("streaming gap-fill: LOCF windows emitted across micro-batch boundaries") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[StreamingOps.Obs]
    val q = StreamingOps
      .gapFillStream(in.toDS(), width = 60L)
      .writeStream
      .format("memory")
      .queryName("gapfilled")
      .outputMode(OutputMode.Append())
      .start()
    // batch 1: windows 0 and 180 -> gaps at 60, 120 filled with 1.5
    in.addData(StreamingOps.Obs("k", 0L, 1.5), StreamingOps.Obs("k", 180L, 4.0))
    q.processAllAvailable()
    // batch 2: window 360 -> the CROSS-BATCH gap (240, 300) fills with 4.0;
    // a late duplicate (180) is dropped
    in.addData(StreamingOps.Obs("k", 360L, 9.0), StreamingOps.Obs("k", 180L, 777.0))
    q.processAllAvailable()
    val rows = spark
      .sql("SELECT window_start, value, is_gap FROM gapfilled ORDER BY window_start")
      .collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getBoolean(2)))
      .toSeq
    q.stop()
    assert(
      rows == Seq(
        (0L, 1.5, false),
        (60L, 1.5, true),
        (120L, 1.5, true),
        (180L, 4.0, false),
        (240L, 4.0, true),
        (300L, 4.0, true),
        (360L, 9.0, false)))
  }

  test("streaming snapshot sink: one snapshot per micro-batch, replayed batch skipped") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.jobs.SnapshotStore
    val base = tmpDir("graft-stream-snap-").toString
    val store = new SnapshotStore(base)
    val in = MemoryStream[StreamingOps.Obs]
    val q = StreamingOps
      .sinkToSnapshots(in.toDF(), store, "stream_tier", "snaptest", s"$base/_checkpoint")
      .start()
    in.addData(StreamingOps.Obs("a", 0L, 1.0), StreamingOps.Obs("a", 60L, 2.0))
    q.processAllAvailable()
    in.addData(StreamingOps.Obs("b", 0L, 3.0))
    q.processAllAvailable()
    q.stop()
    val snaps = store.snapshots("stream_tier")
    assert(snaps.map(_.rowCount).sum == 3)
    assert(snaps.map(_.fingerprint).distinct.size == snaps.size)
    // a replayed batch (same fingerprint) resumes instead of re-writing
    val before = snaps.size
    val replay =
      store.stage("stream_tier", "stream_snaptest", snaps.head.fingerprint) {
        fail("replayed batch must not recompute"); null
      }
    assert(replay.resumed && replay.snap.version == snaps.head.version)
    assert(store.snapshots("stream_tier").size == before)
  }

  test("streaming codec-payload sink: decoded segments == finalized tier windows; replay skipped") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.jobs.SnapshotStore
    val base = tmpDir("graft-stream-codec-").toString
    val store = new SnapshotStore(base)
    val in = MemoryStream[(Timestamp, String, Double)]
    // the composition under test: watermarked 1m tier agg -> append-mode
    // finalized windows -> per-batch payload segments into the store
    val tier = in
      .toDF()
      .toDF("ts", "source", "value")
      .withWatermark("ts", "2 minutes")
      .groupBy(col("source"), window(col("ts"), "1 minute"))
      .agg(avg(col("value")).as("value"))
      .select(
        col("source"),
        lit(0).as("bucket"),
        col("window.start").cast("long").as("window_start"),
        col("value"))
    val q = StreamingOps
      .codecPayloadSink(tier, store, "stream_payload", "codectest", s"$base/_ckpt")
      .start()
    def ts(m: Int, s: Int) = Timestamp.valueOf(f"2024-01-01 00:$m%02d:$s%02d")
    in.addData((ts(0, 10), "a", 1.0), (ts(0, 40), "a", 3.0), (ts(1, 10), "a", 5.0), (ts(0, 20), "b", 2.0))
    q.processAllAvailable()
    in.addData((ts(5, 0), "a", 7.0)) // watermark -> 00:03, finalizes minutes 0-1
    q.processAllAvailable()
    in.addData((ts(9, 0), "a", 9.0)) // watermark -> 00:07, finalizes minute 5
    q.processAllAvailable()
    q.stop()
    val snaps = store.snapshots("stream_payload")
    assert(snaps.size >= 2, s"expected segments from >= 2 micro-batches, got ${snaps.size}")
    // decode every segment and concatenate: recovers exactly the finalized
    // windows (minute 9 never finalizes — no watermark passes it)
    val decoded = snaps
      .sortBy(_.version)
      .map(si => store.read(spark, si))
      .reduce(_ unionAll _)
      .select(
        col("source"),
        posexplode(call_function("dod_decode", col("payload_ts"))).as(Seq("i", "w")),
        call_function("gorilla_decode", col("payload_values")).as("gv"),
        call_function("chimp_decode", col("payload_values_chimp")).as("cv"))
      .select(col("source"), col("w"), expr("gv[i]").as("gv"), expr("cv[i]").as("cv"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .toSet
    val epoch = ts(0, 0).getTime / 1000
    assert(
      decoded == Set(
        ("a", epoch, 2.0, 2.0),
        ("b", epoch, 2.0, 2.0),
        ("a", epoch + 60, 5.0, 5.0),
        ("a", epoch + 300, 7.0, 7.0)))
    // exactly-once: a replayed batch (same fingerprint) must not re-encode
    val before = snaps.size
    val replay =
      store.stage("stream_payload", "stream_codectest", snaps.head.fingerprint) {
        fail("replayed batch must not recompute"); null
      }
    assert(replay.resumed && replay.snap.version == snaps.head.version)
    assert(store.snapshots("stream_payload").size == before)
  }

  test("streaming tier maintenance: merged snapshots == one-shot batch rollup; replay skipped") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.jobs.SnapshotStore
    val base = tmpDir("graft-stream-merge-").toString
    val store = new SnapshotStore(base)
    val in = MemoryStream[(String, Int, Int)]
    val q = StreamingOps
      .tierMergeSink(
        in.toDF().toDF("source", "pos", "tok"),
        store,
        "tier_1m",
        "mergetest",
        s"$base/_ckpt",
        graft.core.Tier.OneMinute)
      .start()
    // batch 1 scattered on-time points; batch 2 LATE points landing in
    // batch-1 windows plus a brand-new window; batch 3 more late data —
    // arrival order must not matter (exact merge, no watermark)
    val b1 = Seq(("a", 0, 5), ("a", 1, 7), ("a", 61, 9), ("b", 0, 4))
    val b2 = Seq(("a", 2, 11), ("b", 1, 2), ("a", 200, 3))
    val b3 = Seq(("a", 62, 1), ("b", 59, 8))
    in.addData(b1: _*); q.processAllAvailable()
    in.addData(b2: _*); q.processAllAvailable()
    in.addData(b3: _*); q.processAllAvailable()
    q.stop()
    val snaps = store.snapshots("tier_1m")
    assert(snaps.size == 3, s"one snapshot version per batch, got ${snaps.size}")
    val latest = store.read(spark, snaps.last).collect().map(_.toSeq).toSet
    val oneShot = graft.operators.Rollup
      .rollupFromPoints((b1 ++ b2 ++ b3).toDF("source", "pos", "tok"), graft.core.Tier.OneMinute)
      .collect()
      .map(_.toSeq)
      .toSet
    assert(latest == oneShot, "merged stream state != one-shot batch rollup")
    // exactly-once: a replayed batch must not merge twice
    val before = snaps.size
    val replay =
      store.stage("tier_1m", "stream_mergetest", snaps.head.fingerprint) {
        fail("replayed batch must not recompute"); null
      }
    assert(replay.resumed && replay.snap.version == snaps.head.version)
    assert(store.snapshots("tier_1m").size == before)
    // a FRESH checkpoint against the populated table renumbers batches
    // from 0; skipping would silently drop the new data — must refuse
    val in2 = MemoryStream[(String, Int, Int)]
    val q2 = StreamingOps
      .tierMergeSink(
        in2.toDF().toDF("source", "pos", "tok"),
        store,
        "tier_1m",
        "mergetest",
        s"$base/_ckpt_fresh",
        graft.core.Tier.OneMinute)
      .start()
    in2.addData(("c", 5, 42))
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q2.processAllAvailable()
    }
    q2.stop()
    assert(
      err.getMessage.contains("fresh checkpoint") ||
        Option(err.getCause).exists(_.getMessage.contains("fresh checkpoint")),
      s"expected the rewind refusal, got: ${err.getMessage}")
    assert(store.snapshots("tier_1m").size == before, "no snapshot from refused batch")
    // a LEGACY batch-id-only fingerprint (pre-content-fingerprint commit)
    // is unverifiable: replaying against it must refuse, not re-merge
    val base2 = tmpDir("graft-stream-legacy-").toString
    val store2 = new SnapshotStore(base2)
    store2.stage("tier_1m", "stream_legacytest", "batch=0")(
      Seq(("a", 0, 1)).toDF("source", "pos", "tok"))
    val in3 = MemoryStream[(String, Int, Int)]
    val q3 = StreamingOps
      .tierMergeSink(
        in3.toDF().toDF("source", "pos", "tok"),
        store2,
        "tier_1m",
        "legacytest",
        s"$base2/_ckpt",
        graft.core.Tier.OneMinute)
      .start()
    in3.addData(("b", 7, 9))
    val err2 = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q3.processAllAvailable()
    }
    q3.stop()
    assert(
      err2.getMessage.contains("legacy") ||
        Option(err2.getCause).exists(_.getMessage.contains("legacy")),
      s"expected the legacy-fingerprint refusal, got: ${err2.getMessage}")
  }

  test("streaming tier maintenance sink: expire trails the frontier; fine == one-shot safeExpire") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.jobs.SnapshotStore
    val base = tmpDir("graft-stream-maint-").toString
    val store = new SnapshotStore(base)
    val in = MemoryStream[(String, Int, Int)]
    val q = StreamingOps
      .tierMaintenanceSink(
        in.toDF().toDF("source", "pos", "tok"),
        store,
        "tier_1m_live",
        "tier_1h_cov",
        "mainttest",
        s"$base/_ckpt",
        graft.core.Tier.OneMinute,
        graft.core.Tier.OneHour,
        keepWindows = 2)
      .start()
    // batch 1: two 1m windows; frontier 60 -> horizon 0, nothing expires.
    // batch 2: LATE points into batch-1 windows; frontier unchanged.
    // batch 3: the frontier jumps to 3660 -> horizon 3600: every older
    // fine window is covered (the SAME batches advanced the 1h tier
    // first) and must be dropped; the late data stays in the 1h tier.
    val b1 = Seq(("a", 0, 5), ("a", 61, 7), ("b", 2, 4))
    val b2 = Seq(("a", 1, 9), ("b", 62, 6))
    val b3 = Seq(("a", 3700, 2))
    in.addData(b1: _*); q.processAllAvailable()
    in.addData(b2: _*); q.processAllAvailable()
    in.addData(b3: _*); q.processAllAvailable()
    q.stop()
    val all = (b1 ++ b2 ++ b3).toDF("source", "pos", "tok")
    // coarse table: exact full history == one-shot 1h rollup
    val coarseGot = store
      .read(spark, store.latest("tier_1h_cov").get)
      .collect()
      .map(_.toSeq)
      .toSet
    val coarseWant = graft.operators.Rollup
      .rollupFromPoints(all, graft.core.Tier.OneHour)
      .collect()
      .map(_.toSeq)
      .toSet
    assert(coarseGot == coarseWant, "coarse coverage tier != one-shot rollup")
    // fine table: == one-shot rollup compact-then-expired at the final
    // horizon (surviving windows were never expired mid-stream because the
    // horizon is monotone, so their merge history is complete)
    val fineGot = store
      .read(spark, store.latest("tier_1m_live").get)
      .collect()
      .map(_.toSeq)
      .toSet
    val fineWant = graft.operators.Retention
      .safeExpire(
        graft.operators.Rollup.rollupFromPoints(all, graft.core.Tier.OneMinute),
        graft.operators.Rollup.rollupFromPoints(all, graft.core.Tier.OneHour),
        graft.core.Tier.OneHour,
        horizonStart = 3600L)
      .collect()
      .map(_.toSeq)
      .toSet
    assert(fineGot == fineWant, "maintained fine tier != one-shot safeExpire")
    // the expiry was real: batch-1/2 windows are gone from fine, and the
    // self-covering composition never leaves an uncovered flag
    assert(fineGot.size == 1 && fineWant.size == 1)
    assert(
      store.read(spark, store.latest("tier_1m_live").get)
        .filter(org.apache.spark.sql.functions.col("retained_uncovered"))
        .isEmpty)
    // one snapshot version per batch per table; replayed batch resumes
    val fineSnaps = store.snapshots("tier_1m_live")
    assert(fineSnaps.size == 3 && store.snapshots("tier_1h_cov").size == 3)
    val replay =
      store.stage("tier_1m_live", "stream_mainttest", fineSnaps.head.fingerprint) {
        fail("replayed batch must not recompute"); null
      }
    assert(replay.resumed && replay.snap.version == fineSnaps.head.version)
  }

  /** The maintenance sink's one-shot references over every point sent:
   * the 1h coverage tier is their rollup, the 1m fine tier their rollup
   * compact-then-expired at `horizon`. */
  private def assertMaintainedTiers(
      store: graft.jobs.SnapshotStore,
      all: org.apache.spark.sql.DataFrame,
      horizon: Long): Unit = {
    import graft.core.Tier
    import graft.operators.{Retention, Rollup}
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet
    val coarseWant = Rollup.rollupFromPoints(all, Tier.OneHour)
    assert(
      rows(store.read(spark, store.latest("tier_1h_cov").get)) == rows(coarseWant),
      "coarse coverage tier != one-shot rollup")
    assert(
      rows(store.read(spark, store.latest("tier_1m_live").get)) ==
        rows(Retention.safeExpire(
          Rollup.rollupFromPoints(all, Tier.OneMinute), coarseWant, Tier.OneHour, horizon)),
      "maintained fine tier != one-shot safeExpire")
  }

  test("tier maintenance sink: a late-only batch keeps the horizon; an empty batch commits nothing") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.jobs.SnapshotStore
    val base = tmpDir("graft-stream-late-").toString
    val store = new SnapshotStore(base)
    val in = MemoryStream[(String, Int, Int)]
    val q = StreamingOps
      .tierMaintenanceSink(
        in.toDF().toDF("source", "pos", "tok"),
        store,
        "tier_1m_live",
        "tier_1h_cov",
        "latetest",
        s"$base/_ckpt",
        graft.core.Tier.OneMinute,
        graft.core.Tier.OneHour,
        keepWindows = 2)
      .start()
    // batch 2 moves the frontier to window 3660 -> horizon 3600. Batch 3
    // is late-only: its own newest window is 3540, so a frontier taken
    // from the batch alone would pull the horizon back to 3480 and keep
    // the re-created fine window 3540 (covered by hour 0, so it must go).
    val b1 = Seq(("a", 0, 5), ("a", 61, 7), ("b", 2, 4))
    val b2 = Seq(("a", 3700, 2))
    val b3 = Seq(("a", 3550, 9), ("b", 5, 6))
    in.addData(b1: _*); q.processAllAvailable()
    in.addData(b2: _*); q.processAllAvailable()
    in.addData(b3: _*); q.processAllAvailable()
    val fine = store.read(spark, store.latest("tier_1m_live").get)
    assert(fine.filter(col("window_start") < 3600).isEmpty, "horizon regressed after a late-only batch")
    // an empty micro-batch runs but mints no version in either table
    val ranBefore = q.lastProgress.batchId
    in.addData(Seq.empty[(String, Int, Int)]); q.processAllAvailable()
    assert(q.lastProgress.batchId == ranBefore + 1 && q.lastProgress.numInputRows == 0)
    q.stop()
    assert(store.snapshots("tier_1m_live").size == 3 && store.snapshots("tier_1h_cov").size == 3)
    assertMaintainedTiers(store, (b1 ++ b2 ++ b3).toDF("source", "pos", "tok"), horizon = 3600L)
  }

  test("tier maintenance sink: steady batches that only move the horizon compile no new classes") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.jobs.SnapshotStore
    import org.apache.spark.metrics.source.CodegenMetrics
    val base = tmpDir("graft-stream-codegen-").toString
    val store = new SnapshotStore(base)
    val in = MemoryStream[(String, Int, Int)]
    val q = StreamingOps
      .tierMaintenanceSink(
        in.toDF().toDF("source", "pos", "tok"),
        store,
        "tier_1m_live",
        "tier_1h_cov",
        "codegentest",
        s"$base/_ckpt",
        graft.core.Tier.OneMinute,
        graft.core.Tier.OneHour,
        keepWindows = 2)
      .start()
    // batch k holds windows 120k and 120k + 60 of the same two sources, so
    // every batch from the second on has the same plan shape and a horizon
    // (frontier 120k + 60, minus one window) 120 further on
    val batches = (0 until 5).map(k => Seq(("a", 120 * k, 5 + k), ("b", 120 * k + 61, 7), ("a", 120 * k + 62, 1)))
    val compiles = batches.map { b =>
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      in.addData(b: _*); q.processAllAvailable()
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    q.stop()
    // batches 0-2 compile the first and the steady classes; 3 and 4 reuse them
    assert(compiles.drop(3).forall(_ == 0), s"classes compiled per batch: $compiles")
    assertMaintainedTiers(store, batches.flatten.toDF("source", "pos", "tok"), horizon = 480L)
  }

  test("tier maintenance sink: a crash between the two commits replays into the fine table only") {
    import spark.implicits._
    import graft.jobs.SnapshotStore
    val base = tmpDir("graft-stream-crash-").toString
    val store = new SnapshotStore(base)
    val src = s"$base/points"
    val schema = Seq(("", 0, 0)).toDF("source", "pos", "tok").schema
    def start() = StreamingOps
      .tierMaintenanceSink(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src),
        store,
        "tier_1m_live",
        "tier_1h_cov",
        "crashtest",
        s"$base/_ckpt",
        graft.core.Tier.OneMinute,
        graft.core.Tier.OneHour,
        keepWindows = 2)
      .start()
    val b1 = Seq(("a", 0, 5), ("a", 61, 7), ("b", 2, 4))
    val b2 = Seq(("a", 3700, 2), ("b", 62, 6))
    // one parquet file per batch: a replay re-reads the same file
    def addFile(b: Seq[(String, Int, Int)]): Unit =
      b.toDF("source", "pos", "tok").coalesce(1).write.mode("append").parquet(src)
    addFile(b1)
    val q = start()
    q.processAllAvailable()
    addFile(b2)
    q.processAllAvailable()
    q.stop()
    assert(store.snapshots("tier_1m_live").size == 2 && store.snapshots("tier_1h_cov").size == 2)
    // simulate a crash after the coarse commit of the last batch: the
    // query never recorded the batch as done, the fine manifest is gone
    val ckptCommits = java.nio.file.Paths.get(s"$base/_ckpt/commits")
    val lastCommit = ckptCommits.toFile.list().filter(_.forall(_.isDigit)).map(_.toLong).max
    java.nio.file.Files.delete(ckptCommits.resolve(lastCommit.toString))
    java.nio.file.Files.deleteIfExists(ckptCommits.resolve(s".$lastCommit.crc"))
    val fineManifest = java.nio.file.Paths.get(base, "tier_1m_live", "_snapshots", "v2.json")
    java.nio.file.Files.delete(fineManifest)
    val q2 = start()
    q2.processAllAvailable()
    q2.stop()
    // the replayed batch skips the coarse table and completes the fine one
    assert(store.snapshots("tier_1h_cov").size == 2, "coarse replay must be skipped")
    assert(store.snapshots("tier_1m_live").size == 2, "fine must gain exactly one version")
    assertMaintainedTiers(store, (b1 ++ b2).toDF("source", "pos", "tok"), horizon = 3600L)
  }

  test("tier maintenance sink: a fresh checkpoint on populated tables is refused before any write") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.jobs.SnapshotStore
    val base = tmpDir("graft-stream-rewind-").toString
    val store = new SnapshotStore(base)
    def start(in: MemoryStream[(String, Int, Int)], ckpt: String) = StreamingOps
      .tierMaintenanceSink(
        in.toDF().toDF("source", "pos", "tok"),
        store,
        "tier_1m_live",
        "tier_1h_cov",
        "rewindtest",
        s"$base/$ckpt",
        graft.core.Tier.OneMinute,
        graft.core.Tier.OneHour,
        keepWindows = 2)
      .start()
    val in = MemoryStream[(String, Int, Int)]
    val q = start(in, "_ckpt")
    in.addData(("a", 0, 5), ("a", 61, 7)); q.processAllAvailable()
    q.stop()
    def versions = (store.snapshots("tier_1m_live").size, store.snapshots("tier_1h_cov").size)
    assert(versions == (1, 1))
    // the fresh checkpoint renumbers from batch 0 with different content
    val in2 = MemoryStream[(String, Int, Int)]
    val q2 = start(in2, "_ckpt_fresh")
    in2.addData(("c", 5, 42))
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q2.processAllAvailable()
    }
    q2.stop()
    assert(
      err.getMessage.contains("fresh checkpoint") ||
        Option(err.getCause).exists(_.getMessage.contains("fresh checkpoint")),
      s"expected the rewind refusal, got: ${err.getMessage}")
    assert(versions == (1, 1), "neither table may gain a version from the refused batch")
  }

  test("tier sinks: a late-heavy stream folds bit-equal to one-shot rollups and to per-batch mergeLate") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.core.Tier
    import graft.jobs.SnapshotStore
    import graft.operators.{Retention, Rollup}
    import org.apache.spark.sql.DataFrame
    val base = tmpDir("graft-stream-fold-").toString
    val store = new SnapshotStore(base)
    val (mergeIn, maintIn) = (MemoryStream[(String, Int, Int)], MemoryStream[(String, Int, Int)])
    val merge = StreamingOps
      .tierMergeSink(
        mergeIn.toDF().toDF("source", "pos", "tok"), store, "tier_1m", "foldmerge", s"$base/_ckpt_merge",
        Tier.OneMinute)
      .start()
    val maint = StreamingOps
      .tierMaintenanceSink(
        maintIn.toDF().toDF("source", "pos", "tok"), store, "tier_1m_live", "tier_1h_cov", "foldmaint",
        s"$base/_ckpt_maint", Tier.OneMinute, Tier.OneHour, keepWindows = 3)
      .start()
    // b1 opens hours 0 and 1 (horizon 3540: hour 0's fine windows go).
    // b2 moves the frontier to window 7260 and lands late points in b1's
    // windows and in window 120, which no batch had: entirely late.
    // b3 is late-only: it re-creates the expired fine windows 60 and 3660
    // (expired again at once, merged into the coverage tier) and opens
    // window 7140, entirely late but inside the horizon. b4 moves on.
    val batches = Seq(
      Seq(("a", 0, 5), ("a", 61, 7), ("b", 2, 4), ("a", 3605, 3), ("b", 3661, 8)),
      Seq(("a", 7250, 1), ("a", 1, 9), ("b", 3, 2), ("a", 130, 6), ("b", 3662, 5), ("c", 7300, 11)),
      Seq(("a", 62, 4), ("b", 3700, 1), ("c", 7199, 2)),
      Seq(("a", 7400, 3), ("b", 3601, 7), ("a", 7251, 2), ("c", 70, 1)))
    def points(b: Seq[(String, Int, Int)]) = b.toDF("source", "pos", "tok")
    // a reference kept as local rows, so the per-batch chain stays flat
    def local(df: DataFrame) = spark.createDataFrame(java.util.Arrays.asList(df.collect(): _*), df.schema)
    def rows(df: DataFrame) = df.collect().map(_.toSeq).sortBy(_.mkString(",")).toSeq
    def types(df: DataFrame) = df.schema.map(f => f.name -> f.dataType)
    var folded = Map.empty[String, DataFrame]
    try batches.indices.foreach { i =>
      val b = points(batches(i))
      mergeIn.addData(batches(i): _*); merge.processAllAvailable()
      maintIn.addData(batches(i): _*); maint.processAllAvailable()
      // per-batch fold with mergeLate, from the raw batch points
      def mergeLate(table: String, tier: String) =
        local(folded.get(table).fold(Rollup.rollupFromPoints(b, tier))(Rollup.mergeLate(_, b, tier)))
      val frontier = batches.take(i + 1).flatten.map(p => p._2 - p._2 % 60).max.toLong
      val horizon = frontier - 2 * 60
      val cov = mergeLate("tier_1h_cov", Tier.OneHour)
      val live = folded.get("tier_1m_live").map(_.drop("retained_uncovered"))
        .fold(Rollup.rollupFromPoints(b, Tier.OneMinute))(Rollup.mergeLate(_, b, Tier.OneMinute))
      folded = Map(
        "tier_1m" -> mergeLate("tier_1m", Tier.OneMinute),
        "tier_1h_cov" -> cov,
        "tier_1m_live" -> local(Retention.safeExpire(live, cov, Tier.OneHour, horizon)))
      // one-shot references over every point sent so far
      val seen = points(batches.take(i + 1).flatten)
      val oneShot1m = Rollup.rollupFromPoints(seen, Tier.OneMinute)
      val oneShot1h = Rollup.rollupFromPoints(seen, Tier.OneHour)
      val oneShot = Map(
        "tier_1m" -> oneShot1m,
        "tier_1h_cov" -> oneShot1h,
        "tier_1m_live" -> Retention.safeExpire(oneShot1m, oneShot1h, Tier.OneHour, horizon))
      for (table <- Seq("tier_1m", "tier_1h_cov", "tier_1m_live")) {
        val got = store.readVersion(spark, table, i + 1)
        assert(types(got) == types(oneShot(table)), s"$table v${i + 1}: column types")
        assert(rows(got) == rows(oneShot(table)), s"$table v${i + 1} != one-shot reference")
        assert(rows(got) == rows(folded(table)), s"$table v${i + 1} != per-batch mergeLate fold")
      }
    }
    finally { merge.stop(); maint.stop() }
    // the late-only batch kept the entirely-late window 7140, inside the horizon
    assert(rows(store.readVersion(spark, "tier_1m_live", 3).select("window_start")).map(_.head) ==
      Seq(7140, 7200, 7260))
  }

  test("streaming counter rate: matches batch counterRate across micro-batch boundaries") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[StreamingOps.RateIn]
    val q = StreamingOps
      .counterRateStream(in.toDS())
      .writeStream
      .format("memory")
      .queryName("rate_stream")
      .outputMode(OutputMode.Append())
      .start()
    import StreamingOps.RateIn
    // batch 1: in-batch out-of-order rows; batch 2: the lag CROSSES the
    // boundary, includes a counter RESET (value drops 10 -> 3) and a late
    // duplicate window that must be dropped
    in.addData(RateIn("a", 60, 10), RateIn("a", 0, 4), RateIn("b", 0, 7))
    q.processAllAvailable()
    in.addData(RateIn("a", 180, 3), RateIn("b", 60, 9), RateIn("a", 60, 99))
    q.processAllAvailable()
    q.stop()
    val got = spark
      .sql("""SELECT key, window_start, value, increase, rate_per_unit
              FROM rate_stream ORDER BY key, window_start""")
      .collect()
      .map(r =>
        (r.getString(0), r.getLong(1), r.getLong(2),
          Option(r.get(3)).map(_.asInstanceOf[Long]),
          Option(r.get(4)).map(_.asInstanceOf[Double])))
      .toSeq
    // golden: the BATCH operator over the same (deduped) windows
    val tier = Seq(
      ("a", 0, 0L, 4L), ("a", 0, 60L, 10L), ("a", 0, 180L, 3L),
      ("b", 0, 0L, 7L), ("b", 0, 60L, 9L))
      .toDF("source", "bucket", "window_start", "v")
    val want = graft.operators.SeriesAnalytics
      .counterRate(tier, "v")
      .orderBy("source", "window_start")
      .collect()
      .map(r =>
        (r.getString(0), r.getLong(2), r.getLong(3),
          Option(r.get(4)).map(_.asInstanceOf[Long]),
          Option(r.get(5)).map(_.asInstanceOf[Double])))
      .toSeq
    assert(got == want, s"stream != batch:\n$got\n$want")
    // the reset row really is a reset (increase = restarted value)
    assert(got.exists(r => r._1 == "a" && r._2 == 180L && r._4.contains(3L)))
  }

  test("streaming CUSUM: O(1) keyed state matches the batch prefix-min identity") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[StreamingOps.CusumIn]
    val k = 10L
    val h = 5L
    val q = StreamingOps
      .cusumStream(in.toDS(), k, h)
      .writeStream
      .format("memory")
      .queryName("cusum_stream")
      .outputMode(OutputMode.Append())
      .start()
    import StreamingOps.CusumIn
    // drift up (alarm), a deep dip that resets the running min, drift
    // again — split so the state carries P and minP across batches; a
    // late duplicate window must be dropped
    in.addData(CusumIn("a", 0, 13), CusumIn("a", 60, 14), CusumIn("b", 0, 2))
    q.processAllAvailable()
    in.addData(CusumIn("a", 120, 1), CusumIn("a", 180, 18), CusumIn("a", 60, 99), CusumIn("b", 60, 25))
    q.processAllAvailable()
    q.stop()
    val got = spark
      .sql("""SELECT key, window_start, value, cusum, alarm
              FROM cusum_stream ORDER BY key, window_start""")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))
      .toSeq
    val tier = Seq(
      ("a", 0, 0L, 13L), ("a", 0, 60L, 14L), ("a", 0, 120L, 1L), ("a", 0, 180L, 18L),
      ("b", 0, 0L, 2L), ("b", 0, 60L, 25L))
      .toDF("source", "bucket", "window_start", "v")
    val want = graft.operators.SeriesAnalytics
      .cusum(tier, "v", k, h)
      .orderBy("source", "window_start")
      .collect()
      .map(r => (r.getString(0), r.getLong(2), r.getLong(3), r.getLong(4), r.getBoolean(5)))
      .toSeq
    assert(got == want, s"stream != batch:\n$got\n$want")
    // the scenario exercises both regimes: an alarm fires and a dip
    // resets the running minimum (cusum returns to 0-adjacent levels)
    assert(got.exists(_._5), "expected at least one alarm")
    assert(got.exists(r => r._1 == "a" && r._2 == 120L && r._4 == 0L),
      "the dip must zero the statistic (prefix-min reset)")
  }

  test("streaming as-of join: matches batch asOf across micro-batch boundaries") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[StreamingOps.AsOfIn]
    val q = StreamingOps
      .asOfStream(in.toDS())
      .writeStream
      .format("memory")
      .queryName("asof_stream")
      .outputMode(OutputMode.Append())
      .start()
    def L(k: String, t: Long) = StreamingOps.AsOfIn(k, t, is_right = false, 0.0)
    def R(k: String, t: Long, v: Double) = StreamingOps.AsOfIn(k, t, is_right = true, v)
    // batch 1: out-of-order WITHIN the batch (sorted inside the group);
    // equal-time tie at t=100 must take the t=100 right row
    in.addData(L("k", 60), R("k", 50, 1.0), L("k", 40), R("k", 100, 2.0), L("k", 100), L("m", 10))
    q.processAllAvailable()
    // batch 2: the carry CROSSES the batch boundary (t=150 joins 2.0)
    in.addData(L("k", 150), R("k", 200, 5.0), L("k", 250))
    q.processAllAvailable()
    val got = spark
      .sql("SELECT key, ts, asof_value FROM asof_stream ORDER BY key, ts")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Double])))
      .toSeq
    q.stop()
    // golden = the BATCH operator on the same data
    val lefts = Seq(("k", 40L), ("k", 60L), ("k", 100L), ("k", 150L), ("k", 250L), ("m", 10L))
      .toDF("key", "t")
    val rights = Seq(("k", 50L, 1.0), ("k", 100L, 2.0), ("k", 200L, 5.0))
      .toDF("key", "rt", "value")
    val batch = graft.operators.AsOfJoin
      .asOf(lefts, rights, Seq("key"), "t", "rt", Seq("value"))
      .orderBy("key", "t")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Double])))
      .toSeq
    assert(got == batch, s"stream=$got batch=$batch")
    assert(got.contains(("k", 150L, Some(2.0))), "cross-batch carry")
    assert(got.contains(("m", 10L, None)), "no right row -> None")
  }

  test("streaming as-of join refuses a future carry for late left rows") {
    // out-of-contract LATE left row: the carried right state (ts=100) is
    // from the future relative to it — the batch operator yields None for
    // that row, and the stream must not fabricate an at-or-before match
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[StreamingOps.AsOfIn]
    val q = StreamingOps
      .asOfStream(in.toDS())
      .writeStream
      .format("memory")
      .queryName("asof_late")
      .outputMode(OutputMode.Append())
      .start()
    in.addData(StreamingOps.AsOfIn("k", 100, is_right = true, 2.0))
    q.processAllAvailable()
    in.addData(StreamingOps.AsOfIn("k", 60, is_right = false, 0.0))
    q.processAllAvailable()
    val rows = spark
      .sql("SELECT ts, asof_value FROM asof_late")
      .collect()
      .map(r => (r.getLong(0), Option(r.get(1))))
      .toSeq
    q.stop()
    assert(rows == Seq((60L, None)))
  }

  test("streaming as-of join honors tolerance (stale carry -> None)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[StreamingOps.AsOfIn]
    val q = StreamingOps
      .asOfStream(in.toDS(), tolerance = Some(30L))
      .writeStream
      .format("memory")
      .queryName("asof_tol")
      .outputMode(OutputMode.Append())
      .start()
    in.addData(
      StreamingOps.AsOfIn("k", 10, is_right = true, 7.0),
      StreamingOps.AsOfIn("k", 30, is_right = false, 0.0),
      StreamingOps.AsOfIn("k", 99, is_right = false, 0.0))
    q.processAllAvailable()
    val rows = spark
      .sql("SELECT ts, asof_value FROM asof_tol ORDER BY ts")
      .collect()
      .map(r => (r.getLong(0), Option(r.get(1))))
      .toSeq
    q.stop()
    assert(rows == Seq((30L, Some(7.0)), (99L, None))) // 99 - 10 > 30
  }

  test("streaming sessionize: state persists across micro-batches, gap splits sessions") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[StreamingOps.Ev]
    val q = StreamingOps
      .sessionize(in.toDS(), gapMicros = 1000L)
      .writeStream
      .format("memory")
      .queryName("sessions")
      .outputMode(OutputMode.Append())
      .start()
    in.addData(StreamingOps.Ev(1, 100, 1.0), StreamingOps.Ev(1, 600, 1.0))
    q.processAllAvailable()
    // next batch: within gap of 600 -> same session; then a jump -> new one
    in.addData(StreamingOps.Ev(1, 1400, 1.0), StreamingOps.Ev(1, 9999, 1.0))
    q.processAllAvailable()
    val rows = spark
      .sql("SELECT user_id, ts_us, session_id FROM sessions ORDER BY ts_us")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSeq
    q.stop()
    assert(
      rows == Seq((1L, 100L, 0L), (1L, 600L, 0L), (1L, 1400L, 0L), (1L, 9999L, 1L)))
  }

  test("streaming sessionize: a late row is dropped and does not rewind the session") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[StreamingOps.Ev]
    val q = StreamingOps
      .sessionize(in.toDS(), gapMicros = 1000L)
      .writeStream
      .format("memory")
      .queryName("sessions_late")
      .outputMode(OutputMode.Append())
      .start()
    // 500 arrives a batch after 9999: behind the state, so dropped; 10500
    // is within the gap of 9999 and stays in session 0, as the batch
    // operator puts it over the in-order rows {9999, 10500}
    for (ts <- Seq(9999L, 500L, 10500L)) {
      in.addData(StreamingOps.Ev(1, ts, 1.0))
      q.processAllAvailable()
    }
    val rows = spark
      .sql("SELECT user_id, ts_us, session_id FROM sessions_late ORDER BY ts_us")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSeq
    q.stop()
    assert(rows == Seq((1L, 9999L, 0L), (1L, 10500L, 0L)))
  }

  test("streaming KMV sketch: bounded keyed state merges across micro-batches == batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(String, Long)]
    val q = in
      .toDF()
      .toDF("key", "h")
      .groupBy(col("key"))
      .agg(call_function("kmv_kmin", col("h"), lit(8)).as("kmin"))
      .writeStream
      .format("memory")
      .queryName("kmv_stream")
      .outputMode(OutputMode.Complete())
      .start()
    val rnd = new scala.util.Random(7)
    // key "a" overfills the sketch; key "b" stays under k across batches
    val b1 = Seq.fill(300)(("a", rnd.nextInt(100).toLong * 31L)) ++
      Seq.fill(5)(("b", rnd.nextInt(4).toLong))
    val b2 = Seq.fill(300)(("a", rnd.nextInt(100).toLong * 31L)) ++
      Seq.fill(5)(("b", 100L + rnd.nextInt(2).toLong))
    in.addData(b1: _*)
    q.processAllAvailable()
    in.addData(b2: _*)
    q.processAllAvailable()
    val got = spark
      .sql("SELECT key, kmin FROM kmv_stream")
      .collect()
      .map(r => r.getString(0) -> r.getSeq[Long](1))
      .toMap
    q.stop()
    // the state-store round-trip (serialize/deserialize per batch) must
    // leave the set property intact: == the batch answer over all data
    val all = b1 ++ b2
    def ref(k: String) = all.filter(_._1 == k).map(_._2).distinct.sorted.take(8)
    assert(got("a") == ref("a"))
    assert(got("b") == ref("b") && got("b").size < 8)
  }

  test("streaming sketch maintenance: batch sketches fold into snapshots == full corpus") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val store = new graft.jobs.SnapshotStore(
      tmpDir("graft-sketch-sink-").toString)
    val ckpt = tmpDir("graft-sketch-ckpt-").toString
    val in = MemoryStream[(String, Int, Int)]
    val q = StreamingOps
      .sketchMaintenanceSink(
        in.toDF().toDF("source", "pos", "tok"),
        store, "kmv_stream", "sketch_sink", ckpt, windowWidth = 10, k = 8)
      .start()
    val rnd = new scala.util.Random(11)
    val b1 = Seq.fill(400)(("s", rnd.nextInt(30), rnd.nextInt(100)))
    val b2 = Seq.fill(400)(("s", rnd.nextInt(30), rnd.nextInt(100)))
    in.addData(b1: _*)
    q.processAllAvailable()
    in.addData(b2: _*)
    q.processAllAvailable()
    q.stop()
    assert(store.snapshots("kmv_stream").size == 2) // one version per batch
    def kmins(df: org.apache.spark.sql.DataFrame) = df
      .collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2)) -> r.getSeq[Long](3))
      .toMap
    val got = kmins(store.read(spark, store.latest("kmv_stream").get))
    val want = kmins(graft.operators.Sketches.kmvSketch(
      (b1 ++ b2).toDF("source", "pos", "tok"), 10, 8))
    assert(got == want, "folded streaming sketch must equal the full-corpus sketch")
  }

  // Property tests of the keyed-scan operators: a random in-order input
  // with exact re-deliveries, cut into random contiguous micro-batches
  // and shuffled inside each, streams to the same rows as the operator's
  // batch twin, at 1 and 7 shuffle partitions. The seeds are fixed.
  private val propertySeeds = Seq(11, 12)

  /** Random contiguous micro-batches of the in-order `rows` (2 to 5 of
   * them, each shuffled), with about a fifth of the rows re-delivered
   * right after the original, so a copy can land in the next batch. */
  private def microBatches[T](rnd: Random, rows: Seq[T]): Seq[Seq[T]] = {
    val delivered = rows.flatMap(r => if (rnd.nextInt(5) == 0) Seq(r, r) else Seq(r))
    val nBatches = 2 + rnd.nextInt(4)
    val cuts = rnd.shuffle((1 until delivered.size).toList).take(nBatches - 1).sorted
    val bounds = 0 +: cuts :+ delivered.size
    bounds.zip(bounds.tail).map { case (a, b) => rnd.shuffle(delivered.slice(a, b)) }
  }

  /** Every row `op` emits over `batches` fed to a MemoryStream, one
   * micro-batch each, at `partitions` shuffle partitions. */
  private def streamed[I: Encoder](
      name: String,
      partitions: Int,
      batches: Seq[Seq[I]])(op: Dataset[I] => Dataset[_]): Seq[Row] =
    withConfs("spark.sql.shuffle.partitions" -> partitions.toString) {
      implicit val sqlCtx = spark.sqlContext
      val in = MemoryStream[I]
      val q = op(in.toDS()).writeStream
        .format("memory")
        .queryName(name)
        .outputMode(OutputMode.Append())
        .start()
      try batches.foreach { b =>
        in.addData(b)
        q.processAllAvailable()
      } finally q.stop()
      spark.table(name).collect().toSeq
    }

  /** Asserts, for each seed and at 1 and 7 partitions, that streaming the
   * seed's input (`gen`) through `op` emits `twin`'s rows of its distinct
   * rows (or all rows, with `twinSeesCopies`), compared as sorted rows. */
  private def streamsLikeTwin[I: Encoder](
      name: String,
      gen: Random => Seq[I],
      twinSeesCopies: Boolean = false)(
      op: Dataset[I] => Dataset[_])(
      twin: Seq[I] => DataFrame): Unit =
    for (seed <- propertySeeds; partitions <- Seq(1, 7)) {
      val rnd = new Random(seed)
      val batches = microBatches(rnd, gen(rnd))
      val all = batches.flatten
      val got = streamed(s"${name}_${seed}_$partitions", partitions, batches)(op)
      val want = twin(if (twinSeesCopies) all else all.distinct).collect().toSeq
      assert(got.map(_.toString).sorted == want.map(_.toString).sorted,
        s"seed $seed, $partitions partitions, batches $batches")
    }

  /** Per key `a`..`c`, 6 to 12 strictly increasing `width`-aligned
   * windows, 1 to 4 widths apart, each value `next(previous value)`;
   * all keys merged in window order. */
  private def windowSeries[T](rnd: Random, width: Long)(row: (String, Long, Long) => T)(
      next: Long => Long): Seq[T] =
    Seq("a", "b", "c").flatMap { k =>
      val windows = Iterator.iterate(rnd.nextInt(3) * width)(_ + (1 + rnd.nextInt(4)) * width)
        .take(6 + rnd.nextInt(7)).toSeq
      windows.zip(windows.scanLeft(0L)((v, _) => next(v)).tail).map { case (w, v) => (k, w, v) }
    }.sortBy { case (k, w, _) => (w, k) }.map(row.tupled)

  test("property: streaming gap-fill == batch GapFill.gapFill (LOCF) over random micro-batches") {
    import spark.implicits._
    import StreamingOps.Obs
    streamsLikeTwin[Obs]("prop_gapfill", rnd =>
      windowSeries(rnd, 60L)((k, w, v) => Obs(k, w, v / 4.0))(_ => rnd.nextInt(100).toLong))(
      StreamingOps.gapFillStream(_, 60L)) { rows =>
      graft.operators.GapFill
        .gapFill(rows.toDF().withColumn("seen", lit(true)), Seq("key"), "window_start", 60L, Seq("value"))
        .select(col("key"), col("window_start"), col("value"), col("seen").isNull.as("is_gap"))
    }
  }

  test("property: streaming gap-fill == batch GapFill.gapFill (LOCF) over off-grid windows") {
    import spark.implicits._
    import StreamingOps.Obs
    // windowSeries with a step offset: each step is 1 to 4 widths plus 0 to
    // 59, so a key's windows leave the grid of its first window
    def offGrid(rnd: Random): Seq[Obs] =
      Seq("a", "b", "c").flatMap { k =>
        Iterator.iterate(rnd.nextInt(3) * 60L)(_ + (1 + rnd.nextInt(4)) * 60L + rnd.nextInt(60))
          .take(6 + rnd.nextInt(7)).toList
          .map(w => Obs(k, w, rnd.nextInt(100) / 4.0))
      }.sortBy(o => (o.window_start, o.key))
    streamsLikeTwin[Obs]("prop_gapfill_offgrid", offGrid)(StreamingOps.gapFillStream(_, 60L)) { rows =>
      graft.operators.GapFill
        .gapFill(rows.toDF().withColumn("seen", lit(true)), Seq("key"), "window_start", 60L, Seq("value"))
        .select(col("key"), col("window_start"), col("value"), col("seen").isNull.as("is_gap"))
    }
  }

  test("property: streaming counter rate == batch SeriesAnalytics.counterRate over random micro-batches") {
    import spark.implicits._
    import StreamingOps.RateIn
    // a counter that grows, with an occasional reset
    streamsLikeTwin[RateIn]("prop_rate", rnd =>
      windowSeries(rnd, 60L)(RateIn) { prev =>
        if (rnd.nextInt(6) == 0) rnd.nextInt(5).toLong else prev + rnd.nextInt(20)
      })(
      StreamingOps.counterRateStream) { rows =>
      graft.operators.SeriesAnalytics
        .counterRate(rows.toDF().select(col("key").as("source"), lit(0).as("bucket"),
          col("window_start"), col("value").as("v")), "v")
        .drop("bucket")
    }
  }

  test("property: streaming CUSUM == batch SeriesAnalytics.cusum over random micro-batches") {
    import spark.implicits._
    import StreamingOps.CusumIn
    streamsLikeTwin[CusumIn]("prop_cusum", rnd =>
      windowSeries(rnd, 60L)(CusumIn)(_ => rnd.nextInt(25).toLong))(
      StreamingOps.cusumStream(_, 10L, 15L)) { rows =>
      graft.operators.SeriesAnalytics
        .cusum(rows.toDF().select(col("key").as("source"), lit(0).as("bucket"),
          col("window_start"), col("value").as("v")), "v", 10L, 15L)
        .drop("bucket")
    }
  }

  test("property: streaming as-of join == batch AsOfJoin.asOf over random micro-batches") {
    import spark.implicits._
    import StreamingOps.AsOfIn
    // per key, left and right rows on a 10-unit grid, equal times included,
    // in the at-or-before order (right before left); one value per right time
    def gen(rnd: Random): Seq[AsOfIn] =
      (for {
        t <- 0L to 200L by 10L
        k <- Seq("a", "b")
        right <- Seq(true, false)
        if rnd.nextInt(5) < (if (right) 2 else 3)
      } yield AsOfIn(k, t, right, if (right) rnd.nextInt(50).toDouble else 0.0))
    for (tolerance <- Seq(None, Some(25L)))
      streamsLikeTwin[AsOfIn](s"prop_asof_${tolerance.size}", gen, twinSeesCopies = true)(
        StreamingOps.asOfStream(_, tolerance)) { rows =>
        val ds = rows.toDS()
        graft.operators.AsOfJoin.asOf(
          ds.filter(!_.is_right).select(col("key"), col("ts").as("t")),
          ds.filter(_.is_right).distinct().select(col("key"), col("ts").as("rt"), col("value")),
          Seq("key"), "t", "rt", Seq("value"), tolerance)
      }
  }

  test("property: streaming sessionize == batch Sessionize.assignSessions over random micro-batches") {
    import spark.implicits._
    import StreamingOps.Ev
    // steps of 0, 500, 1000 or 1500 us against a 1000 us gap: equal
    // times, in-gap steps, the gap edge and splits
    def gen(rnd: Random): Seq[Ev] =
      Seq(1L, 2L, 3L).flatMap { u =>
        Iterator.iterate(0L)(_ + rnd.nextInt(4) * 500L).take(8 + rnd.nextInt(8))
          .map(t => Ev(u, t, rnd.nextInt(3).toDouble)).toSeq
      }.sortBy(e => (e.ts_us, e.user_id))
    streamsLikeTwin[Ev]("prop_sessions", gen, twinSeesCopies = true)(StreamingOps.sessionize(_, 1000L)) {
      rows =>
        graft.operators.Sessionize
          .assignSessions(rows.toDF(), Seq("user_id"), "ts_us", 1000L, tieBreak = Seq("value"))
          .select(col("user_id"), col("ts_us"), col("session_id"))
    }
  }
}
