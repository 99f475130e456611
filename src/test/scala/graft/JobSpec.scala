package graft

import java.nio.file.Files

import graft.core.Tier
import graft.jobs.{RollupJob, SnapshotStore}
import graft.operators.Rollup
import graft.sources.TokenTable

/** Resumability, lineage and salt-skew correctness of the production job. */
class JobSpec extends SparkSpec {

  private def tierRows(dir: String, store: SnapshotStore, table: String) =
    store
      .read(spark, store.latest(table).get)
      .collect()
      .map(_.toSeq)
      .toSet

  test("job computes the full ladder and matches the in-memory cascade bit-exactly") {
    val base = tmpDir("graft-job-").toString
    val dir = sf("sf0.001")
    val results = RollupJob.run(spark, dir, base)
    assert(results.size == 5 && results.values.forall(!_.resumed))
    val store = new SnapshotStore(base)
    val ladder = Rollup.ladder(TokenTable.points(spark, dir))
    for (tier <- Seq(Tier.OneMinute, Tier.FiveMinutes, Tier.OneHour, Tier.OneDay)) {
      val want = ladder(tier).collect().map(_.toSeq).toSet
      val got = tierRows(dir, store, s"tier_$tier")
      assert(got == want, s"tier $tier mismatch")
    }
  }

  test("re-run resumes every stage; invalidated suffix recomputes identically") {
    val base = tmpDir("graft-job-").toString
    val dir = sf("sf0.001")
    RollupJob.run(spark, dir, base)
    val store = new SnapshotStore(base)
    val before = tierRows(dir, store, "tier_1d")

    // full re-run: everything resumed, no new snapshot versions
    val r2 = RollupJob.run(spark, dir, base)
    assert(r2.values.forall(_.resumed))
    assert(store.latest("tier_1d").get.version == 1)

    // invalidate the 1h snapshot -> 1h and 1d recompute, 1m/5m resume
    import scala.jdk.CollectionConverters._
    val snapDir = java.nio.file.Paths.get(base, "tier_1h", "_snapshots")
    Files.list(snapDir).iterator().asScala.foreach(Files.delete)
    val r3 = RollupJob.run(spark, dir, base)
    assert(r3("raw").resumed && r3("rollup_1m").resumed && r3("rollup_5m").resumed)
    assert(!r3("rollup_1h").resumed && !r3("rollup_1d").resumed)
    val after = tierRows(dir, store, "tier_1d")
    assert(after == before, "recomputed suffix must be bit-exact")
  }

  test("lineage covers all rows; metrics emitted per computed stage") {
    val base = tmpDir("graft-job-").toString
    RollupJob.run(spark, sf("sf0.001"), base)
    val store = new SnapshotStore(base)
    val lineage = store.read(spark, store.latest("lineage").get)
    // lineage table holds the LAST committed stage's rows; check any stage's
    // lineage sums to that stage's rowCount
    val snaps = store.snapshots("lineage")
    assert(snaps.size == 5, s"one lineage snapshot per computed stage, got ${snaps.size}")
    snaps.foreach { s =>
      val stageName = s.stage.stripPrefix("lineage_")
      val rows = store
        .read(spark, s)
        .agg(org.apache.spark.sql.functions.sum("rows_out"))
        .collect()(0)
        .getLong(0)
      val stageTable = store
        .snapshots(if (stageName == "raw") "raw" else s"tier_${stageName.stripPrefix("rollup_")}")
      assert(rows == stageTable.last.rowCount, s"lineage rows != rowCount for $stageName")
    }
    assert(store.snapshots("metrics").size == 5)
    assert(lineage.columns.toSet ==
      Set("stage", "snapshot_id", "partition_id", "rows_out", "wall_ms"))
    // the 1m stage's metrics carry the validity-invariant counters
    // (skip-and-count via observe — no extra scan)
    val m1m = store.snapshots("metrics").find(_.stage == "metrics_rollup_1m").get
    val validity = store
      .read(spark, m1m)
      .filter("metric IN ('skipped_rows', 'input_rows')")
      .collect()
      .map(r => r.getString(2) -> r.getDouble(3))
      .toMap
    assert(validity("skipped_rows") == 0.0) // corpus has no empty docs
    assert(validity("input_rows") > 0.0)
  }

  test("salted two-phase rollup is bit-exact vs unsalted") {
    val points = TokenTable.points(spark, sf("sf0.001"))
    val plain = Rollup
      .rollupFromPoints(points, Tier.OneMinute)
      .collect()
      .map(_.toSeq)
      .toSet
    val salted = RollupJob
      .rollupSalted(
        points.select(
          org.apache.spark.sql.functions.col("doc_id").cast("string").as("doc_id"),
          org.apache.spark.sql.functions.col("source"),
          org.apache.spark.sql.functions.col("pos"),
          org.apache.spark.sql.functions.col("tok")),
        Tier.OneMinute,
        salt = 8)
      .collect()
      .map(_.toSeq)
      .toSet
    assert(salted == plain)
  }

  test("dedup job: observe-collected candidate telemetry lands in the metrics table") {
    val base = tmpDir("graft-job-").toString
    val store = new SnapshotStore(base)
    val docs = spark.read.parquet(s"${sf("sf0.001")}/documents.parquet")
    val res = graft.jobs.DedupJob.run(spark, docs, store)
    val nDocs = docs.count()

    // observed counters match independent recomputation of each stage
    val truePairs = graft.operators.Dedup
      .minHashLshPairs(docs, "doc_id", "text", 3, 64, 16, 0.5)
      .count()
    assert(res.verifiedPairs == truePairs)
    assert(res.candidatePairs >= res.verifiedPairs)
    assert(res.verifiedPairs > 0, "corpus plants near-dups — pairs expected")
    assert(res.keptDocs + res.droppedDocs == nDocs)
    assert(store.read(spark, res.pairs).count() == res.verifiedPairs)
    assert(store.read(spark, res.keep).count() == nDocs)

    // the density bound the banding promises: candidates are ~linear in
    // docs x bands, never quadratic in docs
    assert(res.candidatePairs <= nDocs * 16, "candidate blow-up: > docs x bands")

    // the metrics table carries the full counter set
    val m = store
      .read(spark, res.metrics)
      .collect()
      .map(r => r.getString(2) -> r.getDouble(3))
      .toMap
    assert(m("input_docs") == nDocs.toDouble)
    assert(m("candidate_pairs") == res.candidatePairs.toDouble)
    assert(m("verified_pairs") == res.verifiedPairs.toDouble)
    assert(m("rejected_pairs") == (res.candidatePairs - res.verifiedPairs).toDouble)
    assert(m("kept_docs") == res.keptDocs.toDouble)
    assert(m("dropped_docs") == res.droppedDocs.toDouble)
    assert(m("candidates_per_doc") == res.candidatePairs.toDouble / nDocs)
  }

  test("dedup job: no RDD of the LSH chain stays persisted after the run") {
    val docs = spark.read.parquet(s"${sf("sf0.001")}/documents.parquet")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val res = graft.jobs.DedupJob.run(spark, docs, new SnapshotStore(tmpDir("graft-job-").toString))
    assert(res.verifiedPairs > 0)
    // the chain's RDDs: created by this run, in Dedup.scala (their creation site)
    val held = spark.sparkContext.getPersistentRDDs
      .filter { case (id, rdd) => !before(id) && rdd.toString.contains("Dedup.scala") }
    assert(held.isEmpty, s"the chain's shingle sets must be released: $held")
  }

  test("delta dedup job: warm-start labeling equals the full-corpus keep list; resumable") {
    import org.apache.spark.sql.functions._
    val base = tmpDir("graft-job-").toString
    val store = new SnapshotStore(base)
    val docs = spark.read.parquet(s"${sf("sf0.001")}/documents.parquet")
    val isNew = col("doc_id") % 3 === 0
    // initial run over the old corpus commits pairs + labels
    graft.jobs.DedupJob.run(spark, docs.filter(!isNew), store)
    // the delta batch arrives: fold it into the committed state
    val r = graft.jobs.DedupJob
      .runDelta(spark, docs, docs.filter(isNew).select("doc_id"), store)
    assert(!r.resumed)
    val got = store.read(spark, r.keep).collect().map(_.toSeq).toSet
    val want = graft.operators.ConnectedComponents
      .keepList(
        docs,
        "doc_id",
        graft.operators.Dedup.minHashLshPairs(docs, "doc_id", "text", 3, 64, 16, 0.5))
      .collect()
      .map(_.toSeq)
      .toSet
    assert(got == want, "delta labeling must equal never-having-batched")
    assert(r.keptDocs + r.droppedDocs == docs.count())
    assert(r.verifiedPairs > 0, "the corpus plants near-dups across the batch split")
    assert(r.candidatePairs >= r.verifiedPairs)
    // the delta pair snapshot holds ONLY delta-touching pairs (log-structured)
    val deltaPairs = store.read(spark, r.pairsDelta)
    assert(deltaPairs.count() == r.verifiedPairs)
    val newIds = docs.filter(isNew).select(col("doc_id").cast("long")).collect().map(_.getLong(0)).toSet
    assert(
      deltaPairs.collect().forall(p => newIds(p.getLong(0)) || newIds(p.getLong(1))),
      "old-vs-old pairs must not be re-emitted by a delta run")
    // exactly-once: an identical retry resumes both stages
    val r2 = graft.jobs.DedupJob
      .runDelta(spark, docs, docs.filter(isNew).select("doc_id"), store)
    assert(r2.resumed && r2.keep.uid == r.keep.uid)
  }

  test("delta dedup job: crash-retry (pairs committed, keep lost) still records metrics") {
    import org.apache.spark.sql.functions._
    val store = new SnapshotStore(tmpDir("graft-job-").toString)
    val docs = spark.read.parquet(s"${sf("sf0.001")}/documents.parquet")
    val isNew = col("doc_id") % 3 === 0
    graft.jobs.DedupJob.run(spark, docs.filter(!isNew), store)
    val newIds = docs.filter(isNew).select("doc_id")
    // simulate the crash window: commit ONLY the pairs stage, with the
    // exact fingerprint runDelta derives, then "retry" the whole delta —
    // the pairs stage must resume, the keep stage must compute, and the
    // metrics version must carry verified_pairs (recovered from the
    // snapshot row count) with no candidate rows and no -1 sentinels
    val fpRow = newIds
      .select(col("doc_id").cast("long").as("_nid"))
      .distinct()
      .agg(
        count(lit(1)),
        coalesce(
          sum(xxhash64(col("_nid")).cast("decimal(38,0)")),
          lit(0).cast("decimal(38,0)")))
      .head()
    val params =
      s"delta-n3-h64-b16-t0.5-new${fpRow.getLong(0)}-fp${fpRow.getDecimal(1)}"
    val (deltaPairs, release) = graft.operators.Dedup
      .minHashLshDeltaPairs(docs, newIds, "doc_id", "text", 3, 64, 16, 0.5)
    val pre = store.stage("dedup_pairs", "lsh_pairs_delta", params)(deltaPairs)
    release()
    assert(!pre.resumed, "the simulated crash run must have computed the pairs")
    val r = graft.jobs.DedupJob.runDelta(spark, docs, newIds, store)
    assert(!r.resumed, "the keep stage must compute on the retry")
    assert(r.pairsDelta.uid == pre.snap.uid, "the retry must resume the committed pairs")
    assert(r.candidatePairs == -1L, "candidate counter only exists on the computing run")
    assert(r.verifiedPairs == store.read(spark, r.pairsDelta).count())
    val m = store
      .read(spark, store.latest("metrics").get)
      .filter(col("stage") === "dedup_delta")
      .collect()
      .map(row => row.getString(2) -> row.getDouble(3))
      .toMap
    assert(m("verified_pairs") == r.verifiedPairs.toDouble)
    assert(m("kept_docs") == r.keptDocs.toDouble)
    assert(m("dropped_docs") == r.droppedDocs.toDouble)
    assert(!m.contains("candidate_pairs") && !m.contains("candidates_per_new_doc"))
    assert(m.values.forall(_ >= 0.0), s"no -1 sentinels in the table: $m")
  }

  test("monitor job: alerts + cusum alarms == direct operators; resumes on unchanged tier") {
    import org.apache.spark.sql.functions._
    val store = new SnapshotStore(tmpDir("graft-job-").toString)
    val dir = sf("sf0.001")
    // commit a 1m tier for the job to monitor
    val tier = graft.operators.Rollup
      .rollupFromPoints(graft.sources.TokenTable.points(spark, dir), graft.core.Tier.OneMinute)
    store.stage("tier_1m", "rollup_1m", "test-tier")(tier)
    val r = graft.jobs.MonitorJob.run(
      spark, store,
      alertThreshold = 25200.0, alertMinRun = 2, windowWidth = 60,
      cusumK = 1507710L, cusumH = 150000L)
    assert(!r.resumed)
    // committed surfaces equal the operators run directly on the tier
    val alertsWant = graft.operators.SeriesAnalytics
      .consecutiveBreaches(tier, "avg_tok", 25200.0, 2, 60)
      .collect().map(_.toSeq).toSet
    val alertsGot = store.read(spark, r.alerts).collect().map(_.toSeq).toSet
    assert(alertsGot == alertsWant && r.alertRows == alertsWant.size)
    val alarmsWant = graft.operators.SeriesAnalytics
      .cusum(tier, "sum_tok", 1507710L, 150000L)
      .filter(col("alarm"))
      .collect().map(_.toSeq).toSet
    val alarmsGot = store.read(spark, r.cusum).collect().map(_.toSeq).toSet
    assert(alarmsGot == alarmsWant && r.alarmRows == alarmsWant.size)
    assert(r.alertRows > 0 && r.alarmRows > 0, "the test data must exercise both surfaces")
    // counters landed in the metrics table
    val m = store
      .read(spark, store.latest("metrics").get)
      .filter(col("stage") === "monitor")
      .collect()
      .map(row => row.getString(2) -> row.getDouble(3))
      .toMap
    assert(m("alert_rows") == r.alertRows.toDouble && m("alarm_rows") == r.alarmRows.toDouble)
    // unchanged tier + params -> both stages resume, nothing recomputes
    val r2 = graft.jobs.MonitorJob.run(
      spark, store,
      alertThreshold = 25200.0, alertMinRun = 2, windowWidth = 60,
      cusumK = 1507710L, cusumH = 150000L)
    assert(r2.resumed && r2.alerts.uid == r.alerts.uid && r2.cusum.uid == r.cusum.uid)
    // a NEW tier version invalidates the monitoring suffix
    store.stage("tier_1m", "rollup_1m", "test-tier-v2")(tier.filter(col("bucket") === 0))
    val r3 = graft.jobs.MonitorJob.run(
      spark, store,
      alertThreshold = 25200.0, alertMinRun = 2, windowWidth = 60,
      cusumK = 1507710L, cusumH = 150000L)
    assert(!r3.resumed && r3.alerts.uid != r.alerts.uid)
  }

  test("retention stage: survivors bit-exact, observed counters in metrics, resumable") {
    val base = tmpDir("graft-job-").toString
    val dir = sf("sf0.001")
    val results = RollupJob.run(spark, dir, base, ladderHorizons = Seq(300L))
    assert(results.contains("retention_1m"))
    val store = new SnapshotStore(base)

    // survivors == the operator applied to the independent in-memory
    // ladder (full coverage: cascade caught up -> every expired row is
    // covered -> survivors are exactly the in-horizon rows, none flagged)
    val ladder = Rollup.ladder(TokenTable.points(spark, dir))
    val want = graft.operators.Retention
      .safeExpire(ladder(Tier.OneMinute), ladder(Tier.FiveMinutes), Tier.FiveMinutes, 300L)
      .collect()
      .map(_.toSeq)
      .toSet
    val got = tierRows(dir, store, "tier_1m_retained")
    assert(got == want, "retained tier mismatch")
    assert(want.nonEmpty && want.forall(r => r.last == false), "full coverage -> no flags")
    val fineCount = ladder(Tier.OneMinute).count()
    assert(got.size < fineCount, "horizon must actually expire rows")

    // observed counters land in the metrics table and match reality
    val m = store
      .read(spark, store.latest("metrics").get)
      .collect()
      .map(r => r.getString(2) -> r.getDouble(3))
      .toMap
    assert(m("survivor_rows") == got.size.toDouble)
    assert(m("retained_uncovered_rows") == 0.0)

    // the stage is snapshot-fingerprinted like every other: re-run resumes
    val r2 = RollupJob.run(spark, dir, base, ladderHorizons = Seq(300L))
    assert(r2("retention_1m").resumed)
    // a different horizon is a different fingerprint: recomputes
    val r3 = RollupJob.run(spark, dir, base, ladderHorizons = Seq(240L))
    assert(!r3("retention_1m").resumed)
  }

  test("ladder retention stages: per-level survivors bit-exact vs the operator, resumable") {
    val base = tmpDir("graft-job-").toString
    val dir = sf("sf0.001")
    // nonincreasing fine -> coarse: finer tiers keep less history
    val horizons = Seq(120L, 60L, 0L)
    val results = RollupJob.run(spark, dir, base, ladderHorizons = horizons)
    val stages = Seq("retention_1m", "retention_5m", "retention_1h")
    assert(stages.forall(results.contains))
    val store = new SnapshotStore(base)
    val ladder = Rollup.ladder(TokenTable.points(spark, dir))
    val pairs = Seq(
      (Tier.OneMinute, Tier.FiveMinutes, 120L, "tier_1m_retained"),
      (Tier.FiveMinutes, Tier.OneHour, 60L, "tier_5m_retained"),
      (Tier.OneHour, Tier.OneDay, 0L, "tier_1h_retained"))
    for ((f, c, h, table) <- pairs) {
      val want = graft.operators.Retention
        .safeExpire(ladder(f), ladder(c), c, h)
        .collect()
        .map(_.toSeq)
        .toSet
      assert(tierRows(dir, store, table) == want, s"$table mismatch")
    }
    // the finest level must actually expire rows
    assert(
      tierRows(dir, store, "tier_1m_retained").size < ladder(Tier.OneMinute).count())
    // the last-committed metrics snapshot carries the 1h level's counters
    val m = store
      .read(spark, store.latest("metrics").get)
      .collect()
      .map(r => r.getString(2) -> r.getDouble(3))
      .toMap
    assert(
      m("survivor_rows") == tierRows(dir, store, "tier_1h_retained").size.toDouble)
    // all three stages are snapshot-fingerprinted: a re-run resumes each
    val r2 = RollupJob.run(spark, dir, base, ladderHorizons = horizons)
    assert(stages.forall(r2(_).resumed))
  }

  test("ladder horizons: more than one per non-coarsest tier fails before any stage runs") {
    val base = tmpDir("graft-job-").toString
    val e = intercept[IllegalArgumentException](
      RollupJob.run(spark, sf("sf0.001"), base, ladderHorizons = Seq(120L, 60L, 0L, 0L)))
    assert(e.getMessage.contains("at most 3 horizons"), e.getMessage)
    assert(new SnapshotStore(base).latest("raw").isEmpty)
  }

  test("curation job: funnel counters partition the corpus and match the labeled table") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val base = tmpDir("graft-job-").toString
    val store = new SnapshotStore(base)
    // one unscannable doc (NULL text): it must be LABELED dropped-quality,
    // not silently lost by the signal stages' word explode
    val docs = spark.read
      .parquet(s"${sf("sf0.001")}/documents.parquet")
      .select(col("doc_id"), col("text"), col("source"))
      .unionByName(
        Seq((999999L, null.asInstanceOf[String], "srcX")).toDF("doc_id", "text", "source"))
    val testSet = docs.filter(col("doc_id") % 53 === 0)
    val res = graft.jobs.CurationJob.run(spark, docs, testSet, store)
    val nDocs = docs.count()

    // the four counters partition the corpus exactly (ordered attribution)
    assert(res.inputDocs == nDocs)
    assert(
      res.droppedDup + res.droppedContaminated + res.droppedQuality + res.keptDocs == nDocs)
    assert(res.droppedContaminated > 0, "test members are in the corpus — contamination expected")
    assert(res.keptDocs > 0)

    // counters == independent recomputation from the committed table
    val t = store.read(spark, res.curated)
    assert(t.count() == nDocs, "the job labels rows, never destroys them")
    assert(t.filter(!col("canonical")).count() == res.droppedDup)
    assert(
      t.filter(col("canonical") && col("contaminated")).count() == res.droppedContaminated)
    assert(
      t.filter(col("canonical") && !col("contaminated") && !col("quality_ok")).count() ==
        res.droppedQuality)
    assert(t.filter(col("kept")).count() == res.keptDocs)
    // every kept row carries a split label; buckets agree with the hash
    assert(
      t.filter(col("kept") && !col("split").isin("train", "val", "test")).count() == 0)

    // the metrics table carries the funnel
    val m = store
      .read(spark, res.metrics)
      .collect()
      .map(r => r.getString(2) -> r.getDouble(3))
      .toMap
    assert(m("input_docs") == nDocs.toDouble)
    assert(m("kept_docs") == res.keptDocs.toDouble)
    assert(m("dropped_dup") == res.droppedDup.toDouble)
    assert(m("dropped_contaminated") == res.droppedContaminated.toDouble)
    assert(m("dropped_quality") == res.droppedQuality.toDouble)
  }

  test("sketch job: delta folds == full-corpus sketch; replayed delta resumes") {
    import graft.jobs.SketchJob
    import graft.operators.Sketches
    val store = new SnapshotStore(tmpDir("graft-job-").toString)
    val pts = TokenTable.points(spark, sf("sf0.001"))
    val hist = pts.filter(org.apache.spark.sql.functions.expr("doc_id % 2 = 0"))
    val delta = pts.filter(org.apache.spark.sql.functions.expr("doc_id % 2 = 1"))

    val r0 = SketchJob.run(spark, hist, store, 3600, 64)
    assert(!r0.resumed && r0.sketch.version == 1)
    val r1 = SketchJob.runDelta(spark, delta, store, 3600, 64)
    assert(!r1.resumed && r1.sketch.version == 2)

    // the folded sketch equals a from-scratch sketch of the whole corpus
    def kmins(df: org.apache.spark.sql.DataFrame) = df
      .collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2)) -> r.getSeq[Long](3))
      .toMap
    assert(
      kmins(store.read(spark, r1.sketch)) == kmins(Sketches.kmvSketch(pts, 3600, 64)),
      "incremental job must equal the full recompute")

    // duplicate delivery of the SAME delta resumes (no double fold, no
    // new version) even though the base has advanced since its commit
    val r2 = SketchJob.runDelta(spark, delta, store, 3600, 64)
    assert(r2.resumed && r2.sketch.version == 2 && r2.sketch.uid == r1.sketch.uid)
    assert(r2.keys == r1.keys)
    // the METRICS commit must resume too — a replay that appended a new
    // metrics version would double-count input_points for anyone summing
    // across versions
    assert(r2.metrics.uid == r1.metrics.uid, "replayed delta must not re-commit metrics")

    // metrics table carries the key count on both paths
    val m = store
      .read(spark, r1.metrics)
      .collect()
      .map(r => r.getString(2) -> r.getDouble(3))
      .toMap
    assert(m("keys") == r1.keys.toDouble)
    assert(m("input_points") == delta.count().toDouble)
  }

  test("metrics: every job writes rows in the one (stage, snapshot_id, metric, value) schema") {
    import org.apache.spark.sql.functions._
    val base = tmpDir("graft-job-").toString
    val store = new SnapshotStore(base)
    val dir = sf("sf0.001")
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    RollupJob.run(spark, dir, base, ladderHorizons = Seq(300L))
    graft.jobs.DedupJob.run(spark, docs, store)
    graft.jobs.CurationJob.run(
      spark, docs.select("doc_id", "text", "source"), docs.filter(col("doc_id") % 53 === 0), store)
    graft.jobs.MonitorJob.run(
      spark, store,
      alertThreshold = 25200.0, alertMinRun = 2, windowWidth = 60,
      cusumK = 1507710L, cusumH = 150000L)
    graft.jobs.SketchJob.run(spark, TokenTable.points(spark, dir), store, 3600, 64)
    val metrics = store.snapshots("metrics").map(store.read(spark, _))
    metrics.foreach { m =>
      assert(m.columns.toSeq == Seq("stage", "snapshot_id", "metric", "value"))
      assert(m.schema.map(_.dataType.typeName) == Seq("string", "long", "string", "double"))
    }
    val stages = metrics.flatMap(_.select("stage").distinct().collect().map(_.getString(0))).toSet
    for (s <- Seq("rollup_1m", "retention_1m", "dedup_lsh", "curation", "monitor", "sketch_initial"))
      assert(stages(s), s"no metrics rows for stage $s: $stages")
  }

  test("content fingerprint: pinned to the count + sum of xxhash64 as DECIMAL(38,0) literal") {
    import org.apache.spark.sql.functions._
    val df = spark
      .range(0, 1000)
      .select(
        col("id"),
        (col("id") % 7).cast("int").as("k"),
        concat(lit("s"), col("id").cast("string")).as("s"))
    // the literals are what coalesce(sum(xxhash64(cols).cast("decimal(38,0)")), 0)
    // gives for this frame
    assert(
      graft.core.Hash.contentFingerprint(df, col("id"), col("k"), col("s")) ==
        (1000L, "127365493055495745233"))
    assert(graft.core.Hash.contentFingerprint(df, col("id")) == (1000L, "110247926852080349360"))
    assert(graft.core.Hash.contentFingerprint(df.filter("id < 0"), col("id")) == (0L, "0"))
  }

  test("snapshot lifecycle: time travel, zero-copy rollback, reachability-safe expiry") {
    import spark.implicits._
    val store = new SnapshotStore(tmpDir("graft-job-").toString)
    def commitRows(n: Int, stage: String) =
      store.stage("t", stage, s"fp-$n")((1 to n).toDF("x")).snap
    val v1 = commitRows(10, "s1")
    val v2 = commitRows(20, "s2")
    val v3 = commitRows(30, "s3")
    assert(Seq(v1.version, v2.version, v3.version) == Seq(1, 2, 3))

    // time travel: an old version reads bit-identically after newer commits
    assert(store.readVersion(spark, "t", 2).count() == 20)
    assert(store.latest("t").get.version == 3)

    // rollback commits a NEW version aliasing v2's immutable data
    val v4 = store.rollbackTo("t", 2)
    assert(v4.version == 4 && v4.dataPath == v2.dataPath && v4.rowCount == 20)
    assert(store.read(spark, store.latest("t").get).count() == 20)
    // the rolled-back-over version is still readable (nothing was deleted)
    assert(store.readVersion(spark, "t", 3).count() == 30)
    // resume bookkeeping: the rollback never masquerades as the producing stage
    assert(store.find("t", "s2", "fp-20").get.version == 2)
    intercept[RuntimeException](store.rollbackTo("t", 9))

    // expiry keeps the newest keepLast versions; v4 (latest) references
    // v2's data, so that directory must SURVIVE expiring v2's manifest
    val expired = store.expireSnapshots("t", keepLast = 2)
    assert(expired == Seq(1, 2))
    assert(store.snapshots("t").map(_.version) == Seq(3, 4))
    assert(store.read(spark, store.latest("t").get).count() == 20)
    assert(java.nio.file.Files.isDirectory(java.nio.file.Paths.get(v2.dataPath)))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(v1.dataPath)))
    intercept[RuntimeException](store.readVersion(spark, "t", 1))
  }

  test("curation job: a re-run on identical input resumes with the first run's snapshots and counters") {
    import org.apache.spark.sql.functions._
    val store = new SnapshotStore(tmpDir("graft-job-").toString)
    val docs = spark.read
      .parquet(s"${sf("sf0.001")}/documents.parquet")
      .select(col("doc_id"), col("text"), col("source"))
    val testSet = docs.filter(col("doc_id") % 53 === 0)
    def versions = Seq("curated", "metrics").map(store.snapshots(_).size)
    val r1 = graft.jobs.CurationJob.run(spark, docs, testSet, store)
    val before = versions
    val r2 = graft.jobs.CurationJob.run(spark, docs, testSet, store)
    assert(versions == before, "an unchanged re-run must append no version")
    // same snapshots, metrics version and counters (read back from the table)
    assert(r2 == r1)
    // one doc fewer is different content: the stage recomputes
    val r3 = graft.jobs.CurationJob
      .run(spark, docs.filter(col("doc_id") =!= docs.head().getLong(0)), testSet, store)
    assert(r3.curated.uid != r1.curated.uid && r3.inputDocs == r1.inputDocs - 1)
    assert(store.snapshots("curated").size == before.head + 1)
  }

  test("dedup job: a re-run on identical input resumes with the first run's snapshots and counters") {
    import org.apache.spark.sql.functions._
    val store = new SnapshotStore(tmpDir("graft-job-").toString)
    val docs = spark.read.parquet(s"${sf("sf0.001")}/documents.parquet")
    def versions = Seq("dedup_pairs", "dedup_keep", "metrics").map(store.snapshots(_).size)
    val r1 = graft.jobs.DedupJob.run(spark, docs, store)
    val before = versions
    val r2 = graft.jobs.DedupJob.run(spark, docs, store)
    assert(versions == before, "an unchanged re-run must append no version")
    // candidates are an observation of the pair computation, which did not
    // run again; every other counter is the first run's
    assert(r2 == r1.copy(candidatePairs = -1L))
    assert(r1.verifiedPairs > 0 && r1.candidatePairs >= r1.verifiedPairs)
    // one doc fewer is different content: both stages recompute
    val r3 = graft.jobs.DedupJob
      .run(spark, docs.filter(col("doc_id") =!= docs.head().getLong(0)), store)
    assert(r3.pairs.uid != r1.pairs.uid && r3.keep.uid != r1.keep.uid)
    assert(r3.keptDocs + r3.droppedDocs == r1.keptDocs + r1.droppedDocs - 1)
    assert(r3.candidatePairs >= 0)
  }

  test("resumed monitor and delta dedup runs return the computing run's counters") {
    import org.apache.spark.sql.functions._
    val store = new SnapshotStore(tmpDir("graft-job-").toString)
    val dir = sf("sf0.001")
    val tier = Rollup.rollupFromPoints(TokenTable.points(spark, dir), Tier.OneMinute)
    store.stage("tier_1m", "rollup_1m", "test-tier")(tier)
    def monitor() = graft.jobs.MonitorJob.run(
      spark, store,
      alertThreshold = 25200.0, alertMinRun = 2, windowWidth = 60,
      cusumK = 1507710L, cusumH = 150000L)
    val m1 = monitor()
    val m2 = monitor()
    assert(!m1.resumed && m2.resumed)
    assert(m2 == m1.copy(resumed = true) && m1.alertRows > 0 && m1.alarmRows > 0)

    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val isNew = col("doc_id") % 3 === 0
    graft.jobs.DedupJob.run(spark, docs.filter(!isNew), store)
    val newIds = docs.filter(isNew).select("doc_id")
    val d1 = graft.jobs.DedupJob.runDelta(spark, docs, newIds, store)
    val metricsBefore = store.snapshots("metrics").size
    val d2 = graft.jobs.DedupJob.runDelta(spark, docs, newIds, store)
    assert(!d1.resumed && d2.resumed)
    assert(d2 == d1.copy(resumed = true, candidatePairs = -1L))
    assert(d1.keptDocs + d1.droppedDocs == docs.count())
    assert(store.snapshots("metrics").size == metricsBefore, "a resumed delta appends no metrics")
  }

  test("manifest: quotes in the store path and fingerprint round-trip; the stage resumes") {
    import spark.implicits._
    val base = Files.createDirectories(tmpDir("graft-job-").resolve("store \"quoted\""))
    val store = new SnapshotStore(base.toString)
    val fp = "src=/data/\"sf\"\\x;col=\"v\""
    val first = store.stage("t", "stage \"s\"", fp)((1 to 5).toDF("x"))
    assert(!first.resumed)
    val snap = store.latest("t").get
    assert(snap == first.snap, s"manifest must read back as committed: $snap")
    assert(store.read(spark, snap).count() == 5)
    val again = store.stage("t", "stage \"s\"", fp)(sys.error("a resumed stage must not compute"))
    assert(again.resumed && again.snap == first.snap)
  }

  test("manifest schema: a read runs no job and matches inference; rollback keeps it; legacy infers") {
    import spark.implicits._
    val store = new SnapshotStore(tmpDir("graft-job-").toString)
    val dir = sf("sf0.001")
    val tier = store.stage("tier", "rollup", "fp-tier")(
      Rollup.rollupFromPoints(TokenTable.points(spark, dir), Tier.OneMinute)).snap
    val tokens = store.stage("tokens", "raw", "fp-tokens")(TokenTable.raw(spark, dir)).snap
    for (s <- Seq(tier, tokens)) {
      assert(s.schema.isDefined && store.latest(s.table).get == s, s"${s.table}: schema must round-trip")
      assert(store.read(spark, s).schema == spark.read.parquet(s.dataPath).schema, s.table)
      assert(jobsDuring(store.read(spark, s)) == 0, s"${s.table}: building a snapshot read must run no job")
    }
    val back = store.rollbackTo("tier", tier.version)
    assert(back.schema == tier.schema && store.latest("tier").get.schema == tier.schema)
    // a manifest written before the schema field existed takes the schema
    // from its data's footer, on the driver: still no job
    val legacy = tmpDir("graft-job-")
    val data = legacy.resolve("t").resolve("data").resolve("v1-7")
    (1 to 3).toDF("x").write.parquet(data.toString)
    Files.createDirectories(legacy.resolve("t").resolve("_snapshots"))
    Files.writeString(
      legacy.resolve("t").resolve("_snapshots").resolve("v1.json"),
      s"""{"table": "t", "version": 1, "uid": 7, "stage": "s", "fingerprint": "fp-1",
         | "rowCount": 3, "dataPath": "$data"}""".stripMargin)
    val legacyStore = new SnapshotStore(legacy.toString)
    val old = legacyStore.latest("t").get
    assert(old.schema.isEmpty)
    assert(legacyStore.read(spark, old).schema == spark.read.parquet(data.toString).schema)
    assert(jobsDuring(legacyStore.read(spark, old)) == 0, "building a legacy snapshot read must run no job")
    assert(legacyStore.read(spark, old).as[Int].collect().sorted.toSeq == Seq(1, 2, 3))
  }

  test("crash between data write and manifest publish: the orphan stays invisible and unread") {
    import spark.implicits._
    val base = tmpDir("graft-job-")
    val store = new SnapshotStore(base.toString)
    val v1 = store.stage("t", "s", "fp-1")((1 to 3).toDF("x")).snap
    // the crashed writer's leftovers for v2: its data directory and its
    // unpublished manifest, which claims the very (stage, fingerprint)
    // the retry will ask for
    val uid = System.nanoTime()
    val orphan = base.resolve("t").resolve("data").resolve(s"v2-$uid")
    (100 to 199).toDF("x").write.parquet(orphan.toString)
    val tmp = base.resolve("t").resolve("_snapshots").resolve(s".v2-$uid.json.tmp")
    Files.writeString(
      tmp,
      s"""{"table": "t", "version": 2, "uid": $uid, "stage": "s", "fingerprint": "fp-2",
         | "rowCount": 100, "dataPath": "$orphan"}""".stripMargin)
    assert(store.snapshots("t") == Seq(v1), "neither leftover may become visible")
    assert(store.find("t", "s", "fp-2").isEmpty)

    val retry = store.stage("t", "s", "fp-2")((10 to 13).toDF("x"))
    assert(!retry.resumed, "the retry must compute, not resume the orphan")
    assert(retry.snap.version == 2 && retry.snap.rowCount == 4)
    assert(retry.snap.dataPath != orphan.toString)
    assert(store.snapshots("t") == Seq(v1, retry.snap))
    assert(store.read(spark, retry.snap).as[Int].collect().sorted.toSeq == (10 to 13))
  }
}
