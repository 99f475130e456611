package graft.jobs

import graft.core.Tier
import graft.operators.Rollup
import graft.sources.TokenTable
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/**
 * The engine's production job: raw token table -> retention-tier ladder,
 * one checkpointed stage per tier, resumable from the snapshot store, with
 * per-partition lineage rows and a metrics table (north-rule resumability
 * + observability contract; semantic ancestor: the reference's
 * checkpoint-every-N + `ckpt_path="last"` resume and per-dataset metrics
 * CSVs, reference cli/train.py:185-189, eval/comprehensive_evaluation.py).
 *
 * Stage graph:  raw -> tier_1m -> tier_5m -> tier_1h -> tier_1d
 * Each stage's fingerprint includes the upstream snapshot version, so a
 * re-run with unchanged inputs skips every stage (idempotent), and
 * invalidating one snapshot recomputes exactly the suffix of the ladder.
 *
 * spark-submit entry:
 *   graft.jobs.RollupJob <sfDir> <storeDir> [salt]
 */
object RollupJob {

  final case class StageResult(
      snap: SnapshotInfo,
      resumed: Boolean,
      wallMs: Long)

  /** Salted two-phase rollup: pre-aggregate with a salt key derived from
   * doc_id so one hot `source` (Zipf skew) spreads over `salt` reducers,
   * then combine partials. Exact because min/max/sum/count compose.
   * This is the explicit skew discipline the north rule asks for; the
   * FFD packing of the reference (data/loader.py:103-209) solves the same
   * uneven-token-mass problem at batch level (SURVEY.md §2.8). */
  def rollupSalted(points: DataFrame, tier: String, salt: Int): DataFrame =
    Rollup.finishTier(
      Rollup.mergeState(
        Rollup.pointState(points, tier, pmod(hash(col("doc_id")), lit(salt)).as("_salt"))),
      tier)

  /** Run the full ladder; returns per-stage results.
   *
   * `retentionHorizon` enforces retention on the 1m tier only;
   * `ladderHorizons` (one horizonStart per non-coarsest tier, fine ->
   * coarse) runs a compact-then-expire stage per ladder level instead —
   * the TimescaleDB per-tier-policy shape. Mutually exclusive. */
  def run(
      spark: SparkSession,
      sfDir: String,
      storeDir: String,
      salt: Int = 0,
      retentionHorizon: Option[Long] = None,
      ladderHorizons: Seq[Long] = Seq.empty): Map[String, StageResult] = {
    require(
      retentionHorizon.isEmpty || ladderHorizons.isEmpty,
      "RollupJob: pass retentionHorizon (1m only) OR ladderHorizons (per tier), not both")
    val store = new SnapshotStore(storeDir)
    var results = Map.empty[String, StageResult]

    // a stage that computed here also commits its lineage and metrics; a
    // resumed stage reads nothing back (its versions already exist)
    def stage(
        table: String,
        stageName: String,
        fingerprint: String,
        counters: Seq[Column] = Nil,
        observations: => Seq[Observation] = Nil)(compute: => DataFrame): StageResult = {
      val t0 = System.nanoTime()
      val run = store.stage(table, stageName, fingerprint, counters, observations)(compute)
      val res = StageResult(run.snap, run.resumed, (System.nanoTime() - t0) / 1000000L)
      results += (stageName -> res)
      run.observed.foreach(emitObservability(spark, store, res, _))
      res
    }

    // Stage 0: raw tier (north-rule shape), fingerprinted by input path.
    val raw = stage("raw", "raw", s"src=$sfDir") {
      TokenTable.raw(spark, sfDir)
    }

    // Stage 1: 1m tier from the raw snapshot's point view, with the
    // validity-invariant counter (skip-and-count, the reference's
    // eval_precond_space.py:100-136 semantics) riding the stage's own
    // write action via observe — no extra scan. Lazy: a resumed stage
    // never reads the raw snapshot.
    lazy val valid = graft.operators.Validity.filterWithCounter(
      store.read(spark, raw.snap),
      size(col("tokens")) >= 1,
      s"validity-1m-${raw.snap.uid}")
    val t1m = stage(
      "tier_1m",
      "rollup_1m",
      s"raw=${raw.snap.uid};salt=$salt",
      observations = Seq(valid._2)) {
      val points = valid._1
        .select(
          col("doc_id"),
          col("source"),
          posexplode(col("tokens")).as(Seq("pos", "tok")))
      if (salt > 0) rollupSalted(points, Tier.OneMinute, salt)
      else Rollup.rollupFromPoints(points, Tier.OneMinute)
    }

    // Stages 2..4: reaggregation cascade, each reading the previous tier
    // snapshot (never the raw data).
    var prev = t1m
    var tierSnaps = Map(Tier.OneMinute -> t1m)
    for ((tierName, _) <- Tier.ladder.drop(1)) {
      prev = stage(
        s"tier_$tierName",
        s"rollup_$tierName",
        s"prev=${prev.snap.uid}") {
        Rollup.reaggregate(store.read(spark, prev.snap), tierName)
      }
      tierSnaps += (tierName -> prev)
    }
    val t5m = tierSnaps(Tier.FiveMinutes)

    // ONE compact-then-expire stage for a (fine, coarse) tier pair: the
    // survivor snapshot replaces the fine tier for readers;
    // uncovered-but-expired rows are retained and COUNTED (riding the
    // stage's own write via observe — zero extra scans), so a cascade
    // that has not caught up is visible in the metrics table, not
    // silently truncated. Shared by Stage 5 and every Stage 5' level —
    // table/stage/metric names must stay identical between the two paths.
    def retentionStage(
        fineName: String,
        fine: StageResult,
        coarse: StageResult,
        coarseName: String,
        horizon: Long): Unit = {
      stage(
        s"tier_${fineName}_retained",
        s"retention_$fineName",
        s"fine=${fine.snap.uid};coarse=${coarse.snap.uid};h=$horizon",
        counters = Seq(
          coalesce(sum(expr("CAST(retained_uncovered AS LONG)")), lit(0L))
            .as("retained_uncovered_rows"),
          count(lit(1)).as("survivor_rows"))) {
        graft.operators.Retention.safeExpire(
          store.read(spark, fine.snap),
          store.read(spark, coarse.snap),
          coarseName,
          horizon)
      }
      ()
    }

    // Stage 5 (opt-in): retention enforcement on the 1m tier against the
    // committed 5m snapshot — the single-level case of the helper.
    retentionHorizon.foreach { horizon =>
      retentionStage(Tier.OneMinute, t1m, t5m, Tier.FiveMinutes, horizon)
    }

    // Stage 5' (opt-in alternative): retention across the FULL ladder —
    // one compact-then-expire stage PER (fine, coarse) tier pair with its
    // own horizon, each verdict against the coarse tier's COMMITTED
    // snapshot (Retention.ladderExpire's coverage-as-given semantics: a
    // fine window expires once the coarser aggregate EXISTS; whether the
    // coarse tier later expires it is the next level's question). The
    // coarsest tier is pure history and gets no stage.
    if (ladderHorizons.nonEmpty) {
      val tiers = Tier.ladder.map(_._1)
      require(
        ladderHorizons.size == tiers.size - 1,
        s"RollupJob: ${tiers.size}-tier ladder needs ${tiers.size - 1} horizons, " +
          s"got ${ladderHorizons.size}")
      tiers.init.zip(tiers.tail).zip(ladderHorizons).foreach {
        case ((fineName, coarseName), horizon) =>
          retentionStage(
            fineName, tierSnaps(fineName), tierSnaps(coarseName), coarseName, horizon)
      }
    }
    results
  }

  /** Names the metrics table gives the validity filter's counters. */
  private val ValidityMetrics = Map("skipped" -> "skipped_rows", "total" -> "input_rows")

  /** Per-partition lineage rows + stage metrics (the counters observed on
   * the stage's write among them), appended to the store's
   * lineage/metrics tables (north-rule stats contract). */
  private def emitObservability(
      spark: SparkSession,
      store: SnapshotStore,
      res: StageResult,
      counters: Map[String, Long]): Unit = {
    val out = store.read(spark, res.snap)
    val lineage = out
      .groupBy(spark_partition_id().as("partition_id"))
      .agg(count(lit(1)).as("rows_out"))
      .select(
        lit(res.snap.stage).as("stage"),
        lit(res.snap.version.toLong).as("snapshot_id"),
        col("partition_id"),
        col("rows_out"),
        lit(res.wallMs).as("wall_ms"))
    store.stage(
      "lineage", s"lineage_${res.snap.stage}", s"v${res.snap.version}-${res.snap.uid}")(lineage)
    val pointsPerSec =
      if (res.wallMs > 0) res.snap.rowCount.toDouble * 1000.0 / res.wallMs else 0.0
    val observed = (counters - "rows").toSeq.sorted.map { case (k, v) =>
      ValidityMetrics.getOrElse(k, k) -> v.toDouble
    }
    store.commitMetrics(
      spark,
      res.snap.stage,
      res.snap -> (Seq(
        "rows_out" -> res.snap.rowCount.toDouble,
        "wall_ms" -> res.wallMs.toDouble,
        "rows_per_sec" -> pointsPerSec) ++ observed))
    ()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val storeDir = args(1)
    val salt = if (args.length > 2) args(2).toInt else 0
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession
      .builder()
      .master(s"local[$cpus]")
      .appName("graft-rollup-job")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val results = run(spark, sfDir, storeDir, salt)
    results.toSeq.sortBy(_._1).foreach { case (s, r) =>
      println(
        s"[rollup-job] stage=$s v=${r.snap.version} rows=${r.snap.rowCount} " +
          s"resumed=${r.resumed} wallMs=${r.wallMs}")
    }
    spark.stop()
  }
}
