package graft.jobs

import graft.operators.SeriesAnalytics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/**
 * The observability job over a committed tier: consecutive-breach alerts
 * and CUSUM drift alarms computed from the LATEST tier snapshot and
 * committed as their own snapshot tables — the production face of the
 * q_tier_alerts / q_cusum query surfaces, with the engine's job
 * discipline (RollupJob/DedupJob):
 *
 *  - exactly-once per (tier version, parameters): both stage fingerprints
 *    chain on the tier snapshot uid, so rerunning on an unchanged tier
 *    resumes both stages, and a NEW tier version recomputes exactly the
 *    monitoring suffix;
 *  - counters ride the stages' own writes via observe (zero extra
 *    scans), landing in the metrics table beside the rollup/dedup
 *    telemetry;
 *  - only ALARMING rows are committed for the CUSUM surface (output
 *    bounded by incidents, not windows; the full statistic is
 *    recomputable from the tier by construction).
 *
 * Scale shape: both operators are one window pass over the
 * (cardinality-bounded) tier — see [[SeriesAnalytics.consecutiveBreaches]]
 * and [[SeriesAnalytics.cusum]]; nothing here touches raw points.
 */
object MonitorJob {

  /** `alertRows` / `alarmRows` are the committed snapshots' row counts,
   * on both the computing and the resumed path. */
  final case class Result(
      alerts: SnapshotInfo,
      cusum: SnapshotInfo,
      alertRows: Long,
      alarmRows: Long,
      resumed: Boolean)

  def run(
      spark: SparkSession,
      store: SnapshotStore,
      tierTable: String = "tier_1m",
      alertValueCol: String = "avg_tok",
      alertThreshold: Double,
      alertMinRun: Int,
      windowWidth: Int,
      cusumValueCol: String = "sum_tok",
      cusumK: Long,
      cusumH: Long): Result = {
    val tierSnap = store
      .latest(tierTable)
      .getOrElse(throw new IllegalStateException(
        s"MonitorJob: no committed $tierTable snapshot to monitor — run the " +
          "rollup job first"))
    val tier = store.read(spark, tierSnap)

    val alerts = store.stage(
      "tier_alerts",
      "monitor_alerts",
      s"tier=${tierSnap.uid};v=$alertValueCol;t=$alertThreshold;k=$alertMinRun;w=$windowWidth") {
      SeriesAnalytics
        .consecutiveBreaches(tier, alertValueCol, alertThreshold, alertMinRun, windowWidth)
    }
    val cusum = store.stage(
      "tier_cusum_alarms",
      "monitor_cusum",
      s"tier=${tierSnap.uid};v=$cusumValueCol;k=$cusumK;h=$cusumH") {
      SeriesAnalytics
        .cusum(tier, cusumValueCol, cusumK, cusumH)
        .filter(col("alarm"))
    }

    // metrics only for the stages that computed here
    val computed = Seq(alerts -> "alert_rows", cusum -> "alarm_rows").collect {
      case (run, metric) if !run.resumed => run.snap -> Seq(metric -> run.counter("rows").toDouble)
    }
    if (computed.nonEmpty) store.commitMetrics(spark, "monitor", computed: _*)
    Result(
      alerts.snap,
      cusum.snap,
      alerts.counter("rows"),
      cusum.counter("rows"),
      alerts.resumed && cusum.resumed)
  }
}
