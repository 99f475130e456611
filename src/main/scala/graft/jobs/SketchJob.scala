package graft.jobs

import graft.core.Hash
import graft.operators.Sketches
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Incremental cardinality maintenance as a snapshot-committed job: the
 * per-window KMV sketch table is the durable artifact, and each delta
 * batch folds into the latest committed sketch through
 * [[Sketches.mergeSketches]] (kmin(A) ∪ kmin(B) == kmin(A ∪ B)) — the
 * history is NEVER rescanned, which is the whole reason to commit
 * sketches instead of exact distinct counts: exact counts don't merge,
 * so keeping them current costs a full-corpus aggregation per delta
 * (measured in BENCH.md "Sketch vs exact": ~every (key, token) pair
 * through the shuffle), while the sketch fold is one exchange bounded
 * by keys x k.
 *
 * Exactly-once discipline (the DedupJob.runDelta contract): a delta's
 * identity is its CONTENT fingerprint (count + order-free hash sum), so
 * a crash-retried or duplicate-delivered delta RESUMES instead of
 * double-folding — and skipping is correct, not just safe, because
 * folding an already-folded batch is a set-union no-op. Key counts ride
 * `observe` on the commit write itself, zero extra scans.
 */
object SketchJob {

  final case class Result(
      sketch: SnapshotInfo,
      metrics: SnapshotInfo,
      resumed: Boolean,
      keys: Long)

  private val SketchTable = "kmv_sketch"
  private val Keys = Seq("source", "bucket", "window_start")

  /** Commit-or-resume `sketch` as the next sketch version under `stage`,
   * fingerprinted by the parameters and the CONTENT of `points` (count +
   * order-independent xxhash64 sum over the full point identity), plus
   * its metrics version — keyed on the sketch snapshot's uid, so a
   * resumed (duplicate-delivered) run also resumes its metrics instead of
   * appending a duplicate version per replay. The key count is the sketch
   * snapshot's own row count (one key per row). */
  private def commitSketch(
      spark: SparkSession,
      store: SnapshotStore,
      points: DataFrame,
      windowWidth: Int,
      k: Int,
      stage: String)(sketch: => DataFrame): Result = {
    val (n, fp) = Hash.contentFingerprint(points, col("source"), col("pos"), col("tok"))
    val run = store.stage(SketchTable, stage, s"w$windowWidth-k$k-n$n-fp$fp")(sketch)
    val metrics = store.commitMetrics(
      spark,
      s"sketch_$stage",
      run.snap -> Seq("keys" -> run.snap.rowCount.toDouble, "input_points" -> n.toDouble))
    Result(run.snap, metrics, run.resumed, run.snap.rowCount)
  }

  /** Initial build: the full corpus's per-window KMV sketch, committed
   * exactly-once per (params, content fingerprint). */
  def run(
      spark: SparkSession,
      points: DataFrame,
      store: SnapshotStore,
      windowWidth: Int,
      k: Int): Result =
    commitSketch(spark, store, points, windowWidth, k, "initial")(
      Sketches.kmvSketch(points, windowWidth, k))

  /** Fold one delta batch into the latest committed sketch. The
   * fingerprint is the delta's CONTENT only (the DedupJob.runDelta
   * discipline, deliberately NOT chained on the base sketch's uid): a
   * crash-retried or duplicate-delivered delta must resume even though
   * its first attempt already advanced the sketch table — and skipping
   * is correct because re-unioning an already-folded batch changes
   * nothing. */
  def runDelta(
      spark: SparkSession,
      deltaPoints: DataFrame,
      store: SnapshotStore,
      windowWidth: Int,
      k: Int): Result = {
    val prev = store
      .latest(SketchTable)
      .getOrElse(throw new IllegalStateException(
        "SketchJob.runDelta: no committed sketch to fold into — run " +
          "SketchJob.run for the initial corpus first"))
    commitSketch(spark, store, deltaPoints, windowWidth, k, "delta")(
      Sketches.mergeSketches(
        store.read(spark, prev),
        Sketches.kmvSketch(deltaPoints, windowWidth, k),
        Keys,
        k))
  }
}
