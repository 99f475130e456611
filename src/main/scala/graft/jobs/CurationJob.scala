package graft.jobs

import graft.core.Hash
import graft.operators.{Dedup, TextAnalysis}
import graft.sources.UnionBuilder
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * The training-data curation funnel as one snapshot-committed job:
 * exact dedup -> benchmark decontamination -> quality verdict -> split
 * assignment, with the per-stage drop counts observed into the store's
 * `metrics` table (the DedupJob telemetry discipline — counters ride
 * `df.observe` on the output's own snapshot write, zero extra scans).
 *
 * Funnel attribution is ordered: a document dropped by an earlier gate
 * is not recounted by a later one (dup -> contaminated -> low-quality),
 * so the four counters partition the corpus exactly and an operator
 * reading the metrics table sees where volume is lost.
 *
 * Every verdict column stays in the output table — the job never
 * destroys rows, it labels them (the keep/drop decision is replayable
 * and auditable downstream, like ConnectedComponents.keepList).
 *
 * A re-run on identical input resumes (SnapshotStore.stage) and returns
 * the first run's snapshot, metrics version and counters.
 */
object CurationJob {

  final case class Result(
      curated: SnapshotInfo,
      metrics: SnapshotInfo,
      inputDocs: Long,
      droppedDup: Long,
      droppedContaminated: Long,
      droppedQuality: Long,
      keptDocs: Long)

  /** The funnel's per-document labeling surface — every gate a boolean
   * column, never a dropped row. Shared verbatim by [[run]] (which adds
   * the observed counters and snapshot commit) and the oracle-checked
   * `q_curation_funnel` query, so the end-user-facing labels themselves
   * sit on the hard cross-engine gate, not only on JobSpec counters. */
  def labelDocs(
      docs: DataFrame,
      testDocs: DataFrame,
      n: Int = 8,
      testPermille: Int = 20,
      valPermille: Int = 50): DataFrame = {
    val canonical = Dedup
      .exactDedup(docs, "doc_id", "text")
      .select(col("doc_id"), lit(true).as("canonical"))
    val contam = Dedup
      .decontaminate(docs, testDocs, "doc_id", "text", n)
      .select(col("doc_id"), col("contaminated"))
    val verdict = TextAnalysis
      .curationVerdict(docs, "doc_id", "text")
      .select(col("doc_id"), col("keep").as("quality_ok"))
    UnionBuilder
      .assignSplit(docs.select(col("doc_id"), col("source")), "doc_id", testPermille, valPermille)
      .join(canonical, Seq("doc_id"), "left")
      .join(contam, Seq("doc_id"), "left")
      // LEFT joins throughout: a doc the signal stages cannot score
      // (e.g. NULL text never survives the word explode) must still be
      // LABELED — quality defaults to failed, never to row loss, or
      // the funnel's exact-partition invariant silently breaks
      .join(verdict, Seq("doc_id"), "left")
      .withColumn("canonical", coalesce(col("canonical"), lit(false)))
      .withColumn("contaminated", coalesce(col("contaminated"), lit(false)))
      .withColumn("quality_ok", coalesce(col("quality_ok"), lit(false)))
      .withColumn(
        "kept",
        col("canonical") && !col("contaminated") && col("quality_ok"))
  }

  def run(
      spark: SparkSession,
      docs: DataFrame,
      testDocs: DataFrame,
      store: SnapshotStore,
      n: Int = 8,
      testPermille: Int = 20,
      valPermille: Int = 50): Result = {
    // keyed on the CONTENT the funnel reads: identical input resumes
    val (nDocs, docsFp) =
      Hash.contentFingerprint(docs, col("doc_id"), col("text"), col("source"))
    val (nTest, testFp) = Hash.contentFingerprint(testDocs, col("text"))
    val curated = store.stage(
      "curated",
      "curation_funnel",
      s"curate-n$n-tp$testPermille-vp$valPermille-docs$nDocs-fp$docsFp-test$nTest-fp$testFp",
      FunnelCounters)(labelDocs(docs, testDocs, n, testPermille, valPermille))
    // labels, never drops: one committed row per input doc
    val Seq(input, dup, cont, qual, kept) =
      Seq("rows", "dropped_dup", "dropped_contaminated", "dropped_quality", "kept_docs")
        .map(curated.counter)

    val metricsSnap = store.commitMetrics(
      spark,
      "curation",
      curated.snap -> Seq(
        "input_docs" -> input.toDouble,
        "dropped_dup" -> dup.toDouble,
        "dropped_contaminated" -> cont.toDouble,
        "dropped_quality" -> qual.toDouble,
        "kept_docs" -> kept.toDouble,
        "kept_ratio" -> (if (input > 0) kept.toDouble / input else 0.0)))
    Result(curated.snap, metricsSnap, input, dup, cont, qual, kept)
  }

  /** The funnel's ordered drop attribution over the labeled rows. */
  private val FunnelCounters = Seq(
    count(when(!col("canonical"), lit(1))).as("dropped_dup"),
    count(when(col("canonical") && col("contaminated"), lit(1))).as("dropped_contaminated"),
    count(when(col("canonical") && !col("contaminated") && !col("quality_ok"), lit(1)))
      .as("dropped_quality"),
    count(when(col("kept"), lit(1))).as("kept_docs"))
}
