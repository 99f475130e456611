package graft.jobs

import graft.core.Hash
import graft.operators.{ConnectedComponents, Dedup}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/**
 * The dedup chain as a snapshot-committed job with candidate-volume
 * telemetry: MinHash-sign -> band-bucket -> exact-verify pairs ->
 * connected-components keep-list, with the per-stage candidate counts
 * (pairs generated / verified / dropped, and the kept/dropped document
 * split) emitted into the store's `metrics` table.
 *
 * All pair/document counters ride `df.observe` (the Validity pattern) —
 * they are collected DURING the stage's own snapshot write, zero extra
 * scans — so the linear candidate-density claim the banding rests on
 * (candidates ~ docs x bands, not docs^2; property-tested in
 * PipelineSpec) is also MONITORED on every production run: an operator
 * watching the metrics table sees a band-collision blow-up (skewed
 * shingles, adversarial content) as a candidates_per_doc spike, before it
 * becomes a cluster-wide shuffle explosion.
 *
 * Both entry points resume (SnapshotStore.stage): a re-run on identical
 * input returns the first run's snapshots, metrics version and counters,
 * except `candidatePairs` — an observation of the pair computation, -1
 * when that stage resumed.
 */
object DedupJob {

  final case class Result(
      pairs: SnapshotInfo,
      keep: SnapshotInfo,
      metrics: SnapshotInfo,
      candidatePairs: Long,
      verifiedPairs: Long,
      keptDocs: Long,
      droppedDocs: Long)

  def run(
      spark: SparkSession,
      docs: DataFrame,
      store: SnapshotStore,
      n: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.5): Result = {
    // keyed on the CONTENT the chain reads: identical input resumes
    val (nDocs, docsFp) = Hash.contentFingerprint(docs, col("doc_id"), col("text"))
    val params = s"lsh-n$n-h$numHashes-b$bands-t$threshold-docs$nDocs-fp$docsFp"

    val obsCand = Observation(s"lsh_candidates_$params")
    val obsVer = Observation(s"lsh_verified_$params")
    val (lshPairs, release) = Dedup.lshChain(
      docs, "doc_id", "text", n, numHashes, bands, threshold, None, Some((obsCand, obsVer)))
    val pairs = store.stage(
      "dedup_pairs", "lsh_pairs", params, observations = Seq(obsCand))(lshPairs)
    // the committed snapshot is the durable pair set — release the chain's
    // internal shingle cache now (a long-lived session would otherwise
    // accumulate one cached shingle table per distinct corpus run)
    release()
    val cand = pairs.observation("candidate_pairs")
    val ver = pairs.snap.rowCount

    val keep = store.stage(
      "dedup_keep", "keep_list", s"pairs=${pairs.snap.uid}", KeepCounters) {
      ConnectedComponents.keepList(docs, "doc_id", store.read(spark, pairs.snap))
    }
    val kept = keep.counter("kept")
    val dropped = keep.counter("dropped")
    val metricsSnap = store.commitMetrics(
      spark,
      "dedup_lsh",
      keep.snap -> labelingMetrics("input_docs" -> nDocs, "doc", cand, ver, kept, dropped))
    Result(pairs.snap, keep.snap, metricsSnap, cand.getOrElse(-1L), ver, kept, dropped)
  }

  /** One labeling version's metric rows. The candidate rows exist only
   * when the pair stage computed (-1 never reaches the table);
   * `candidates_per_<unit>` is the density monitor, ~O(bands) when healthy. */
  private def labelingMetrics(
      input: (String, Long),
      unit: String,
      cand: Option[Long],
      ver: Long,
      kept: Long,
      dropped: Long): Seq[(String, Double)] =
    Seq(
      input._1 -> input._2.toDouble,
      "verified_pairs" -> ver.toDouble,
      "kept_docs" -> kept.toDouble,
      "dropped_docs" -> dropped.toDouble) ++
      cand.toSeq.flatMap { c =>
        Seq(
          "candidate_pairs" -> c.toDouble,
          "rejected_pairs" -> (c - ver).toDouble,
          s"candidates_per_$unit" -> (if (input._2 > 0) c.toDouble / input._2 else 0.0))
      }

  /** The keep/drop split over the keep-list rows (observed on the write;
   * read back when the stage resumed). */
  private val KeepCounters = Seq(
    count(when(col("keep"), lit(1))).as("kept"),
    count(when(!col("keep"), lit(1))).as("dropped"))

  /** `keep` is the labeling version THIS delta produced — or, when
   * `resumed`, the version its original fold produced, which may be
   * OLDER than the table's head if later deltas have since folded (a
   * re-delivered old delta resumes to its own version; skipping the
   * re-fold is correct because its pairs are already in the closure).
   * Downstream readers that want the current corpus labeling must read
   * `store.latest("dedup_keep")`, not this snapshot. `candidatePairs` is
   * -1 when the pair stage resumed (it is an observation of that
   * computation; the metrics table holds the computing run's value).
   * The other counters are aggregates over committed rows and real on
   * both paths: `verifiedPairs` is the pair snapshot's row count, and a
   * resumed keep stage reads `keptDocs`/`droppedDocs` back from its
   * snapshot. */
  final case class DeltaResult(
      pairsDelta: SnapshotInfo,
      keep: SnapshotInfo,
      resumed: Boolean,
      candidatePairs: Long,
      verifiedPairs: Long,
      keptDocs: Long,
      droppedDocs: Long)

  /** Incremental (delta) dedup maintenance — the production answer to
   * q_dedup_incremental's documented query-shape cost (the query re-runs
   * the pair join once per batch branch because a query builder has no
   * persist release point; this job pays one linear candidate pass and
   * verifies ONLY delta-touching pairs).
   *
   * Reads the prior run's committed labeling (`dedup_keep`), discovers
   * and verifies only the pairs touching `newDocIds`
   * ([[Dedup.minHashLshDeltaPairs]] — old-vs-old pairs are never
   * re-verified), folds them into the committed labels from a warm start
   * ([[ConnectedComponents.incrementalComponents]]: rounds scale with the
   * newly-merged subgraph's diameter), and commits
   *  - the verified DELTA pairs as their own log-structured snapshot
   *    (`dedup_pairs` grows by appended versions, never rewritten), and
   *  - the new full labeling over `allDocs`,
   * both exactly-once: the fingerprints carry the upstream snapshot uid,
   * the chain parameters and the delta count, so a crashed-and-retried
   * delta run RESUMES instead of double-folding (SnapshotStore.stage, the
   * RollupJob stage discipline). Candidate/verified telemetry rides the
   * pair write via observe, zero extra scans. */
  def runDelta(
      spark: SparkSession,
      allDocs: DataFrame,
      newDocIds: DataFrame,
      store: SnapshotStore,
      n: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.5): DeltaResult = {
    val prevKeep = store
      .latest("dedup_keep")
      .getOrElse(throw new IllegalStateException(
        "DedupJob.runDelta: no committed dedup_keep labeling to fold into — " +
          "run DedupJob.run for the initial corpus first"))
    // the delta's identity is its CONTENT fingerprint (count + order-free
    // hash sum — the streaming batchFingerprint discipline), NOT the prev
    // labeling's uid: a crash-retried or duplicate-delivered delta must
    // RESUME even though the first attempt already advanced
    // `dedup_keep` — and skipping is correct, not just safe, because
    // folding an already-folded pair set into the closure is a no-op.
    // (Docs are immutable under a given id in this store — re-submitting
    // an id set with MUTATED text is out of contract, as everywhere else
    // snapshots are fingerprinted by inputs.)
    val (nNew, idFp) = Hash.contentFingerprint(
      newDocIds.select(col(newDocIds.columns.head).cast("long").as("_nid")).distinct(),
      col("_nid"))
    val params =
      s"delta-n$n-h$numHashes-b$bands-t$threshold-new$nNew-fp$idFp"

    val obsCand = Observation(s"delta_candidates_$params")
    val obsVer = Observation(s"delta_verified_$params")
    val (deltaPairs, release) = Dedup.minHashLshDeltaPairs(
      allDocs, newDocIds, "doc_id", "text", n, numHashes, bands, threshold,
      Some((obsCand, obsVer)))
    val pairs = store.stage(
      "dedup_pairs", "lsh_pairs_delta", params, observations = Seq(obsCand))(deltaPairs)
    release()
    // a resumed pair stage never ran its observe action, so the CANDIDATE
    // count is only defined on the computing run — but the VERIFIED count
    // is the committed snapshot's own row count, known on both paths
    val cand = pairs.observation("candidate_pairs")
    val ver = pairs.snap.rowCount

    val prevLabels = store
      .read(spark, prevKeep)
      .filter(!col("keep")) // singleton labels are self-loops; drop early
      .select(col("doc_id").as("node"), col("rep_id").as("rep"))
    // fingerprinted by the pair delta alone: "this delta has been folded
    // into this table" — the labeling the fold would produce from any
    // later prev state is identical (closure monotonicity)
    val keep = store.stage(
      "dedup_keep", "keep_list_delta", s"pairs=${pairs.snap.uid}", KeepCounters) {
      ConnectedComponents.keepVerdict(
        allDocs,
        "doc_id",
        ConnectedComponents.incrementalComponents(
          prevLabels, store.read(spark, pairs.snap), "doc_a", "doc_b"))
    }

    // resumed on the labeling's uid: a retry after a crash between the
    // keep and metrics commits writes the missing version
    val kept = keep.counter("kept")
    val dropped = keep.counter("dropped")
    store.commitMetrics(
      spark,
      "dedup_delta",
      keep.snap -> labelingMetrics("new_docs" -> nNew, "new_doc", cand, ver, kept, dropped))
    DeltaResult(
      pairs.snap, keep.snap, pairs.resumed && keep.resumed, cand.getOrElse(-1L), ver, kept, dropped)
  }
}
