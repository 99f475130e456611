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
 * becomes a cluster-wide shuffle explosion. The only non-observe counter
 * is the input doc count — a parquet metadata count, no data scan.
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
    val nDocs = docs.count()
    val params = s"lsh-n$n-h$numHashes-b$bands-t$threshold-docs$nDocs"

    val (lsh, obsCand, obsVer) =
      Dedup.minHashLshPairsObserved(docs, "doc_id", "text", n, numHashes, bands, threshold)
    val (pairsSnap, pairs) = store.commitObserved(
      lsh.pairs, "dedup_pairs", "lsh_pairs", params, observations = Seq(obsCand, obsVer))
    // the committed snapshot is the durable pair set — release the chain's
    // internal shingle cache now (a long-lived session would otherwise
    // accumulate one cached shingle table per distinct corpus run)
    lsh.release()
    val cand = pairs("candidate_pairs")
    val ver = pairs("verified_pairs")

    val (keepSnap, keep) = store.commitObserved(
      ConnectedComponents.keepList(docs, "doc_id", store.read(spark, pairsSnap)),
      "dedup_keep", "keep_list", s"pairs=${pairsSnap.uid}", KeepCounters)
    val kept = keep("kept")
    val dropped = keep("dropped")

    val metricsSnap = store.commitMetrics(
      spark,
      "dedup_lsh",
      keepSnap -> Seq(
        "input_docs" -> nDocs.toDouble,
        "candidate_pairs" -> cand.toDouble,
        "verified_pairs" -> ver.toDouble,
        "rejected_pairs" -> (cand - ver).toDouble,
        // the density-bound monitor: ~O(bands) per doc when healthy
        "candidates_per_doc" -> (if (nDocs > 0) cand.toDouble / nDocs else 0.0),
        "kept_docs" -> kept.toDouble,
        "dropped_docs" -> dropped.toDouble))
    Result(pairsSnap, keepSnap, metricsSnap, cand, ver, kept, dropped)
  }

  /** The keep/drop split, observed on the keep-list write. */
  private val KeepCounters = Seq(
    count(when(col("keep"), lit(1))).as("kept"),
    count(when(!col("keep"), lit(1))).as("dropped"))

  /** `keep` is the labeling version THIS delta produced — or, when
   * `resumed`, the version its original fold produced, which may be
   * OLDER than the table's head if later deltas have since folded (a
   * re-delivered old delta resumes to its own version; skipping the
   * re-fold is correct because its pairs are already in the closure).
   * Downstream readers that want the current corpus labeling must read
   * `store.latest("dedup_keep")`, not this snapshot. `candidatePairs`,
   * `keptDocs` and `droppedDocs` are -1 when their stage resumed (the
   * metrics table holds the computing run's values); `verifiedPairs` is
   * always real — a resumed pairs stage recovers it from the committed
   * snapshot's row count. */
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
    // counter is only defined on the computing run — but the VERIFIED
    // count is the committed snapshot's own row count, known on both
    // paths. This matters on the crash-retry path (pairs committed, keep
    // not): the first attempt died BEFORE any metrics commit, so nothing
    // else holds the value.
    val cand = pairs.counter("candidate_pairs")
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

    // metrics accompany every NEW labeling version — including the
    // crash-retry path where the pairs stage resumed but the keep stage
    // computed. That path arises precisely when the first attempt died
    // between the two commits, i.e. BEFORE any metrics commit, so the
    // only counter genuinely lost with it is candidate_pairs (it exists
    // only as the computing run's observe); verified_pairs is always
    // recorded, and -1 sentinels never reach the table.
    keep.counters.foreach { k =>
      store.commitMetrics(
        spark,
        "dedup_delta",
        keep.snap -> (Seq(
          "new_docs" -> nNew.toDouble,
          "verified_pairs" -> ver.toDouble,
          "kept_docs" -> k("kept").toDouble,
          "dropped_docs" -> k("dropped").toDouble) ++
          cand.toSeq.flatMap { c =>
            Seq(
              "candidate_pairs" -> c.toDouble,
              "candidates_per_new_doc" -> (if (nNew > 0) c.toDouble / nNew else 0.0))
          }))
    }
    DeltaResult(
      pairs.snap,
      keep.snap,
      pairs.resumed && keep.resumed,
      cand.getOrElse(-1L),
      ver,
      keep.counter("kept").getOrElse(-1L),
      keep.counter("dropped").getOrElse(-1L))
  }
}
