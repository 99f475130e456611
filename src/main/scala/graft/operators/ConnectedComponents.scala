package graft.operators

import graft.core.{Eager, Hash}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Pairs -> clusters -> keep-list canonicalization for the dedup family.
 *
 * Near-dup detection (exact, n-gram Jaccard, MinHash+LSH, SimHash —
 * [[Dedup]]) emits verified duplicate PAIRS; actually dropping documents
 * from a training corpus needs the transitive closure: connected
 * components with a deterministic representative (the minimum doc id —
 * "keep the first occurrence"). The reference has no ancestor operator
 * (its dedup analog is dataset-level weighting, uni2ts
 * data/dataset.py:36-46); this is the standard production construction.
 *
 * Scale design (the driver for every choice here is 10^12 documents):
 *  - the closure is an ITERATIVE EDGE REWRITE — alternating
 *    large-star / small-star rounds (Kiveris, Lattanzi, Mirrokni,
 *    Rastogi & Vassilvitskii, "Connected Components in MapReduce and
 *    Beyond", SoCC 2014) — never a driver-side union-find, which would
 *    serialize the whole edge set through one machine;
 *  - each star op is expressed as groupBy-min PLUS an equi-join back to
 *    the edges, NOT as collect_list adjacency: a hot node (the root of a
 *    million-document duplicate cluster) therefore never materializes a
 *    million-element array inside one task, and AQE's skew handling
 *    applies to the join like any other;
 *  - rounds converge in O(log^2 n) (2-4 in practice on dedup graphs,
 *    whose components are near-cliques from band-collision pairing);
 *  - each round ends in localCheckpoint: iterative self-joins otherwise
 *    grow the logical plan (and any recomputation) exponentially. On a
 *    real cluster prefer `spark.sparkContext.setCheckpointDir` +
 *    `checkpoint()` for fault-tolerant truncation; local checkpoints
 *    trade executor-loss recovery for speed, the right trade in this
 *    single-JVM harness;
 *  - convergence is detected by an order-independent fingerprint
 *    (count + sum of xxhash64(u, v)) — one cheap action per round
 *    instead of a set-equality anti-join.
 */
object ConnectedComponents {

  /** Frees the block-storage copy behind a `localCheckpoint`ed frame
   * (idempotent). Without it the blocks stay in the block manager until
   * GC happens to collect the RDD reference — per closure round, and per
   * LSH chain ([[Dedup.lshChain]]'s release hook). */
  private[operators] def unpersistCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** (node, rep) for every node appearing in `pairs`; rep is the MINIMUM
   * id of the node's connected component (a deterministic cluster
   * representative under any execution order). */
  def components(pairs: DataFrame, aCol: String, bCol: String, maxRounds: Int = 25): DataFrame =
    componentsWithRounds(pairs, aCol, bCol, maxRounds)._1

  /** As [[components]], also returning the number of full
   * large-star+small-star rounds executed before the edge set reached its
   * fixed point (exposed for the convergence tests). */
  private[graft] def componentsWithRounds(
      pairs: DataFrame,
      aCol: String,
      bCol: String,
      maxRounds: Int = 25): (DataFrame, Int) = {
    // the closure runs its actions while the caller builds a DataFrame;
    // each round's jobs run under a job description naming the round
    // (round 0: the canonical edge set)
    val spark = pairs.sparkSession
    def inRound[T](round: Int)(body: => T): T =
      Eager.named(spark, s"ConnectedComponents: round $round")(body)
    def fingerprint(e: DataFrame): (Long, String) = Hash.contentFingerprint(e, col("u"), col("v"))

    // canonical directed edges: (u, v) with u > v, no self-loops, distinct
    var (edges, fp) = inRound(0) {
      val e = pairs
        .select(col(aCol).cast("long").as("_a"), col(bCol).cast("long").as("_b"))
        .filter(col("_a") =!= col("_b"))
        .select(greatest(col("_a"), col("_b")).as("u"), least(col("_a"), col("_b")).as("v"))
        .distinct()
        .localCheckpoint()
      (e, fingerprint(e))
    }
    var rounds = 0
    var converged = fp._1 == 0L // no edges at all -> nothing to close
    while (!converged && rounds < maxRounds) {
      // LARGE-STAR: for each node u, every STRICTLY LARGER neighbor is
      // re-pointed at the minimum of u's closed neighborhood
      // m(u) = min(N(u) + {u}). Output edges (v, m) keep u>v canonical
      // form automatically (v > u >= m).
      val nbrs = edges
        .select(col("u"), col("v"))
        .union(edges.select(col("v").as("u"), col("u").as("v")))
      val largeMins = nbrs
        .groupBy("u")
        .agg(min(col("v")).as("_mn"))
        .select(col("u"), least(col("u"), col("_mn")).as("m"))
      // The rows of `nbrs` with v > u are exactly the reversed canonical
      // edges, so the join probes |E| rows (not 2|E|) — and each canonical
      // edge yields exactly ONE output row, so no intermediate distinct is
      // needed (duplicate (v, m) rows from sibling edges are collapsed by
      // `next`'s distinct below; they never exceed |E|). Saves one full
      // shuffle and halves the join's shuffled volume per round.
      val large = edges
        .select(col("v").as("u"), col("u").as("v"))
        .join(largeMins, "u")
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
      // SMALL-STAR over the (larger -> smaller) edges: all of u's smaller
      // neighbors, and u itself, re-point at m(u) = min(N-(u)); m < every
      // emitted source so canonical form is again preserved.
      val smallMins = large.groupBy("u").agg(min(col("v")).as("m"))
      // lazy checkpoint: its final stage is materialized by the
      // fingerprint action just below (one result stage per round instead
      // of two — the per-round driver overhead, not the data, dominates
      // small closures). AQE still runs the round's shuffle stages at the
      // checkpoint call, when it plans the RDD it hands out.
      val (next, nfp) = inRound(rounds + 1) {
        val n = large
          .join(smallMins, "u")
          .filter(col("v") =!= col("m"))
          .select(col("v").as("u"), col("m").as("v"))
          .union(smallMins.select(col("u"), col("m").as("v")))
          .distinct()
          .localCheckpoint(eager = false)
        (n, fingerprint(n))
      }
      // `next` is now fully materialized in its own blocks — the previous
      // round's checkpoint can be freed immediately (local checkpoints
      // truncate lineage, so the next round never re-reads it). The FINAL
      // edge set is deliberately NOT freed: the returned labels read it
      // lazily; its blocks are reclaimed by the ContextCleaner once the
      // caller drops the labels DataFrame.
      unpersistCheckpoint(edges)
      converged = nfp == fp
      fp = nfp
      edges = next
      rounds += 1
    }
    require(
      converged,
      s"connected components did not converge within $maxRounds rounds — " +
        "raise maxRounds (components this deep indicate a pathological pair graph)")
    // fixed point = disjoint stars rooted at each component minimum:
    // every non-root u carries exactly one edge (u, root)
    val labels = edges
      .select(col("u").as("node"), col("v").as("rep"))
      .union(edges.select(col("v").as("node"), col("v").as("rep")).distinct())
    (labels, rounds)
  }

  /** The keep/drop verdict per document: every doc with its cluster
   * representative (`rep_id` = component minimum; singletons represent
   * themselves) and `keep` = whether this doc IS the representative.
   * `docs` rows never carry text through the join — only the id column is
   * selected, so shuffle volume is one narrow row per document. */
  def keepList(
      docs: DataFrame,
      idCol: String,
      pairs: DataFrame,
      aCol: String = "doc_a",
      bCol: String = "doc_b"): DataFrame =
    keepVerdict(docs, idCol, components(pairs, aCol, bCol))

  /** The verdict step of [[keepList]] over existing (node, rep) `labels`
   * (from [[components]] or [[incrementalComponents]]): a doc without a
   * label is a singleton and represents itself. */
  private[graft] def keepVerdict(docs: DataFrame, idCol: String, labels: DataFrame): DataFrame =
    docs
      .select(col(idCol).cast("long").as("doc_id"))
      .join(labels.withColumnRenamed("node", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("rep"), col("doc_id")).as("rep_id"))
      .withColumn("keep", col("doc_id") === col("rep_id"))

  /** Incremental closure maintenance: fold NEW pairs into an existing
   * (node, rep) labeling without re-walking the old pair set. Each
   * label IS a (node, rep) edge that already star-contracts its whole
   * component to the minimum id, so running the closure over
   * labels-as-edges ∪ new pairs converges from a warm start: rounds
   * grow with the diameter of the NEWLY-MERGED component graph (each
   * old component is one hop), not the full graph's. Equal to
   * [[components]] over the union of old and new pair sets — the
   * PipelineSpec property and the q_dedup_incremental oracle.
   *
   * Same node-coverage contract as [[components]]: the output holds
   * nodes with at least one non-self edge across the inputs. A
   * SINGLETON label (node == rep) is a self-loop edge and is filtered,
   * so a label table fed back across many increments keeps only
   * multi-node components — consumers re-derive singleton verdicts via
   * [[keepVerdict]], never from label presence. */
  def incrementalComponents(
      prevLabels: DataFrame,
      newPairs: DataFrame,
      aCol: String,
      bCol: String,
      maxRounds: Int = 25): DataFrame = {
    val labelEdges = prevLabels
      .select(col("node").as("_ia"), col("rep").as("_ib"))
    val newEdges = newPairs
      .select(col(aCol).cast("long").as("_ia"), col(bCol).cast("long").as("_ib"))
    components(labelEdges.unionByName(newEdges), "_ia", "_ib", maxRounds)
  }
}
