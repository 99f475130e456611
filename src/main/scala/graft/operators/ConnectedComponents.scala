package graft.operators

import graft.core.{Deferred, Hash}
import org.apache.spark.{Aggregator, HashPartitioner, Partitioner, ShuffleDependency}
import org.apache.spark.rdd.{RDD, ShuffledRDD}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.SparkInternals
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import scala.reflect.ClassTag

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
 *  - the rounds run on an `RDD[(Long, Long)]` of canonical edges
 *    (u > v), not on DataFrames: a round is a handful of RDD shuffles
 *    and ONE Spark job, with no Catalyst plan, no AQE re-planning (which
 *    submits one job per shuffle stage) and no generated classes per
 *    round. The rounds are one [[graft.core.Deferred]] plan step: they
 *    run when the query executes, over the pair subplan's rows (read once,
 *    round 0), and hand the labels on as the step's two LONG columns, so
 *    building the labels frame runs no job;
 *  - each star op is a min aggregate (map-side combined, like
 *    `reduceByKey`) PLUS a merge-walk join ([[mergeWalk]]) of the edges
 *    against that one-row-per-key side over co-partitioned, key-sorted
 *    partitions — NOT collect_list adjacency and NOT an RDD join, whose
 *    co-group buffers every row of a key: the root of a million-document
 *    duplicate cluster therefore never materializes a million-element
 *    array inside one task. The walk streams a hot key's rows past its one
 *    right value, so the unique side needs no skew split (AQE's remedy
 *    for a hot key in a SQL join);
 *  - large-star needs only each node's SMALLER neighbours:
 *    m(x) = min(x, min v over edges (x, v)), since every larger neighbour
 *    exceeds x;
 *  - rounds converge in O(log^2 n) (2-4 in practice on dedup graphs,
 *    whose components are near-cliques from band-collision pairing);
 *  - each round ends in localCheckpoint: iterative rewrites otherwise
 *    grow the lineage (and any recomputation) without bound. Once it is
 *    written, the previous round's checkpoint blocks and this round's
 *    shuffle files are deleted, so a closure holds one round's state on
 *    disk, not every round's until a driver GC. On a real cluster prefer
 *    `spark.sparkContext.setCheckpointDir` + `checkpoint()` for
 *    fault-tolerant truncation; local checkpoints trade executor-loss
 *    recovery for speed, the right trade in this single-JVM harness;
 *  - convergence is detected by an order-independent fingerprint
 *    (count + wrapping sum of a 64-bit hash of (u, v)), computed by the
 *    same job that materializes the round's checkpoint — no set-equality
 *    anti-join and no second action.
 */
object ConnectedComponents {

  /** (node, rep) for every node appearing in `pairs`; rep is the MINIMUM
   * id of the node's connected component (a deterministic cluster
   * representative under any execution order). */
  def components(pairs: DataFrame, aCol: String, bCol: String, maxRounds: Int = 25): DataFrame =
    componentsWithRounds(pairs, aCol, bCol, maxRounds)._1

  /** Left-outer merge join of `left` with `right`, two RDDs partitioned
   * by one partitioner and key-sorted within each partition, where
   * `right` holds at most one row per key: `f` sees every left row with
   * its key's right value, if any. Both sides stream, so a key with a
   * million left rows holds none of them in memory. */
  private[graft] def mergeWalk[V, W, O: ClassTag](left: RDD[(Long, V)], right: RDD[(Long, W)])(
      f: (Long, V, Option[W]) => O): RDD[O] =
    left.zipPartitions(right) { (ls, rs) =>
      val r = rs.buffered
      ls.map { case (k, v) =>
        while (r.hasNext && r.head._1 < k) r.next()
        f(k, v, if (r.hasNext && r.head._1 == k) Some(r.head._2) else None)
      }
    }

  /** The minimum value per key, partitioned by `part` and key-sorted
   * within each partition: `reduceByKey(min)` (combined on the map side)
   * with the sort done by the same shuffle's reader. */
  private def minByKey(edges: RDD[(Long, Long)], part: Partitioner): RDD[(Long, Long)] =
    new ShuffledRDD[Long, Long, Long](edges, part)
      .setAggregator(Aggregator[Long, Long, Long](v => v, math.min, math.min))
      .setMapSideCombine(true)
      .setKeyOrdering(Ordering.Long)

  /** The shuffles in `rdd`'s lineage, down to the first checkpointed RDDs. */
  private def shuffleIds(rdd: RDD[_]): Seq[Int] =
    rdd.dependencies.flatMap {
      case s: ShuffleDependency[_, _, _] => s.shuffleId +: shuffleIds(s.rdd)
      case d => shuffleIds(d.rdd)
    }.distinct

  /** As [[components]], also returning a reader of the number of full
   * large-star+small-star rounds the last execution of the labels ran
   * before the edge set reached its fixed point (exposed for the
   * convergence tests; -1 before the labels have executed). */
  private[graft] def componentsWithRounds(
      pairs: DataFrame,
      aCol: String,
      bCol: String,
      maxRounds: Int = 25): (DataFrame, () => Int) = {
    val part = new HashPartitioner(pairs.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt)
    // checkpoints `e` and fingerprints it in ONE job: the job computes
    // every partition, so the checkpoint finds all its blocks written
    def checkpointed(e: RDD[(Long, Long)]): (RDD[(Long, Long)], (Long, Long)) = {
      e.localCheckpoint()
      val fp = e
        .mapPartitions { it =>
          var n, sum = 0L
          it.foreach { case (u, v) => n += 1; sum += Hash.mix64(Hash.mix64(u) ^ v) }
          Iterator((n, sum))
        }
        .fold((0L, 0L)) { case ((n1, s1), (n2, s2)) => (n1 + n2, s1 + s2) }
      (e, fp)
    }
    var executedRounds = -1
    val labels = Deferred(pairs.select(col(aCol).cast("long"), col(bCol).cast("long")), LabelSchema) { (rows, describe) =>
      // each round's job runs under a description naming the round
      // (round 0: the canonical edge set)
      describe("ConnectedComponents: round 0")
      // canonical directed edges: (u, v) with u > v, no self-loops, distinct
      var (edges, fp) = checkpointed(
        rows
          .flatMap { r =>
            if (r.isNullAt(0) || r.isNullAt(1) || r.getLong(0) == r.getLong(1)) None
            else Some((math.max(r.getLong(0), r.getLong(1)), math.min(r.getLong(0), r.getLong(1))))
          }
          .distinct(part.numPartitions))
      var rounds = 0
      var converged = fp._1 == 0L // no edges at all -> nothing to close
      while (!converged && rounds < maxRounds) {
        // LARGE-STAR: every neighbour u > v of node v is re-pointed at
        // m(v) = min(v, v's smaller neighbours); v > m keeps (u, m)
        // canonical. Each edge yields exactly ONE output row, so no
        // intermediate distinct is needed (duplicate rows from sibling
        // edges are collapsed by the round's distinct below).
        val mins = minByKey(edges, part)
        val large = mergeWalk(edges.map(_.swap).repartitionAndSortWithinPartitions(part), mins) {
          (v, u, m) => (u, m.getOrElse(v))
        }
        // SMALL-STAR over the (larger -> smaller) edges: all of u's smaller
        // neighbours, and u itself, re-point at m(u) = min(N-(u)); m < every
        // emitted source so canonical form is again preserved. Every key of
        // `large` has its row in `smallMins`.
        val smallMins = minByKey(large, part)
        val star = mergeWalk(large.repartitionAndSortWithinPartitions(part), smallMins) { (_, v, m) => (v, m.get) }
          .filter { case (v, m) => v != m }
          .union(smallMins)
          .distinct(part.numPartitions)
        val shuffles = shuffleIds(star)
        describe(s"ConnectedComponents: round ${rounds + 1}")
        val (next, nfp) = checkpointed(star)
        // `next` is now fully materialized in its own blocks — the previous
        // round's checkpoint and this round's shuffle files can be freed
        // immediately (local checkpoints truncate lineage, so the next round
        // never re-reads them; left to the ContextCleaner, every round's
        // shuffle files would stay on disk until a driver GC). The FINAL
        // edge set is deliberately NOT freed: the returned labels read it
        // lazily; its blocks are reclaimed by the ContextCleaner once the
        // executed query is dropped.
        edges.unpersist(blocking = false)
        shuffles.foreach(SparkInternals.removeShuffle(rows.sparkContext, _))
        converged = nfp == fp
        fp = nfp
        edges = next
        rounds += 1
      }
      require(
        converged,
        s"connected components did not converge within $maxRounds rounds — " +
          "raise maxRounds (components this deep indicate a pathological pair graph)")
      executedRounds = rounds
      // fixed point = disjoint stars rooted at each component minimum:
      // every non-root u carries exactly one edge (u, root)
      edges
        .union(edges.map(_._2).distinct(part.numPartitions).map(v => (v, v)))
        .map { case (node, rep) => InternalRow(node, rep) }
    }
    (labels, () => executedRounds)
  }

  private val LabelSchema = StructType(Seq("node", "rep").map(StructField(_, LongType, nullable = false)))

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
