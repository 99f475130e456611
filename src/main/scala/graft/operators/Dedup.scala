package graft.operators

import graft.functions.GraftFunctions.call
import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Deduplication operators for training-data pipelines over the documents
 * table: exact (hash groupBy), word-n-gram Jaccard, MinHash+LSH.
 *
 * Scale design notes:
 *  - exact dedup is one groupBy on a 128-bit content hash — shuffle volume
 *    is one row per document, never the text;
 *  - shingling, signatures and banding run as codegen'd Catalyst kernels
 *    (DedupExpressions.scala) — one JVM loop per row inside the projection.
 *    The earlier typed-Dataset-map formulation paid an encoder round-trip
 *    (row -> Scala objects -> row) per doc, which dominated GC at 16
 *    threads (stage probe: 14.2 -> 1.4 s GC after kernel-izing, BENCH.md
 *    "dedup chain"). Shingle JOIN keys are 64-bit FNV-1a hashes, never
 *    strings, so shuffles stay narrow;
 *  - n-gram Jaccard uses a (shingle-hash -> doc) inverted-list self-join
 *    BLOCKED by `source` (a pair can only match within a block), bounding
 *    the quadratic term by the largest block — standard blocking discipline;
 *  - MinHash+LSH replaces the all-pairs join with banded signature
 *    bucketing: candidate generation is linear in documents × bands, and
 *    only bucket-colliding pairs are verified exactly.
 *
 * Hash-collision note: a 64-bit collision could inflate one intersection
 * count; at 2^-64 per pair this is negligible at any realistic corpus size.
 */
object Dedup {

  /** Distinct word-n-gram shingle hashes per doc as one codegen'd kernel
   * call per row (`shingle_fnv` — see DedupExpressions.scala; the former
   * typed-map formulation paid the Dataset encoder round-trip per doc,
   * which dominated GC at 16 threads): `(_id: long, _blk: string,
   * hs: array<long>)`. */
  def shingleHashes(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      blockCol: String,
      n: Int): DataFrame = {
    docs.select(
      col(idCol).cast("long").as("_id"),
      col(blockCol).cast("string").as("_blk"),
      call("shingle_fnv", col(textCol).cast("string"), lit(n)).as("hs"))
  }

  /** Exact dedup: group identical texts by md5, keep the smallest id as the
   * canonical representative. Output: one row per KEPT doc with its
   * duplicate-group size. */
  def exactDedup(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = Window.partitionBy(col("text_hash")).orderBy(col(idCol))
    docs
      .select(col(idCol), md5(col(textCol)).as("text_hash"))
      .withColumn("group_size", count(lit(1)).over(Window.partitionBy(col("text_hash"))))
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn")
  }

  /** All pairs (a < b) within the same `blockCol` whose distinct word-n-gram
   * Jaccard similarity >= threshold. Jaccard is exact-integer arithmetic
   * (|A∩B| / (|A|+|B|-|A∩B|)) — deterministic under any shuffle. */
  def ngramJaccardPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      blockCol: String,
      n: Int,
      threshold: Double): DataFrame = {
    val sets = shingleHashes(docs, idCol, textCol, blockCol, n)
    val sh = sets.select(col("_id"), col("_blk"), explode(col("hs")).as("h"))
    val cnt = sets.select(col("_id"), size(col("hs")).cast("long").as("_n"))
    val b = sh.select(col("_id").as("_idb"), col("_blk").as("_blkb"), col("h").as("hb"))
    val inter = sh
      .join(b, col("h") === col("hb") && col("_blk") === col("_blkb") && col("_id") < col("_idb"))
      .groupBy(col("_id"), col("_idb"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(cnt.withColumnRenamed("_id", "_ca").withColumnRenamed("_n", "na"), col("_id") === col("_ca"))
      .join(cnt.withColumnRenamed("_id", "_cb").withColumnRenamed("_n", "nb"), col("_idb") === col("_cb"))
      .select(
        col("_id").as("doc_a"),
        col("_idb").as("doc_b"),
        (col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")).cast("double")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  // -- MinHash + LSH ------------------------------------------------------

  /** MinHash signature per doc from an `(_id, hs)` shingle table:
   * sig[i] = min over shingle hashes of the i-seeded SplitMix64
   * permutation h_i(x) = mix64(x xor i*GOLDEN) ([[graft.core.Hash.mix64]]).
   * Computed ROW-LOCALLY by the `minhash_sig` kernel over the shingle
   * array — zero shuffle (the round-1 formulation exploded every shingle
   * and ran numHashes min-aggregations, shuffling |shingles| rows for
   * nothing: the minima are per-doc state). The LSH chain shingles once
   * and reuses the same table for verification.
   *
   * Docs with ZERO shingles (text shorter than n words) are dropped: the
   * min over an empty set is undefined, and an all-sentinel signature
   * would make every such pair collide in every band and then pass the
   * 0/0 = NaN Jaccard verification. The exact path drops them too (no
   * shingle rows to join), so the LSH == exact invariant holds. */
  private def signaturesFromSets(sets: DataFrame, numHashes: Int): DataFrame = {
    sets
      .filter(size(col("hs")) > 0)
      .select(
        col("_id"),
        call("minhash_sig", col("hs"), lit(numHashes)).as("sig"))
  }

  /** LSH candidate pairs from banded signatures, verified with exact
   * Jaccard over the distinct shingle-hash sets (row-local merge-walk
   * intersection on the candidate pairs only). Band bucket ids are
   * SplitMix64 chains over the band's signature longs (`lsh_bands`
   * kernel); bucket ids are engine-internal, so only the LSH == exact
   * invariant (PipelineSpec) is the contract. */
  def minHashLshPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      numHashes: Int,
      bands: Int,
      threshold: Double): DataFrame =
    lshChain(docs, idCol, textCol, n, numHashes, bands, threshold, None, None)._1

  /** Delta variant of the LSH chain for incremental dedup maintenance
   * ([[graft.jobs.DedupJob]]'s delta run): shingling and banding run over
   * the FULL corpus — both LINEAR, one shuffle, and unavoidable without
   * committed signature tables — but only candidate pairs TOUCHING the
   * delta id set go through exact-Jaccard verification. The old-vs-old
   * pair set is already committed from prior runs and is neither
   * re-verified nor re-emitted, so per-batch cost is
   * O(corpus) row-local + O(delta-touching candidates) join work, not
   * the full chain's verification volume.
   *
   * `newIds`' single column is the delta's doc ids; the set is broadcast
   * (a delta batch is small by nature — a bulk backfill should re-run the
   * full chain). Returns (verified delta pairs, shingle-cache release
   * hook); `obs` observes the DELTA candidates/pairs as in [[lshChain]]. */
  def minHashLshDeltaPairs(
      docs: DataFrame,
      newIds: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      numHashes: Int,
      bands: Int,
      threshold: Double,
      obs: Option[(Observation, Observation)] = None): (DataFrame, () => Unit) =
    lshChain(docs, idCol, textCol, n, numHashes, bands, threshold, Some(newIds), obs)

  /** The shared chain: shingle ONCE, derive signatures and verification
   * sets from the same materialized shingle table. Shingling is the chain's
   * single most CPU-expensive row-local stage (string walk + FNV per
   * shingle) and its output feeds two DIFFERENTLY-KEYED shuffles (band
   * buckets; per-side verification joins), which Spark's exchange reuse
   * cannot deduplicate — without materializing it the whole corpus is
   * re-read and re-shingled per consumer (measured 3 scans end-to-end).
   * The set table (~50 longs/doc, far smaller than the corpus text) is a
   * lazy `localCheckpoint`: the first action materializes it and both
   * consumers read its blocks, with no entry in the session's
   * CacheManager.
   *
   * With `newIds` (a one-column id frame) only the candidates touching
   * one of those ids go on to verification — the delta chain
   * ([[minHashLshDeltaPairs]]); the id set is broadcast.
   *
   * With `obs`, after ANY action on the returned pairs the two
   * observations hold `candidate_pairs` (distinct band-collision
   * candidates) and `verified_pairs` — the linear-candidate-density claim
   * the banding rests on, monitored with zero extra scans.
   *
   * Returns the verified pairs plus the release hook that frees the
   * checkpoint blocks (`unpersistCheckpoint`); call it once the pairs are
   * materialized (idempotent). Without it the
   * blocks live until the ContextCleaner collects the dropped pairs
   * DataFrame — the lifetime [[minHashLshPairs]] leaves them, as its
   * caller holds no hook. */
  private[graft] def lshChain(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      numHashes: Int,
      bands: Int,
      threshold: Double,
      newIds: Option[DataFrame],
      obs: Option[(Observation, Observation)]): (DataFrame, () => Unit) = {
    val sets = shingleHashes(docs, idCol, textCol, idCol, n).localCheckpoint(eager = false)
    val all = bandCandidates(signaturesFromSets(sets, numHashes), bands)
    val cands0 = newIds.fold(all) { delta =>
      val ids = delta
        .select(col(delta.columns.head).cast("long").as("_nid"))
        .distinct()
      all
        .join(
          broadcast(ids.select(col("_nid").as("_na"))), col("_id") === col("_na"), "left")
        .join(
          broadcast(ids.select(col("_nid").as("_nb"))), col("_idb") === col("_nb"), "left")
        .filter(col("_na").isNotNull || col("_nb").isNotNull)
        .select(col("_id"), col("_idb"))
    }
    val cands = obs
      .map { case (c, _) => cands0.observe(c, count(lit(1)).as("candidate_pairs")) }
      .getOrElse(cands0)
    val verified0 = verifyAgainstSets(cands, sets, threshold)
    val verified = obs
      .map { case (_, v) => verified0.observe(v, count(lit(1)).as("verified_pairs")) }
      .getOrElse(verified0)
    (verified, () => unpersistCheckpoint(sets))
  }

  /** Frees the block-storage copy behind a `localCheckpoint`ed frame
   * (idempotent). Without it the blocks stay in the block manager until
   * GC happens to collect the RDD reference. */
  private def unpersistCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** Band-bucket candidate pairs over (_id, sig) signature rows: one
   * SplitMix64 chain bucket id per band (`lsh_bands` kernel), then ONE
   * shuffle — groupBy (band, bucket), collect the bucket's ids, and emit
   * each bucket's a < b pairs in-row (`arr_pairs` kernel).
   *
   * Why not the textbook self-join on (band, bucket): identical output,
   * but the join shuffles the 16-rows/doc banded table TWICE (no exchange
   * reuse across the renamed side) and sort-merge-joins it — and the
   * SMJ's external-sorter pages were this sandbox's GC pathology (64 MB
   * humongous allocations; measured 7-15x CPU blow-ups run-to-run at 1M
   * docs, BENCH.md "dedup chain" section). The grouped form shuffles the
   * banded rows ONCE into a hash aggregate, sorts nothing, and produces
   * the same pair count the join would (per-bucket k^2 is inherent to
   * LSH banding; bucket sizes are density-bounded — property-tested in
   * PipelineSpec and monitored via DedupJob's candidate telemetry, and
   * arr_pairs fails loudly on a pair-bomb bucket). */
  private def bandCandidates(sigs: DataFrame, bands: Int): DataFrame = {
    sigs
      .select(
        col("_id"),
        posexplode(call("lsh_bands", col("sig"), lit(bands))).as(Seq("band", "bh")))
      .groupBy(col("band"), col("bh"))
      .agg(collect_list(col("_id")).as("ids"))
      .where(size(col("ids")) > 1)
      .select(explode(call("arr_pairs", col("ids"))).as("p"))
      .select(col("p.a").as("_id"), col("p.b").as("_idb"))
      .distinct()
  }

  /** Exact-Jaccard verification of candidate pairs, row-local over the
   * candidate pairs only. The shingle arrays are sorted-distinct by
   * construction (shingle_fnv), so |A∩B| is one merge walk
   * (`arr_sorted_inter_size`) and |A∪B| = |A|+|B|-|A∩B| — no per-pair
   * hash-set allocation (array_intersect/array_union each build one). */
  private def verifyAgainstSets(
      candidates: DataFrame,
      sets0: DataFrame,
      threshold: Double): DataFrame = {
    val sets = sets0.select(col("_id").as("_sid"), col("hs"))
    candidates
      .join(sets.withColumnRenamed("_sid", "_id_a").withColumnRenamed("hs", "sa"), col("_id") === col("_id_a"))
      .join(sets.withColumnRenamed("_sid", "_id_b").withColumnRenamed("hs", "sb"), col("_idb") === col("_id_b"))
      .withColumn("_inter", call("arr_sorted_inter_size", col("sa"), col("sb")))
      .select(
        col("_id").as("doc_a"),
        col("_idb").as("doc_b"),
        (col("_inter").cast("double") /
          (size(col("sa")) + size(col("sb")) - col("_inter")).cast("double")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** The SimHash ASSIGNMENT stage on the hard oracle gate: the
   * `simhash_affine` kernel (mod-prime char-fold word hashes + Lehmer
   * bit signs — every intermediate a signed 64-bit integer an external
   * SQL engine reproduces) instead of the production xxhash64 family.
   * Same shape as [[Similarity.annAssign]]: row-local, shuffle-free;
   * docs with no nonempty word have no geometry and are dropped (the
   * kernel returns -1 for them). */
  def simHashAssign(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      nBits: Int): DataFrame = {
    docs
      .select(
        col(idCol).as("doc_id"),
        call("simhash_affine", col(textCol).cast("string"), lit(nBits))
          .as("simhash_bucket"))
      .filter(col("simhash_bucket") >= 0)
  }

  /** Scale-safe SimHash near-dup pairing: banded Hamming multi-index
   * (Manku, Jarvelin & Sarma, WWW 2007 — the web-crawl simhash dedup
   * paper). The 64-bit signature is split into `maxHamming + 1` bands;
   * by pigeonhole, any pair within Hamming distance `maxHamming` agrees
   * EXACTLY on at least one band, so an equi-join per band on
   * (block, band, band-bits) generates a guaranteed candidate superset —
   * linear in docs x bands, never an all-pairs product — and only
   * candidates pay the `bit_count` verification. Identical pair set to the
   * all-pairs formulation (PipelineSpec asserts this).
   *
   * Trade-off: candidate density per band scales with docs^2 / 2^(64/bands)
   * within a block; for very large corpora prefer a smaller `maxHamming`
   * (the WWW'07 setting is k=3 -> 4 bands of 16 bits).
   *
   * @param sigs (idCol, blockCol, sigCol) — one 64-bit signature per doc */
  def simHashBandedPairs(
      sigs: DataFrame,
      idCol: String,
      sigCol: String,
      blockCol: String,
      maxHamming: Int): DataFrame = {
    val bands = maxHamming + 1
    val bandStructs = (0 until bands).map { i =>
      val lo = 64 * i / bands
      val hi = 64 * (i + 1) / bands
      val mask = if (hi - lo >= 64) -1L else (1L << (hi - lo)) - 1L
      struct(
        lit(i).as("band"),
        shiftrightunsigned(col(sigCol), lo).bitwiseAND(lit(mask)).as("bits"))
    }
    val banded = sigs
      .select(
        col(idCol).as("_id"),
        col(blockCol).as("_blk"),
        col(sigCol).as("_sig"),
        explode(array(bandStructs: _*)).as("bb"))
      .select(col("_id"), col("_blk"), col("_sig"), col("bb.band").as("band"), col("bb.bits").as("bits"))
    val other = banded.select(
      col("_id").as("_idb"),
      col("_blk").as("_blkb"),
      col("_sig").as("_sigb"),
      col("band").as("bandb"),
      col("bits").as("bitsb"))
    banded
      .join(
        other,
        col("_blk") === col("_blkb") && col("band") === col("bandb") &&
          col("bits") === col("bitsb") && col("_id") < col("_idb"))
      .select(col("_id").as("doc_a"), col("_idb").as("doc_b"), col("_sig").as("sa"), col("_sigb").as("sb"))
      .distinct() // a pair may collide on several bands
      .select(
        col("doc_a"),
        col("doc_b"),
        bit_count(col("sa").bitwiseXOR(col("sb"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Benchmark decontamination — the GPT-3/Gopher appendix procedure:
   * flag every corpus document sharing at least `minHits` distinct
   * word-n-grams with a (small) held-out/test set. Output: one row per
   * corpus doc with its distinct-overlap count and the contaminated
   * verdict (zero-hit docs included).
   *
   * Scale shape: the test set's distinct shingle hashes are tiny
   * (|test docs| x words) and BROADCAST; the corpus side is one
   * explode + broadcast semi-ish inner join + per-doc count — the big
   * table shuffles once, keyed by doc, with map-side combine. N-gram
   * identity is the shingle FNV hash (the q_dedup_jaccard oracle
   * discipline: counts match the string n-grams absent a 64-bit
   * collision). */
  def decontaminate(
      docs: DataFrame,
      testDocs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      minHits: Int = 1): DataFrame = {
    require(minHits >= 1, s"minHits must be >= 1, got $minHits")
    val testH = testDocs
      .select(
        explode(call("shingle_fnv", col(textCol).cast("string"), lit(n)))
          .as("h"))
      .distinct()
    val hits = docs
      .select(
        col(idCol),
        explode(call("shingle_fnv", col(textCol).cast("string"), lit(n)))
          .as("h"))
      .join(broadcast(testH), Seq("h"))
      .groupBy(col(idCol))
      // shingle_fnv is distinct per doc, so a plain count IS the
      // distinct-overlap count
      .agg(count(lit(1)).as("n_hits"))
    docs
      .select(col(idCol))
      .join(hits, Seq(idCol), "left")
      .select(
        col(idCol),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)) >= minHits).as("contaminated"))
  }
}
