package graft.sources

import graft.functions.GraftFunctions.call
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Source of the engine's primary input: the north-rule token table
 * `(doc_id: string, tokens: array<int>, n_tok: int, source: string)`.
 *
 * Two constructions:
 *
 *  1. [[fromDocuments]] — derives the table deterministically from the
 *     `documents` parquet table with PURE integer arithmetic, so an
 *     independent SQL engine can reproduce every row bit-exactly (the
 *     oracle path). This is the engine's deterministic builder, the
 *     descendant of the reference's dataset builders
 *     (uni2ts/src/uni2ts/data/builder/simple.py:195-229) and of its
 *     seeded-generator test discipline
 *     (test_forward_reverse_correctness.py:19, seed 42).
 *
 *  2. [[rangePoints]] — a pure `spark.range`-based generator of an
 *     arbitrarily large point view of the same token formula for
 *     throughput runs (stands in for the 10^12-sequence production
 *     table). Splittable: every row is a pure function of its index, so
 *     any parallelism level produces identical rows (FIXTURES.md §1).
 *
 * Token formula (shared with every DuckDB oracle in SparkEntry):
 *   n_tok       = n_chars
 *   tokens[p]   = ((doc_id + 1) * 2654435761 + p * 40503) mod 50257
 * All intermediates fit in Long; `%` on non-negative Longs is identical
 * across engines.
 */
object TokenTable {

  val Vocab = 50257L
  val MulA = 2654435761L // Knuth multiplicative hash constant (public)
  val MulB = 40503L

  /** The fixture's source label set (documents.source ∈ src0..src19) —
   * shared by every query that enumerates sources explicitly (pivot value
   * lists, unpivot column lists) so the enumeration cannot silently
   * diverge from the data or between the Spark and oracle sides. */
  val FixtureSources: Seq[String] = (0 until 20).map(i => s"src$i")

  /** The deterministic token-expression for position column `p` and doc
   * column `d` (both integral). */
  private def tokExpr(d: String, p: String) =
    expr(s"CAST((($d + 1) * ${MulA}L + $p * ${MulB}L) % ${Vocab}L AS INT)")

  /** Long (exploded) point view of the raw tier:
   * `(doc_id: bigint, source, pos: int, tok: int)` — one row per token.
   * This is the engine's fundamental fan-out (ancestor: Patchify +
   * AddTimeIndex, uni2ts transform/patch.py:123-159, feature.py:74-104).
   *
   * Deliberately derived straight from `documents` WITHOUT materializing
   * the token arrays: Catalyst prunes `text` from the scan and the
   * generator produces points with no intermediate array allocation.
   */
  /** @param balanceFanout when true, the narrow pre-explode doc rows are
   * repartitioned to `defaultParallelism` (hash on doc id) BEFORE the
   * ~300x token explode. The explode otherwise inherits the DOC scan's
   * split count — one task on a small parquet file locally, a skewed
   * ingest partition at scale — which serializes the explode AND the
   * map-side partial aggregate of the downstream groupBy into those few
   * tasks. Opt-IN because it only pays when the per-point map-side work
   * is heavy (per-TOKEN groupings whose partial hash maps hold ~vocab
   * entries: measured 1.5-2.1x on q_tier_distinct/topk, entropy, KL,
   * PSI, vocab growth, KMV, CMS); for the tiny-group rollup ladder the
   * extra stage wave costs more than the serial stage it removes
   * (q_rollup_1m 0.36 -> 0.63 s balanced — plans/r08, BenchExtra A/B). */
  def points(
      spark: SparkSession,
      sfDir: String,
      balanceFanout: Boolean = false): DataFrame = {
    val docs = Parquet
      .read(spark, s"$sfDir/documents.parquet")
      .select(
        col("doc_id").cast("bigint").as("d"),
        col("source"),
        col("n_chars").cast("int").as("n_tok"))
    docs
      // n_tok >= 1 guard: sequence(0, -1) yields a DESCENDING [0,-1] array,
      // not an empty one — an empty doc would otherwise emit bogus pos=-1
      // rows that no SQL oracle produces.
      .filter(col("n_tok") >= 1)
      // pre-fan-out balancing shuffle (narrow rows, 1/~300th of the
      // post-explode bytes) — see the scaladoc trade-off
      .transform(d =>
        if (balanceFanout) d.repartition(spark.sparkContext.defaultParallelism, col("d"))
        else d)
      .select(col("d"), col("source"), explode(sequence(lit(0), col("n_tok") - 1)).as("pos"))
      .select(
        col("d").as("doc_id"),
        col("source"),
        col("pos"),
        tokExpr("d", "pos").as("tok"))
  }

  /** Raw tier with materialized token arrays (north-rule shape exactly).
   * The array is generated by the `affine_mod_seq` kernel expression —
   * the `transform(sequence(...))` SQL formulation evaluated an
   * interpreted lambda per TOKEN, a constant-factor tax on every
   * raw()-based query at corpus scale. */
  def raw(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Parquet
      .read(spark, s"$sfDir/documents.parquet")
      .select(
        col("doc_id").cast("bigint").as("d"),
        col("source"),
        col("n_chars").cast("int").as("n_tok"))
    docs
      // empty-doc guard (sequence(0,-1) is [0,-1], not []); the engine's
      // token table carries non-empty sequences only, matching every
      // point-derived oracle, which cannot produce rows for empty docs.
      .filter(col("n_tok") >= 1)
      // NO balancing repartition here: the per-doc kernels downstream of
      // raw() (window stats, pinball, SAX) measured FASTER without the
      // extra stage wave at bench scale (BenchExtra A/B: q_eval_extra
      // 0.49 vs 0.58 s, q_sax_symbols 0.19 vs 0.27 s) — the fused kernels
      // made the per-doc work cheap enough that scan-split parallelism
      // suffices. See points(balanceFanout) for the opposite regime.
      .select(
        col("d").cast("string").as("doc_id"),
        call(
          "affine_mod_seq",
          col("d"),
          col("n_tok"),
          lit(MulA),
          lit(MulB),
          lit(Vocab)).as("tokens"),
        col("n_tok"),
        col("source"))
  }

  /** Allocation-free giant point view for throughput benchmarks: one range
   * row per point, (doc, pos) derived arithmetically — measures the rollup
   * aggregation itself rather than generator allocation. Fixed tokensPerDoc
   * keeps the mapping a pure function of the row index. */
  def rangePoints(
      spark: SparkSession,
      nDocs: Long,
      tokensPerDoc: Int,
      partitions: Int = 0,
      nSources: Int = 20): DataFrame = {
    val base =
      if (partitions > 0) spark.range(0L, nDocs * tokensPerDoc, 1L, partitions)
      else spark.range(nDocs * tokensPerDoc)
    // source via constant-array lookup, NOT concat: per-point string
    // construction (UTF8String.concat + long->string) costs ~2 µs/point and
    // dominates the whole rollup; element_at on a folded literal array just
    // returns a reference (measured ~100x cheaper)
    val srcArray = array((0 until nSources).map(i => lit(s"src$i")): _*)
    base.select(
      expr(s"id DIV $tokensPerDoc").as("doc_id"),
      element_at(srcArray, (expr(s"id DIV $tokensPerDoc") % nSources + 1).cast("int"))
        .as("source"),
      (col("id") % tokensPerDoc).cast("int").as("pos"),
      expr(
        s"CAST(((id DIV $tokensPerDoc + 1) * ${MulA}L + (id % $tokensPerDoc) * ${MulB}L) % ${Vocab}L AS INT)")
        .as("tok"))
  }
}
