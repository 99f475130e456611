package graft.operators

import graft.core.Tier
import graft.functions.GraftFunctions.call
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Approximate sketch operators — the bounded-state scale path beside the
 * exact cardinality/heavy-hitter operators in [[SeriesAnalytics]].
 *
 * At 10^12 points the EXACT operators are still shuffle-bounded by
 * distinct (key, token) pairs, which grows with keys x vocab; these
 * sketches cap per-group state at a constant (k longs for KMV,
 * depth x width cells for count-min) no matter the cardinality — the
 * standard trade (Cormode & Muthukrishnan '05 for count-min; Bar-Yossef
 * et al. RANDOM'02 for KMV) a 100 TB tier store makes when the exact
 * pair shuffle stops fitting.
 *
 * Both sketches use the engine's Lehmer mod-prime hash family
 * (multiplier 2654435761, modulus 1e9+7 — the [[Crop]]/[[UnionBuilder]]
 * convention) so every cell and hash value is plain BIGINT arithmetic
 * that a SQL oracle reproduces bit-for-bit: the sketches are
 * DETERMINISTIC, hash-checkable operators, not Monte-Carlo ones. */
object Sketches {

  private val P = 1000000007L

  /** The count-min cell for affine row `r` at the given width — ONE
   * definition shared by the sketch build and the estimate probe: the
   * two sides must hash tokens to identical cells or the
   * never-under-counts invariant silently breaks. */
  private def cellExpr(width: Int): String =
    s"""CAST((((CAST(tok AS BIGINT) + 1) * (((r + 1) * 2654435761) % $P)
       |  + ((r + 1) * 40503 + 7) % $P) % $P) % $width AS INT)""".stripMargin

  /** Two Lehmer rounds of the token id onto [0, P): the KMV input hash.
   * (tok+1) keeps token 0 off the fixed point at 0. */
  private val tokHash: String =
    s"(((CAST(tok AS BIGINT) + 1) * 2654435761) % $P) * 2654435761 % $P"

  /** Approximate distinct tokens per (source, bucket, window) via a
   * k-minimum-values sketch: ONE exchange whose payload is at most k
   * longs per key (the kmv_kmin TypedImperativeAggregate dedups and
   * truncates map-side), against the exact countDistinct's shuffle of
   * every distinct (key, token) pair. Output per key:
   * `n_kept` (min(k, distinct hashes)), `kth_min` (the k-th smallest
   * distinct hash, NULL below k), and the KMV estimate
   * `est_distinct` = (k-1) * P / kth_min — exact `n_kept` when the key
   * never filled its sketch (the estimator is the identity below k). */
  def approxDistinct(points: DataFrame, windowWidth: Int, k: Int): DataFrame =
    estimateDistinct(kmvSketch(points, windowWidth, k), k)

  /** The raw KMV sketch table per (source, bucket, window): key columns
   * plus the `kmin` array. This is the COMMITTABLE form — sketches
   * merge ([[mergeSketches]]), estimates don't. */
  def kmvSketch(points: DataFrame, windowWidth: Int, k: Int): DataFrame = {
    require(k >= 2, s"kmvSketch: k must be >= 2, got $k")
    points
      .select(
        col("source"),
        Tier.bucket,
        Tier.windowStart(windowWidth),
        expr(tokHash).as("h"))
      .groupBy(col("source"), col("bucket"), col("window_start"))
      .agg(call("kmv_kmin", col("h"), lit(k)).as("kmin"))
  }

  /** Derive (n_kept, kth_min, est_distinct) from a [[kmvSketch]] table. */
  def estimateDistinct(sketch: DataFrame, k: Int): DataFrame =
    sketch
      .select(
        col("source"),
        col("bucket"),
        col("window_start"),
        size(col("kmin")).as("n_kept"),
        // get() is NULL (not an ANSI error) when the sketch never filled
        get(col("kmin"), lit(k - 1)).as("kth_min"))
      .withColumn(
        "est_distinct",
        when(
          col("kth_min").isNotNull,
          lit((k - 1).toDouble) * lit(P.toDouble) / col("kth_min").cast("double"))
          .otherwise(col("n_kept").cast("double")))

  /** Merge two KMV sketch tables (same keys, `kmin` array column) into
   * one: kmin(kmin(A) ∪ kmin(B)) == kmin(A ∪ B) because the sketch is a
   * pure set property — so a committed sketch snapshot folds a delta
   * batch WITHOUT rescanning history (the incremental-maintenance
   * contract the exact countDistinct can never offer: exact distinct
   * counts don't merge, sketches do). Cost: explode of ≤k values per
   * key per side, one bounded exchange. */
  def mergeSketches(a: DataFrame, b: DataFrame, keys: Seq[String], k: Int): DataFrame = {
    a.unionByName(b)
      .select(keys.map(col) :+ explode(col("kmin")).as("h"): _*)
      .groupBy(keys.map(col): _*)
      .agg(call("kmv_kmin", col("h"), lit(k)).as("kmin"))
  }

  /** The raw committable count-min sketch: per-(source, r, c) counts.
   * See [[countMinTopK]] for the hash family and scale shape.
   *
   * Built from the exact per-(source, tok) counts via the linear-sketch
   * identity cell_cnt = Σ_{tok → (r,c)} cnt(tok): every cell depends only
   * on (tok, r), so aggregating tokens first and hashing each DISTINCT
   * token depth times is byte-identical to hashing every point depth
   * times — at vocab ≪ points that removes the depth×points explode that
   * used to dominate the build (hash work drops from depth×points to
   * depth×distinct pairs). */
  def cmsSketch(points: DataFrame, depth: Int = 4, width: Int = 1024): DataFrame =
    cmsFromCounts(
      points.groupBy(col("source"), col("tok")).agg(count(lit(1)).as("cnt")),
      depth,
      width)

  /** Count-min cells from an exact per-(source, tok) count table —
   * the linear-sketch identity (see [[cmsSketch]]). */
  def cmsFromCounts(tokCounts: DataFrame, depth: Int, width: Int): DataFrame = {
    require(depth >= 1 && depth <= 8, s"cmsSketch: depth in [1,8], got $depth")
    require(width >= 2, s"cmsSketch: width >= 2, got $width")
    val cell = cellExpr(width)
    tokCounts
      .select(
        col("source"),
        col("tok"),
        col("cnt"),
        explode(sequence(lit(0), lit(depth - 1))).as("r"))
      .select(col("source"), col("r"), expr(cell).as("c"), col("cnt"))
      .groupBy(col("source"), col("r"), col("c"))
      .agg(sum(col("cnt")).as("cell_cnt"))
  }

  /** Per-(source, row, cell) count-min sketch counts plus the sketch
   * estimate for the exact top-k tokens per source. The sketch is
   * depth x width cells per source REGARDLESS of vocabulary — the
   * fixed-memory heavy-hitter path when the exact per-token aggregate
   * ([[SeriesAnalytics.heavyHitters]]) stops fitting. Row r hashes
   * tok to cell ((tok+1) * A_r + B_r) mod P mod width with
   * A_r = (r+1) * 2654435761 mod P, B_r = ((r+1) * 40503 + 7) mod P —
   * pairwise-independent-enough affine rows in the engine's public
   * hash idiom, and pure BIGINT arithmetic for the oracle.
   *
   * Scale shape: the sketch build explodes depth rows per point BEFORE
   * the partial aggregate (the classic d-updates-per-point cost), but
   * the exchange is bounded by sources x depth x width cells; the
   * estimate side joins the (tiny, broadcast) sketch onto the top-k
   * candidates. est_cnt >= cnt always (count-min never under-counts). */
  def countMinTopK(
      points: DataFrame,
      depth: Int = 4,
      width: Int = 1024,
      k: Int = 20): DataFrame = {
    require(depth >= 1 && depth <= 8, s"countMinTopK: depth in [1,8], got $depth")
    require(width >= 2, s"countMinTopK: width >= 2, got $width")
    import org.apache.spark.sql.expressions.Window
    val cell = cellExpr(width)
    // ONE per-(source, tok) aggregate feeds both the sketch build
    // (cmsFromCounts linear-sketch identity) and the exact top-k side —
    // the two subtrees are structurally identical up to the exchange, so
    // the points scan + partial aggregate execute once (ReusedExchange).
    val tokCnt = points
      .groupBy(col("source"), col("tok"))
      .agg(count(lit(1)).as("cnt"))
    val sketch = cmsFromCounts(tokCnt, depth, width)
    val rank = Window
      .partitionBy(col("source"))
      .orderBy(col("cnt").desc, col("tok").asc)
    val top = tokCnt
      .withColumn("rank", row_number().over(rank))
      .filter(col("rank") <= k)
    top
      .select(
        col("source"),
        col("tok"),
        col("cnt"),
        col("rank"),
        explode(sequence(lit(0), lit(depth - 1))).as("r"))
      .withColumn("c", expr(cell))
      .join(broadcast(sketch), Seq("source", "r", "c"))
      .groupBy(col("source"), col("tok"), col("cnt"), col("rank"))
      .agg(min(col("cell_cnt")).as("est_cnt"))
  }
}
