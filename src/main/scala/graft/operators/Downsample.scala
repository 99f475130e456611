package graft.operators

import graft.functions.GraftFunctions.call
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Largest-Triangle-Three-Buckets downsampling (Steinarsson, "Downsampling
 * Time Series for Visual Representation", MSc thesis, U. Iceland 2013 —
 * public specification).
 *
 * The reference declares downsample-by-selection operator slots but leaves
 * them unimplemented (uni2ts/src/uni2ts/transform/resample.py:69-93); the
 * north rule mandates LTTB. Determinism: ties in triangle area keep the
 * EARLIEST candidate (strict `>` comparison), so output is independent of
 * cluster size (SURVEY.md §7.4 hard part 5).
 *
 * Scale design: one shuffle (`groupByKey` on the series key); each group is
 * one tier series, whose length is bounded by retention-span / tier-width
 * (e.g. a day of 1m windows = 1440 points), NOT by raw data volume — so
 * buffering a group in memory is safe by construction. Parallelism is
 * across series, which is the abundant dimension at 100 TB.
 */
object Downsample {

  /** Core LTTB over a series already sorted by x: at most `threshold`
   * points (>= 2, or it fails). Always keeps first and last points;
   * selects one point per interior bucket maximizing the triangle area
   * with the previously selected point and the next bucket's centroid. */
  def lttbCore(points: Array[(Double, Double)], threshold: Int): Array[(Double, Double)] =
    lttbCoreIndices(points, threshold).map(points)

  /** The selection itself: indices (into the x-sorted input) of the points
   * [[lttbCore]] keeps. Exposed so the selection GEOMETRY — anchors,
   * one-point-per-bucket coverage, in-bucket membership — can be
   * oracle-checked (q_lttb_anchors) even though the sequential
   * area-maximization is not SQL-expressible. */
  def lttbCoreIndices(points: Array[(Double, Double)], threshold: Int): Array[Int] = {
    require(threshold >= 2, s"lttb requires threshold >= 2, got $threshold")
    val n = points.length
    if (threshold >= n) return Array.tabulate(n)(identity)
    val out = new Array[Int](threshold)
    out(0) = 0
    val every = (n - 2).toDouble / (threshold - 2).toDouble
    var a = 0 // index of previously selected point
    var i = 0
    while (i < threshold - 2) {
      // next bucket's centroid (c)
      var cStart = (math.floor((i + 1) * every) + 1).toInt
      var cEnd = (math.floor((i + 2) * every) + 1).toInt
      if (cEnd > n) cEnd = n
      var cx = 0.0; var cy = 0.0
      val cLen = cEnd - cStart
      if (cLen > 0) {
        var j = cStart
        while (j < cEnd) { cx += points(j)._1; cy += points(j)._2; j += 1 }
        cx /= cLen; cy /= cLen
      } else {
        cx = points(n - 1)._1; cy = points(n - 1)._2
      }
      // current bucket range
      val bStart = (math.floor(i * every) + 1).toInt
      val bEnd = math.min((math.floor((i + 1) * every) + 1).toInt, n)
      val (ax, ay) = points(a)
      var maxArea = -1.0
      var maxIdx = bStart
      var j = bStart
      while (j < bEnd) {
        val area = math.abs(
          (ax - cx) * (points(j)._2 - ay) - (ax - points(j)._1) * (cy - ay))
        if (area > maxArea) { maxArea = area; maxIdx = j } // strict > => earliest tie-break
        j += 1
      }
      out(i + 1) = maxIdx
      a = maxIdx
      i += 1
    }
    out(threshold - 1) = n - 1
    out
  }

  /** Static kernel behind the `lttb_select` expression: buffer one
   * series' (x, y) points from an array of 2-double structs, sort by the
   * SAME total (x, y) order the former typed path used (duplicate x
   * values under an x-only sort would leave the selection dependent on
   * the nondeterministic collect order), and run the UNCHANGED
   * [[lttbCoreIndices]] selection. Returns the selected points in output
   * order as {x, y, rank} structs (rank = index in the sorted series),
   * so callers never need the sorted array again. Replaces the
   * `groupByKey.flatMapGroups` formulation, whose Dataset-encoder
   * round-trip per point was the last interpreted hot path in a query
   * (round-8; DownsampleSpec goldens pin the selection bit-for-bit). */
  def lttbSelectKernel(
      a: org.apache.spark.sql.catalyst.util.ArrayData,
      threshold: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    val n = a.numElements()
    val arr = new Array[(Double, Double)](n)
    var i = 0
    while (i < n) {
      require(!a.isNullAt(i), s"lttb_select: null point struct at $i")
      val r = a.getStruct(i, 2)
      require(!r.isNullAt(0) && !r.isNullAt(1), s"lttb_select: null coordinate at $i")
      arr(i) = (r.getDouble(0), r.getDouble(1))
      i += 1
    }
    java.util.Arrays.sort(arr, Ordering.Tuple2[Double, Double])
    val idx = lttbCoreIndices(arr, threshold)
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      idx.map { r =>
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](arr(r)._1, arr(r)._2, r))
      }.asInstanceOf[Array[Any]])
  }

  /** Per-series grouped (key, pts) frame feeding the kernel: one
   * `collect_list` of (x, y) structs per key. Group size is the caller's
   * contract (tier series are retention-bounded; unbounded inputs use
   * [[lttbChunked]]) — the same buffering bound the former
   * `flatMapGroups` shape had. */
  private def seriesPoints(
      df: DataFrame,
      keyCol: String,
      xCol: String,
      yCol: String): DataFrame = {
    df.select(
        col(keyCol).cast("string").as("_k"),
        col(xCol).cast("double").as("_x"),
        col(yCol).cast("double").as("_y"))
      .groupBy(col("_k"))
      .agg(collect_list(struct(col("_x").as("x"), col("_y").as("y"))).as("_pts"))
  }

  /** Distributed LTTB: downsample each series (identified by `keyCol`) to at
   * most `threshold` points. Output columns: (keyCol, xCol, yCol). */
  def lttb(
      spark: SparkSession,
      df: DataFrame,
      keyCol: String,
      xCol: String,
      yCol: String,
      threshold: Int): DataFrame =
    seriesPoints(df, keyCol, xCol, yCol)
      .select(
        col("_k"),
        explode(call("lttb_select", col("_pts"), lit(threshold))).as("_s"))
      .select(
        col("_k").as(keyCol),
        col("_s.x").as(xCol),
        col("_s.y").as(yCol))

  /** [[lttb]] additionally emitting the selection geometry per output
   * point: `sel_pos` (position in the output; 0 and n_out-1 are the
   * first/last anchors, interior position p carries bucket p-1's selected
   * point), `rank` (the point's index in the (x, y)-sorted input) and
   * `n_in` (series length). These are what q_lttb_anchors' SQL oracle
   * checks: anchors == the series min/max, every interior bucket covered
   * exactly once, and each interior rank inside its bucket's range. */
  def lttbIndexed(
      spark: SparkSession,
      df: DataFrame,
      keyCol: String,
      xCol: String,
      yCol: String,
      threshold: Int): DataFrame =
    seriesPoints(df, keyCol, xCol, yCol)
      .select(
        col("_k"),
        size(col("_pts")).as("_n"),
        posexplode(call("lttb_select", col("_pts"), lit(threshold)))
          .as(Seq("_p", "_s")))
      .select(
        col("_k").as(keyCol),
        col("_s.x").as(xCol),
        col("_s.y").as(yCol),
        col("_p").as("sel_pos"),
        col("_s.rank").as("rank"),
        col("_n").as("n_in"))

  /** Two-level LTTB for series whose per-key length is NOT bounded by
   * construction (e.g. raw events with a hot key): level 1 splits each
   * series into rank-ordered chunks of at most `chunkSize` points and
   * LTTB-reduces each chunk to at most `threshold` points (group buffer
   * <= chunkSize by construction); level 2 runs plain LTTB over the
   * level-1 output (<= threshold * ceil(n/chunkSize) points, a
   * chunkSize/threshold-fold reduction per level — apply again for
   * adversarially long keys). For n <= chunkSize the result is IDENTICAL
   * to single-pass [[lttb]] (level 1 is one whole-series chunk and level 2
   * is an identity pass; DownsampleSpec asserts it). */
  def lttbChunked(
      spark: SparkSession,
      df: DataFrame,
      keyCol: String,
      xCol: String,
      yCol: String,
      chunkSize: Int,
      threshold: Int): DataFrame = {
    require(chunkSize > threshold, "chunkSize must exceed threshold for a reduction")
    val level1 = df
      .select(
        col(keyCol).cast("string").as("_k"),
        col(xCol).cast("double").as("_x"),
        col(yCol).cast("double").as("_y"))
      .withColumn(
        "_chunk",
        // (x, y) rank, not x alone: chunk membership must be deterministic
        // under duplicate x values (same reason as the in-chunk sort)
        expr(
          s"CAST((row_number() OVER (PARTITION BY _k ORDER BY _x, _y) - 1) " +
            s"DIV $chunkSize AS INT)"))
      .groupBy(col("_k"), col("_chunk"))
      .agg(collect_list(struct(col("_x").as("x"), col("_y").as("y"))).as("_pts"))
      .select(
        col("_k"),
        explode(call("lttb_select", col("_pts"), lit(threshold))).as("_s"))
      .select(col("_k").as(keyCol), col("_s.x").as(xCol), col("_s.y").as(yCol))
    lttb(spark, level1, keyCol, xCol, yCol, threshold)
  }
}
