package graft.queries

import graft.functions.GraftFunctions.call
import graft.operators.PadResample
import graft.sources.{Parquet, TokenTable}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Padding + rate-resampling queries (transform/pad.py, transform/
 * resample.py — see operators/PadResample). Outputs are exact-integer
 * checksums over the transformed arrays: sizes, null counts, first-data
 * positions, and position-weighted sums, all reproducible by plain SQL
 * over the raw points. */
object ResampleQueries {

  /** Per-source minimum length for the PadFreq query: the freq ->
   * min-length map keyed by source parity (even sources are the "hourly"
   * fixture, odd the "minutely" one). */
  private val FreqMinSql =
    "CASE WHEN CAST(substring(source, 4) AS INT) % 2 = 0 THEN 400 ELSE 800 END"

  // Checksums via the typed array kernels (ArrayExpressions.scala), not
  // SQL HOF lambdas — those evaluate interpreted per element and were the
  // round-3 verdict's flagged hot path.
  private def padChecks(df: DataFrame): DataFrame = {
    df.select(
      col("doc_id"),
      col("source"),
      size(col("padded")).as("padded_len"),
      call("arr_null_count", col("padded")).as("n_nulls"),
      call("arr_first_data_pos", col("padded")).as("first_data_pos"),
      call("arr_sum", col("padded")).as("data_sum"))
  }

  val q: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Pad to a fixed minimum length (pad.py:26-50), deterministic
    // front/back split.
    "q_pad_min" -> ((s, dir) =>
      padChecks(
        PadResample.padTo(TokenTable.raw(s, dir), "tokens", "doc_id", lit(600), "padded"))),

    // PadFreq (pad.py:53-81): the minimum comes from a per-series freq map.
    "q_pad_freq" -> ((s, dir) =>
      padChecks(
        PadResample
          .padTo(TokenTable.raw(s, dir), "tokens", "doc_id", expr(FreqMinSql), "padded"))),

    // EvalPad (pad.py:84-108): fixed context/prediction pads.
    "q_eval_pad" -> ((s, dir) =>
      padChecks(
        PadResample.evalPad(TokenTable.raw(s, dir), "tokens", 7, 5, "padded"))),

    // Subsample: every 3rd element (resample.py:71-76).
    "q_subsample" -> ((s, dir) =>
      PadResample
        .subsample(TokenTable.raw(s, dir), "tokens", 3, "sub")
        .select(
          col("doc_id"),
          col("source"),
          size(col("sub")).as("n_sub"),
          call("arr_sum", col("sub")).as("sum_sub"))),

    // GaussianFilterSubsample: binomial [1,2,1] blur (x4, exact integers)
    // then every 3rd element (resample.py:79-84).
    "q_gauss_subsample" -> ((s, dir) =>
      PadResample
        .gaussianSubsample(TokenTable.raw(s, dir), "tokens", 3, "gsub")
        .select(
          col("doc_id"),
          col("source"),
          size(col("gsub")).as("n_sub"),
          call("arr_sum", col("gsub")).as("sum_blur4"))),

    // PatchCrop (crop.py:30-108): the random patch-aligned training-window
    // sampler with its three variates (offset / num_patches / first) drawn
    // deterministically — P=64, min 2 / max 8 patches; the crop checksum
    // is a raw range sum the oracle recomputes from the same derivation.
    "q_patch_crop" -> ((s, dir) => {
      graft.operators.Crop
        .patchCrop(
          TokenTable.raw(s, dir),
          idCol = "doc_id",
          arrCol = "tokens",
          lenCol = "n_tok",
          patchSize = 64,
          minTimePatches = 2,
          maxPatches = 8)
        .select(
          col("doc_id"),
          col("source"),
          col("num_patches"),
          col("first_patch"),
          col("crop_start").cast("int").as("crop_start"),
          size(col("crop")).as("crop_len"),
          call("arr_sum", col("crop")).as("crop_sum"))
    }),

    // AddVariateIndex (feature.py:26-71): each exploded variate gets a
    // distinct id in [0, 128) via a deterministic affine permutation per
    // vector (the reference's optional randomized permutation, made
    // reproducible), dims capped at max_dim=128.
    "q_variate_index" -> ((s, dir) =>
      graft.operators.Reshape
        .addVariateIndex(
          Parquet
            .read(s, s"$dir/embeddings.parquet")
            .select(col("vec_id"), col("label"), posexplode(col("embedding")).as(Seq("d", "x"))),
          idCol = "vec_id",
          dimCol = "d",
          maxDim = 128,
          out = "variate_id")
        .select(
          col("vec_id"),
          col("label"),
          col("d"),
          col("variate_id"),
          expr("CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)").as("x_q"))),

    // Upsample: repeat each element twice (resample.py:94-96); the
    // position-weighted checksum proves the interleaving order, not just
    // the multiset (tok at raw pos p lands at 2p and 2p+1).
    "q_upsample" -> ((s, dir) =>
      PadResample
        .upsample(TokenTable.raw(s, dir), "tokens", 2, "up")
        .select(
          col("doc_id"),
          col("source"),
          size(col("up")).as("n_up"),
          call("arr_pos_weighted_sum", col("up"), lit(0L))
            .as("pos_weighted_sum")))
  )

  val oracle: Map[String, String] = Map(
    "q_pad_min" -> padOracle("600"),
    "q_pad_freq" -> padOracle(FreqMinSql),
    "q_eval_pad" ->
      s"""${TokenRollupQueries.PtsCte}
         |SELECT CAST(doc_id AS VARCHAR) AS doc_id, source,
         |       CAST(count(*) + 12 AS INT) AS padded_len,
         |       CAST(12 AS INT) AS n_nulls,
         |       CAST(8 AS BIGINT) AS first_data_pos,
         |       CAST(sum(tok) AS BIGINT) AS data_sum
         |FROM pts GROUP BY 1, 2""".stripMargin,
    "q_subsample" ->
      s"""${TokenRollupQueries.PtsCte}
         |SELECT CAST(doc_id AS VARCHAR) AS doc_id, source,
         |       CAST(count(*) FILTER (WHERE pos % 3 = 0) AS INT) AS n_sub,
         |       CAST(sum(tok) FILTER (WHERE pos % 3 = 0) AS BIGINT) AS sum_sub
         |FROM pts GROUP BY 1, 2""".stripMargin,
    "q_gauss_subsample" ->
      s"""${TokenRollupQueries.PtsCte},
         |b AS (
         |  SELECT doc_id, source, pos,
         |         coalesce(lag(tok) OVER w, tok)
         |           + 2 * CAST(tok AS BIGINT)
         |           + coalesce(lead(tok) OVER w, tok) AS blur4
         |  FROM pts WINDOW w AS (PARTITION BY doc_id ORDER BY pos))
         |SELECT CAST(doc_id AS VARCHAR) AS doc_id, source,
         |       CAST(count(*) FILTER (WHERE pos % 3 = 0) AS INT) AS n_sub,
         |       CAST(sum(blur4) FILTER (WHERE pos % 3 = 0) AS BIGINT) AS sum_blur4
         |FROM b GROUP BY 1, 2""".stripMargin,
    "q_patch_crop" ->
      s"""${TokenRollupQueries.PtsCte},
         |d AS (
         |  SELECT doc_id, source, n_chars AS n,
         |         (doc_id % 1000000000) * 2654435761 % 1000000007 AS h
         |  FROM documents WHERE n_chars >= 1),
         |p AS (
         |  SELECT doc_id, source, n, h, CAST(h % (n % 64 + 1) AS INT) AS off,
         |         CAST((n - CAST(h % (n % 64 + 1) AS INT)) // 64 AS INT) AS total
         |  FROM d),
         |r AS (SELECT *, LEAST(8, total) AS maxp FROM p WHERE LEAST(8, total) >= 2),
         |w AS (
         |  SELECT doc_id, source, off, total,
         |         CAST(2 + (h // 7) % (maxp - 1) AS INT) AS num_patches, h
         |  FROM r),
         |x AS (
         |  SELECT doc_id, source, off, num_patches,
         |         CAST((h // 49) % (total - num_patches + 1) AS INT) AS first_patch
         |  FROM w)
         |SELECT CAST(x.doc_id AS VARCHAR) AS doc_id, x.source, x.num_patches,
         |       x.first_patch,
         |       CAST(x.off + x.first_patch * 64 AS INT) AS crop_start,
         |       CAST(x.num_patches * 64 AS INT) AS crop_len,
         |       CAST(sum(pts.tok) AS BIGINT) AS crop_sum
         |FROM x JOIN pts ON pts.doc_id = x.doc_id
         |    AND pts.pos >= x.off + x.first_patch * 64
         |    AND pts.pos < x.off + (x.first_patch + x.num_patches) * 64
         |GROUP BY 1, 2, 3, 4, 5, 6""".stripMargin,
    "q_variate_index" ->
      """WITH e AS (
        |  SELECT vec_id, label, CAST(t.i AS INT) - 1 AS d,
        |         CAST(emb[t.i] AS DOUBLE) AS x
        |  FROM (SELECT vec_id, label, embedding AS emb FROM embeddings),
        |       LATERAL (SELECT unnest(range(1, len(emb) + 1)) AS i) t)
        |SELECT vec_id, label, d,
        |       CAST(((2 * ((((vec_id % 1000000007) * 2654435761) % 1000000007) % 64) + 1) * d
        |             + ((((vec_id % 1000000007) * 2654435761) % 1000000007) // 64) % 128) % 128 AS INT)
        |         AS variate_id,
        |       CAST(floor(x * 1000 + 0.5) AS BIGINT) AS x_q
        |FROM e""".stripMargin,
    "q_upsample" ->
      s"""${TokenRollupQueries.PtsCte}
         |SELECT CAST(doc_id AS VARCHAR) AS doc_id, source,
         |       CAST(2 * count(*) AS INT) AS n_up,
         |       CAST(sum(CAST(tok AS BIGINT) * (4 * pos + 1)) AS BIGINT)
         |         AS pos_weighted_sum
         |FROM pts GROUP BY 1, 2""".stripMargin
  )

  /** Oracle twin of padTo + padChecks for a given min-length SQL expr:
   * need = max(minLen - n, 0), front = hash(doc_id) mod (need + 1),
   * first data position = front + 1, data sum = the raw token sum. */
  private def padOracle(minLenSql: String): String =
    s"""${TokenRollupQueries.PtsCte},
       |d AS (
       |  SELECT doc_id, source, count(*) AS n, CAST(sum(tok) AS BIGINT) AS tok_sum
       |  FROM pts GROUP BY 1, 2),
       |p AS (
       |  SELECT doc_id, source, n, tok_sum,
       |         greatest(($minLenSql) - n, 0) AS need
       |  FROM d)
       |SELECT CAST(doc_id AS VARCHAR) AS doc_id, source,
       |       CAST(n + need AS INT) AS padded_len,
       |       CAST(need AS INT) AS n_nulls,
       |       CAST((((doc_id % 1000000007) * 2654435761) % 1000000007) % (need + 1) + 1 AS BIGINT)
       |         AS first_data_pos,
       |       tok_sum AS data_sum
       |FROM p""".stripMargin
}
