package graft.queries

import graft.functions.GraftFunctions.call
import graft.sources.{Parquet, TokenTable}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Codec queries: Gorilla XOR + delta-of-delta round-trips executed INSIDE
 * the Spark plan via the custom Catalyst expressions, verified by exact
 * checksums the SQL oracle recomputes from the uncompressed data — the
 * encode→operate→compare-in-encoded-space gate pattern of the reference
 * (cli/eval_precond_space.py, SURVEY.md §3.3). */
object CodecQueries {

  val q: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Gorilla: token arrays as doubles, encode→decode in-plan, exact
    // integer checksums of the decoded array.
    "q_codec_gorilla_roundtrip" -> ((s, dir) => {
      TokenTable
        .raw(s, dir)
        .withColumn("vals", expr("CAST(tokens AS array<double>)"))
        .withColumn(
          "decoded",
          call("gorilla_decode", call("gorilla_encode", col("vals"))))
        .select(
          col("doc_id"),
          col("source"),
          size(col("decoded")).as("n"),
          // decoded values are EXACT non-negative integer doubles (the
          // codec is lossless), so the quantized kernel sum at scale 1
          // equals the old CAST-to-BIGINT lambda bit-for-bit
          call("arr_sum_q", col("decoded"), lit(1L)).as("sum_v"),
          expr("element_at(decoded, 1)").as("first_v"),
          expr("element_at(decoded, -1)").as("last_v"))
    }),

    // Chimp (VLDB 2022): the alternative XOR float codec — same in-plan
    // encode→decode round-trip gate as Gorilla, same exact checksums.
    "q_codec_chimp_roundtrip" -> ((s, dir) => {
      TokenTable
        .raw(s, dir)
        .withColumn("vals", expr("CAST(tokens AS array<double>)"))
        .withColumn(
          "decoded",
          call("chimp_decode", call("chimp_encode", col("vals"))))
        .select(
          col("doc_id"),
          col("source"),
          size(col("decoded")).as("n"),
          // decoded values are EXACT non-negative integer doubles (the
          // codec is lossless), so the quantized kernel sum at scale 1
          // equals the old CAST-to-BIGINT lambda bit-for-bit
          call("arr_sum_q", col("decoded"), lit(1L)).as("sum_v"),
          expr("element_at(decoded, 1)").as("first_v"),
          expr("element_at(decoded, -1)").as("last_v"))
    }),

    // Delta-of-delta: per-user sorted DISTINCT HOURLY timestamps (epoch
    // micros), encode→decode in-plan, exact checksums. The hourly grain
    // bounds the collected group by retention-span/3600 — a raw-event
    // collect_list would buffer an unbounded hot-user group (round-1
    // scale-killer); at-scale payloads are per-tier-series by design
    // (q_tier_payload is the production shape).
    "q_codec_dod_roundtrip" -> ((s, dir) => {
      Parquet
        .read(s, s"$dir/events.parquet")
        .select(
          col("user_id"),
          unix_micros(date_trunc("hour", col("ts").cast("timestamp"))).as("ts_us"))
        .distinct()
        .groupBy(col("user_id"))
        .agg(sort_array(collect_list(col("ts_us"))).as("ts_arr"))
        .withColumn(
          "decoded",
          call("dod_decode", call("dod_encode", col("ts_arr"))))
        .select(
          col("user_id"),
          size(col("decoded")).as("n_ts"),
          expr("element_at(decoded, 1)").as("first_us"),
          expr("element_at(decoded, -1)").as("last_us"),
          call("arr_sum_mod", col("decoded"), lit(1000000007L)).as("sum_mod"))
    }),

    // Polynomial preconditioning round-trip (the reference's signature
    // invertible recoding): forward(chebyshev d4) then reverse inside the
    // plan; decoded values are integers to <1e-10 so rounding restores the
    // original tokens exactly — checksummed against the raw oracle.
    "q_precond_roundtrip" -> ((s, dir) => {
      TokenTable
        .raw(s, dir)
        .withColumn("vals", expr("CAST(tokens AS array<double>)"))
        .withColumn(
          "rt",
          call(
            "precond_reverse",
            call("precond_forward", col("vals"), lit(4), lit("chebyshev")),
            lit(4),
            lit("chebyshev")))
        .select(
          col("doc_id"),
          col("source"),
          size(col("rt")).as("n"),
          // rt values are integers to <1e-10, never near .5, so
          // floor(x + 0.5) (the scale-1 kernel) == round(x)
          call("arr_sum_q", col("rt"), lit(1L)).as("sum_v"))
    }),

    // Legendre-family round-trip (the second polynomial family,
    // transform/precondition.py:135-174): Legendre monic coefficients are
    // NOT exact binary fractions (thirds/fifths), so the oracle checks the
    // round-trip identity (reverse∘forward == id to <1e-10, rounded back
    // to the exact integer tokens) rather than forward values.
    "q_precond_legendre_roundtrip" -> ((s, dir) => {
      TokenTable
        .raw(s, dir)
        .withColumn("vals", expr("CAST(tokens AS array<double>)"))
        .withColumn(
          "rt",
          call(
            "precond_reverse",
            call("precond_forward", col("vals"), lit(3), lit("legendre")),
            lit(3),
            lit("legendre")))
        .select(
          col("doc_id"),
          col("source"),
          size(col("rt")).as("n"),
          // rt values are integers to <1e-10, never near .5, so
          // floor(x + 0.5) (the scale-1 kernel) == round(x)
          call("arr_sum_q", col("rt"), lit(1L)).as("sum_v"))
    }),

    // Forward preconditioning checked value-by-value against a LAG-based
    // SQL oracle (fixed-point quantized per element, then exact sum — the
    // per-element double arithmetic matches term-for-term in association
    // order; chebyshev d4 coeffs are exact binary fractions [0,-1,0,0.125]).
    "q_precond_forward" -> ((s, dir) => {
      TokenTable
        .raw(s, dir)
        .withColumn("vals", expr("CAST(tokens AS array<double>)"))
        .withColumn("f", call("precond_forward", col("vals"), lit(4), lit("chebyshev")))
        .select(
          col("doc_id"),
          col("source"),
          call("arr_sum_q", col("f"), lit(1000L)).as("sum_q"))
    }),

    // Tier payload compression (FIXTURES.md §2 schema): per (source, bucket)
    // the 1m tier's window/avg series packed as dod/gorilla/chimp blobs,
    // then DECODED again and checksummed — ts as an exact integer sum, the
    // avg series quantized per element (floor(x*1000+0.5), exact since the
    // codecs are lossless) then integer-summed, so the whole encode→decode
    // round trip is reproducible by a plain SQL oracle over the raw points.
    "q_tier_payload" -> ((s, dir) =>
      tierPayload(s, dir).select(
        col("source"),
        col("bucket"),
        col("n_windows"),
        call("arr_sum", call("dod_decode", col("payload_ts")))
          .as("ts_sum_check"),
        call(
          "arr_sum_q",
          call("gorilla_decode", col("payload_values")),
          lit(1000L)).as("values_q_sum"),
        call(
          "arr_sum_q",
          call("chimp_decode", col("payload_values_chimp")),
          lit(1000L)).as("values_q_sum_chimp"))),

    // Decode-with-context window round-trip (precondition.py:436-524
    // `context` param; the REVERSAL_CONTEXT_BUG_FIX.md scenario): recode
    // the FULL series forward, slice out a 16-token window from the middle,
    // and decode it given ONLY the window plus the 4 ORIGINAL-SCALE values
    // immediately preceding it — the consumer shape for decoding one tier
    // window of a precondition-recoded payload without the whole series.
    // Chebyshev d4 coeffs are exact binary fractions, so the decode is
    // bit-exactly the original tokens and the oracle is a plain range sum.
    "q_precond_window_roundtrip" -> ((s, dir) => {
      TokenTable
        .raw(s, dir)
        .filter(col("n_tok") >= 32)
        .withColumn("vals", expr("CAST(tokens AS array<double>)"))
        .withColumn("f", call("precond_forward", col("vals"), lit(4), lit("chebyshev")))
        .withColumn("fs", expr("CAST(n_tok DIV 2 AS INT)")) // >= 4, fs+16 <= n_tok
        .withColumn("win", expr("slice(f, fs + 1, 16)"))
        // original-scale history [fs-4, fs) — NOT the preconditioned values
        .withColumn("hist", expr("slice(vals, fs - 3, 4)"))
        .withColumn(
          "dec",
          call("precond_reverse_ctx", col("win"), lit(4), lit("chebyshev"), col("hist")))
        .select(
          col("doc_id"),
          col("source"),
          col("fs"),
          size(col("dec")).as("w_len"),
          call("arr_sum_q", col("dec"), lit(1000L)).as("win_sum_q"))
    }),

    // Segment compaction (the Gorilla block merge): the same tier series
    // FIRST encoded as 5-minute segments (the streaming sink's
    // accumulation shape), then compacted back to one segment per key
    // and decode-checksummed — the oracle is the one-shot payload's
    // (compaction must be observationally identical to never having
    // segmented at all).
    "q_payload_compact" -> ((s, dir) => {
      import graft.core.Tier
      import graft.operators.{PayloadCompaction, Rollup}
      val segs = Rollup
        .rollupFromPoints(TokenTable.points(s, dir), Tier.OneMinute)
        .groupBy(
          col("source"),
          col("bucket"),
          expr("CAST(window_start DIV 300 AS INT)").as("seg_idx"))
        .agg(
          sort_array(collect_list(struct(col("window_start"), col("avg_tok"))))
            .as("series"))
        .select(
          col("source"),
          col("bucket"),
          col("seg_idx"),
          call(
            "dod_encode",
            expr("CAST(series.window_start AS array<bigint>)")).as("payload_ts"),
          call("gorilla_encode", expr("series.avg_tok"))
            .as("payload_values"),
          call("chimp_encode", expr("series.avg_tok"))
            .as("payload_values_chimp"))
      PayloadCompaction
        .compact(segs)
        .select(
          col("source"),
          col("bucket"),
          col("n_windows"),
          call("arr_sum", call("dod_decode", col("payload_ts")))
            .as("ts_sum_check"),
          call(
            "arr_sum_q",
            call("gorilla_decode", col("payload_values")),
            lit(1000L)).as("values_q_sum"),
          call(
            "arr_sum_q",
            call("chimp_decode", col("payload_values_chimp")),
            lit(1000L)).as("values_q_sum_chimp"))
    }),

    // Engine-specific payload geometry (blob sizes, compression ratio
    // inputs): rows-only by nature — byte counts depend on the bit layout,
    // which no SQL oracle can reproduce. CodecSpec covers the layout.
    "q_tier_payload_sizes" -> ((s, dir) =>
      tierPayload(s, dir).select(
        col("source"),
        col("bucket"),
        col("n_windows"),
        octet_length(col("payload_ts")).as("ts_bytes"),
        octet_length(col("payload_values")).as("values_bytes"),
        // codec bake-off column: chimp vs gorilla on the same series
        octet_length(col("payload_values_chimp")).as("values_bytes_chimp"),
        (col("n_windows") * 8).as("raw_bytes_each")))
  )

  /** Shared encode stage for the two q_tier_payload views: the 1m tier's
   * (window_start, avg_tok) series per (source, bucket) packed as
   * dod/gorilla/chimp blobs. */
  private def tierPayload(s: SparkSession, dir: String): DataFrame = {
    import graft.core.Tier
    import graft.operators.Rollup
    Rollup
      .rollupFromPoints(TokenTable.points(s, dir), Tier.OneMinute)
      .groupBy(col("source"), col("bucket"))
      .agg(
        sort_array(collect_list(struct(col("window_start"), col("avg_tok"))))
          .as("series"))
      .select(
        col("source"),
        col("bucket"),
        size(col("series")).as("n_windows"),
        call(
          "dod_encode",
          expr("CAST(series.window_start AS array<bigint>)")).as("payload_ts"),
        call(
          "gorilla_encode",
          expr("series.avg_tok")).as("payload_values"),
        call(
          "chimp_encode",
          expr("series.avg_tok")).as("payload_values_chimp"))
  }

  /** Shared decode-checksum oracle: q_tier_payload and q_payload_compact
   * must stay in lockstep — compaction is observationally identical to
   * never having segmented. */
  private val tierPayloadOracle: String =
      s"""${TokenRollupQueries.PtsCte},
         |t AS (
         |  SELECT source, CAST(pos // 64 AS INT) AS bucket,
         |         CAST((pos // 60) * 60 AS INT) AS window_start,
         |         CAST(sum(tok) AS BIGINT) AS sum_tok, count(*) AS cnt_tok
         |  FROM pts GROUP BY 1, 2, 3)
         |SELECT source, bucket, CAST(count(*) AS INT) AS n_windows,
         |       CAST(sum(window_start) AS BIGINT) AS ts_sum_check,
         |       CAST(sum(CAST(floor((CAST(sum_tok AS DOUBLE) / CAST(cnt_tok AS DOUBLE))
         |                           * 1000 + 0.5) AS BIGINT)) AS BIGINT) AS values_q_sum,
         |       CAST(sum(CAST(floor((CAST(sum_tok AS DOUBLE) / CAST(cnt_tok AS DOUBLE))
         |                           * 1000 + 0.5) AS BIGINT)) AS BIGINT) AS values_q_sum_chimp
         |FROM t GROUP BY 1, 2""".stripMargin

  val oracle: Map[String, String] = Map(
    "q_codec_gorilla_roundtrip" ->
      s"""${TokenRollupQueries.PtsCte}
         |SELECT CAST(doc_id AS VARCHAR) AS doc_id, source,
         |       CAST(count(*) AS INT) AS n,
         |       CAST(sum(tok) AS BIGINT) AS sum_v,
         |       CAST(min(CASE WHEN pos = 0 THEN tok END) AS DOUBLE) AS first_v,
         |       CAST(max(CASE WHEN pos = nn - 1 THEN tok END) AS DOUBLE) AS last_v
         |FROM (SELECT p.*, count(*) OVER (PARTITION BY doc_id) AS nn FROM pts p)
         |GROUP BY 1, 2""".stripMargin,
    "q_codec_chimp_roundtrip" ->
      s"""${TokenRollupQueries.PtsCte}
         |SELECT CAST(doc_id AS VARCHAR) AS doc_id, source,
         |       CAST(count(*) AS INT) AS n,
         |       CAST(sum(tok) AS BIGINT) AS sum_v,
         |       CAST(min(CASE WHEN pos = 0 THEN tok END) AS DOUBLE) AS first_v,
         |       CAST(max(CASE WHEN pos = nn - 1 THEN tok END) AS DOUBLE) AS last_v
         |FROM (SELECT p.*, count(*) OVER (PARTITION BY doc_id) AS nn FROM pts p)
         |GROUP BY 1, 2""".stripMargin,
    "q_codec_dod_roundtrip" ->
      """WITH h AS (
        |  SELECT DISTINCT user_id, epoch_us(date_trunc('hour', ts)) AS h_us FROM events)
        |SELECT user_id, CAST(count(*) AS INT) AS n_ts,
        |       min(h_us) AS first_us, max(h_us) AS last_us,
        |       CAST(sum(h_us % 1000000007) AS BIGINT) AS sum_mod
        |FROM h GROUP BY 1""".stripMargin,
    "q_precond_roundtrip" ->
      s"""${TokenRollupQueries.PtsCte}
         |SELECT CAST(doc_id AS VARCHAR) AS doc_id, source,
         |       CAST(count(*) AS INT) AS n,
         |       CAST(sum(tok) AS BIGINT) AS sum_v
         |FROM pts GROUP BY 1, 2""".stripMargin,
    "q_precond_legendre_roundtrip" ->
      s"""${TokenRollupQueries.PtsCte}
         |SELECT CAST(doc_id AS VARCHAR) AS doc_id, source,
         |       CAST(count(*) AS INT) AS n,
         |       CAST(sum(tok) AS BIGINT) AS sum_v
         |FROM pts GROUP BY 1, 2""".stripMargin,
    "q_precond_forward" ->
      s"""${TokenRollupQueries.PtsCte},
         |f AS (
         |  SELECT doc_id, source,
         |         CASE WHEN pos >= 4 THEN
         |           CAST(tok AS DOUBLE) +
         |           (0.0 * CAST(lag(tok, 1) OVER w AS DOUBLE)
         |            + (-1.0) * CAST(lag(tok, 2) OVER w AS DOUBLE)
         |            + 0.0 * CAST(lag(tok, 3) OVER w AS DOUBLE)
         |            + 0.125 * CAST(lag(tok, 4) OVER w AS DOUBLE))
         |         ELSE CAST(tok AS DOUBLE) END AS y
         |  FROM pts
         |  WINDOW w AS (PARTITION BY doc_id ORDER BY pos))
         |SELECT CAST(doc_id AS VARCHAR) AS doc_id, source,
         |       CAST(sum(CAST(floor(y * 1000 + 0.5) AS BIGINT)) AS BIGINT) AS sum_q
         |FROM f GROUP BY 1, 2""".stripMargin,
    // Window decode with context == the original tokens over [fs, fs+16)
    // — the oracle never sees the codec, only the raw range sum.
    "q_precond_window_roundtrip" ->
      s"""${TokenRollupQueries.PtsCte},
         |d AS (SELECT p.*, count(*) OVER (PARTITION BY doc_id) AS nn FROM pts p)
         |SELECT CAST(doc_id AS VARCHAR) AS doc_id, source,
         |       CAST(nn // 2 AS INT) AS fs,
         |       CAST(count(*) AS INT) AS w_len,
         |       CAST(sum(tok) * 1000 AS BIGINT) AS win_sum_q
         |FROM d
         |WHERE nn >= 32 AND pos >= nn // 2 AND pos < nn // 2 + 16
         |GROUP BY doc_id, source, nn""".stripMargin,
    // The decoded-payload checksums are plain tier math: the codecs are
    // lossless, so decode(encode(avg series)) quantizes to exactly the
    // per-window floor(avg*1000+0.5) recomputed here from raw points.
    "q_tier_payload" -> tierPayloadOracle,
    "q_payload_compact" -> tierPayloadOracle
    // q_tier_payload_sizes: rows-only (engine-specific blob byte counts);
    // the bit layouts are covered by CodecSpec properties.
  )
}
