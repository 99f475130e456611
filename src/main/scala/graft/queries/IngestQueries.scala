package graft.queries

import graft.core.Tier
import graft.functions.GraftFunctions.call
import graft.operators.Rollup
import graft.sources.{Parquet, SimpleIngest, TokenTable}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Ingestion-shape queries (SimpleDatasetBuilder, data/builder/simple.py):
 * the long→series fold and the wide→long melt, each checksummed exactly. */
object IngestQueries {

  val q: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Long frame -> one series row per item (_from_long_dataframe,
    // simple.py:40-87): the position-weighted quantized checksum proves
    // the TIME ORDER of the folded series, not just its multiset.
    "q_ingest_long" -> ((s, dir) => {
      SimpleIngest
        .longToSeries(
          Parquet
            .read(s, s"$dir/events.parquet")
            .select(
              col("user_id"),
              // ts is TIMESTAMP_NTZ in the fixture; the session is pinned
              // to UTC, so the cast is the identity wall-clock reading
              // (matching DuckDB's epoch_us on the naive timestamp)
              unix_micros(col("ts").cast("timestamp")).as("ts_us"),
              col("event_id"),
              col("value")),
          itemCol = "user_id",
          orderCols = Seq(col("ts_us"), col("event_id")),
          valueCol = col("value"))
        .select(
          col("user_id"),
          size(col("series")).as("n_obs"),
          expr("element_at(series, 1).o0").as("first_us"),
          expr("element_at(series, -1).o0").as("last_us"),
          // 1-based position-weighted quantized checksum over the folded
          // values; `series.value` is a codegen'd array-of-struct field
          // extraction, the kernel replaces the interpreted zip_with/
          // aggregate lambda (round-3 verdict hot path).
          call("arr_pos_weighted_sum_q", col("series.value"), lit(100L), lit(1L))
            .as("vq_pos_sum"))
    }),

    // Wide frame -> long (_from_wide_dataframe, simple.py:90-137): the 1h
    // tier pivoted wide (one column per source) then melted back — the
    // round trip must reproduce the tier slice exactly (pivot ∘ unpivot
    // == identity on present cells), and unpivot is a zero-shuffle
    // row-local generator.
    "q_ingest_wide" -> ((s, dir) => {
      val wide = Rollup
        .rollupFromPoints(TokenTable.points(s, dir), Tier.OneHour)
        .groupBy(col("bucket"), col("window_start"))
        .pivot("source", TokenTable.FixtureSources)
        .agg(sum(col("sum_tok")))
      SimpleIngest.wideToLong(
        wide,
        idCols = Seq("bucket", "window_start"),
        itemCols = TokenTable.FixtureSources,
        itemName = "source",
        valueName = "sum_tok")
    })
  )

  val oracle: Map[String, String] = Map(
    "q_ingest_long" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, event_id, value,
        |         row_number() OVER (PARTITION BY user_id
        |                            ORDER BY epoch_us(ts), event_id, value) AS rn,
        |         count(*) OVER (PARTITION BY user_id) AS n
        |  FROM events)
        |SELECT user_id, CAST(max(n) AS INT) AS n_obs,
        |       CAST(min(CASE WHEN rn = 1 THEN ts_us END) AS BIGINT) AS first_us,
        |       CAST(max(CASE WHEN rn = n THEN ts_us END) AS BIGINT) AS last_us,
        |       CAST(sum(rn * CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |         AS vq_pos_sum
        |FROM e GROUP BY 1""".stripMargin,
    "q_ingest_wide" ->
      s"""${TokenRollupQueries.PtsCte}
         |SELECT CAST(pos // 64 AS INT) AS bucket,
         |       CAST((pos // 3600) * 3600 AS INT) AS window_start,
         |       source,
         |       CAST(sum(tok) AS BIGINT) AS sum_tok
         |FROM pts GROUP BY 1, 2, 3""".stripMargin
  )
}
