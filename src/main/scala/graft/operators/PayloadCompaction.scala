package graft.operators

import graft.functions.GraftFunctions.call
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Payload-segment compaction — the maintenance half of the Gorilla
 * block store (VLDB'15 §4.1: many short in-flow blocks are later merged
 * into fewer long ones). A table of per-(source, bucket) encoded
 * SEGMENTS — the shape the streaming codecPayloadSink accumulates, one
 * segment per finalized batch — is decoded, stitched in canonical TIME
 * order, and re-encoded as ONE segment per key.
 *
 * Lossless and canonical: the codecs are deterministic and the stitch
 * sorts by timestamp, so compacting segments of a series — in ANY
 * segment arrival order, out-of-order backfill blocks included —
 * produces byte-identical payloads to encoding the whole sorted series
 * in one shot (asserted in CodecSpec), and decoding the compacted
 * payload recovers exactly the union of the segment decodes (the
 * q_payload_compact oracle).
 *
 * Scale shape: explode + one keyed aggregation over the PAYLOAD table,
 * which is |keys| x |segments| rows — orders of magnitude below the
 * point count; the stitched series per key is bounded by the same
 * per-key window count the one-shot batch encoder materializes.
 */
object PayloadCompaction {

  /** Input schema: (source, bucket, payload_ts, payload_values, ...) —
   * one row per segment, extra columns (seg_idx etc.) ignored; output
   * matches the one-shot payload table: (source, bucket, n_windows,
   * payload_ts, payload_values, payload_values_chimp). */
  def compact(segments: DataFrame): DataFrame = {
    segments
      .select(
        col("source"),
        col("bucket"),
        call("dod_decode", col("payload_ts")).as("ws"),
        call("gorilla_decode", col("payload_values")).as("vs"))
      .select(
        col("source"),
        col("bucket"),
        posexplode(expr("arrays_zip(ws, vs)")).as(Seq("i", "p")))
      // canonical TIME order, not segment order: an out-of-order segment
      // (a backfilled block appended after the fact — the late-data case
      // mergeLate embraces) still compacts to the same bytes as encoding
      // the whole sorted series one-shot
      .groupBy(col("source"), col("bucket"))
      .agg(
        sort_array(collect_list(struct(col("p.ws").as("w"), col("p.vs").as("v"))))
          .as("series"))
      .select(
        col("source"),
        col("bucket"),
        size(col("series")).as("n_windows"),
        call("dod_encode", expr("CAST(series.w AS array<bigint>)"))
          .as("payload_ts"),
        call("gorilla_encode", expr("series.v")).as("payload_values"),
        call("chimp_encode", expr("series.v")).as("payload_values_chimp"))
  }
}
