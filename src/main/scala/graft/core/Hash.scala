package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{coalesce, count, lit, sum, xxhash64}

/** Shared hashing: the 64-bit mixing primitive and the content
 * fingerprint every exactly-once commit keys on. */
object Hash {

  /** The SplitMix64 finalizer (public constants — Steele/Lea/Flood 2014;
   * Vigna). Single definition used by both the MinHash permutation family
   * (operators/Dedup) and the sampler streams (core/Samplers) so the two
   * can never silently diverge. */
  def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Content fingerprint of `df` over `cols`: (row count, Σ xxhash64(cols)
   * in plain decimal digits), one aggregate pass. The sum is
   * order-independent, so equal row multisets fingerprint equally under
   * any partitioning; it rides DECIMAL(38,0) because a BIGINT sum of 64-bit
   * hashes overflows (and ANSI mode rightly throws) at any real row count.
   * An empty frame is (0, "0"). Keys the streaming sinks' batch commits
   * and the sketch and dedup delta jobs. */
  def contentFingerprint(df: DataFrame, cols: Column*): (Long, String) = {
    val r = df
      .agg(
        count(lit(1)),
        coalesce(sum(xxhash64(cols: _*).cast("decimal(38,0)")), lit(0).cast("decimal(38,0)")))
      .head()
    (r.getLong(0), r.getDecimal(1).toBigInteger.toString)
  }
}
