package graft

import graft.functions.{DeltaOfDelta, GorillaCodec}
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** Codec round-trip properties — descendant of the reference's
 * forward/reverse invertibility suite
 * (test_forward_reverse_correctness.py:11-60), strengthened to exact
 * bit-pattern equality. */
class CodecSpec extends AnyFunSuite {

  private def check(p: Prop, name: String): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), p)
    assert(res.passed, s"$name: $res")
  }

  private def bits(xs: Array[Double]) =
    xs.map(java.lang.Double.doubleToRawLongBits).toSeq

  test("gorilla: round-trip is bit-exact for arbitrary doubles (incl. NaN/Inf/±0/denormals)") {
    val special = Gen.oneOf(
      0.0, -0.0, Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity,
      Double.MinPositiveValue, Double.MaxValue, Double.MinValue, 1.0, -1.0)
    val anyD = Gen.frequency(
      3 -> Gen.chooseNum(-1e12, 1e12),
      1 -> special,
      1 -> Gen.chooseNum(Long.MinValue, Long.MaxValue).map(java.lang.Double.longBitsToDouble))
    val arr = Gen.containerOf[Array, Double](anyD)
    check(
      Prop.forAll(arr) { xs =>
        bits(GorillaCodec.decode(GorillaCodec.encode(xs))) == bits(xs)
      },
      "gorilla roundtrip")
  }

  test("gorilla: slowly-varying series round-trip + compresses well") {
    val walk = (0 until 2000).scanLeft(1000.0)((v, i) => v + (i % 7 - 3) * 0.25).toArray
    val enc = GorillaCodec.encode(walk)
    assert(bits(GorillaCodec.decode(enc)) == bits(walk))
    assert(enc.length < walk.length * 8 / 2, s"expected >2x compression, got ${enc.length} vs ${walk.length * 8}")
    // constant series: ~1 bit/value
    val const = Array.fill(1000)(42.42)
    val encC = GorillaCodec.encode(const)
    assert(bits(GorillaCodec.decode(encC)) == bits(const))
    assert(encC.length < 200)
  }

  test("gorilla: edge cases — empty, single, two identical, alternating extremes") {
    for (
      xs <- Seq(
        Array.empty[Double],
        Array(3.14),
        Array(5.0, 5.0),
        Array(Double.MaxValue, Double.MinPositiveValue, -0.0, Double.NaN))
    ) assert(bits(GorillaCodec.decode(GorillaCodec.encode(xs))) == bits(xs))
  }

  test("chimp: round-trip is bit-exact for arbitrary doubles (incl. NaN/Inf/±0/denormals)") {
    import graft.functions.ChimpCodec
    val special = Gen.oneOf(
      0.0, -0.0, Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity,
      Double.MinPositiveValue, Double.MaxValue, Double.MinValue, 1.0, -1.0)
    val anyD = Gen.frequency(
      3 -> Gen.chooseNum(-1e12, 1e12),
      1 -> special,
      1 -> Gen.chooseNum(Long.MinValue, Long.MaxValue).map(java.lang.Double.longBitsToDouble))
    val arr = Gen.containerOf[Array, Double](anyD)
    check(
      Prop.forAll(arr) { xs =>
        bits(ChimpCodec.decode(ChimpCodec.encode(xs))) == bits(xs)
      },
      "chimp roundtrip")
  }

  test("chimp: slowly-varying series round-trip; compresses at least as well as needed") {
    import graft.functions.ChimpCodec
    val walk = (0 until 2000).scanLeft(1000.0)((v, i) => v + (i % 7 - 3) * 0.25).toArray
    val enc = ChimpCodec.encode(walk)
    assert(bits(ChimpCodec.decode(enc)) == bits(walk))
    assert(enc.length < walk.length * 8 / 2, s"expected >2x compression, got ${enc.length}")
    val const = Array.fill(1000)(42.42)
    val encC = ChimpCodec.encode(const)
    assert(bits(ChimpCodec.decode(encC)) == bits(const))
    assert(encC.length < 300) // 2 bits/value + header
    for (
      xs <- Seq(
        Array.empty[Double],
        Array(3.14),
        Array(5.0, 5.0),
        Array(Double.MaxValue, Double.MinPositiveValue, -0.0, Double.NaN))
    ) assert(bits(ChimpCodec.decode(ChimpCodec.encode(xs))) == bits(xs))
  }

  test("dod: round-trip exact for jittered monotone timestamp spines") {
    val spine = for {
      start <- Gen.chooseNum(0L, 1800000000000000L)
      step <- Gen.chooseNum(1L, 3600000000L)
      n <- Gen.chooseNum(0, 500)
      jit <- Gen.containerOfN[Array, Long](n, Gen.chooseNum(-1000000L, 1000000L))
    } yield jit.zipWithIndex.map { case (j, i) => start + i * step + j }
    check(
      Prop.forAll(spine) { ts =>
        DeltaOfDelta.decode(DeltaOfDelta.encode(ts)).toSeq == ts.toSeq
      },
      "dod roundtrip")
  }

  test("dod: edge cases — empty, single, constant, duplicates, negative times, big jumps") {
    for (
      ts <- Seq(
        Array.empty[Long],
        Array(1704067200000000L),
        Array.fill(100)(7L),
        Array(1L, 1L, 1L, 2L, 2L, 100L),
        Array(-5000L, -100L, 0L, 1L),
        Array(0L, 1L << 40, 2L, 1L << 50))
    ) assert(DeltaOfDelta.decode(DeltaOfDelta.encode(ts)).toSeq == ts.toSeq)
  }

  test("dod: regular spine compresses to ~1 bit per point") {
    val ts = Array.tabulate(10000)(i => 1704067200000000L + i * 60000000L)
    val enc = DeltaOfDelta.encode(ts)
    assert(DeltaOfDelta.decode(enc).toSeq == ts.toSeq)
    assert(enc.length < 10000 / 4, s"got ${enc.length} bytes for 10k points")
  }
}

/** Expression-level round-trip through a real Spark plan. */
class CodecExpressionSpec extends SparkSpec {
  test("catalyst expressions round-trip inside a SQL plan") {
    val n = spark
      .sql("""SELECT count(*) AS bad FROM (
        |  SELECT id, transform(sequence(0, CAST(id % 50 AS INT) + 1),
        |                        p -> CAST(p AS DOUBLE) * 1.5 + id) AS vals,
        |         transform(sequence(0, CAST(id % 50 AS INT) + 1),
        |                   p -> CAST(p AS BIGINT) * 1000000 + id * 7) AS ts
        |  FROM range(500))
        |WHERE gorilla_decode(gorilla_encode(vals)) != vals
        |   OR dod_decode(dod_encode(ts)) != ts""".stripMargin)
      .collect()(0)
      .getLong(0)
    assert(n == 0)
  }

  test("payload compaction == one-shot encode, byte-for-byte") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // one key, 12 windows split into three 4-window segments — with the
    // LAST time block arriving as segment 0 (an out-of-order backfill):
    // compaction must stitch in TIME order regardless of segment order
    val series = Seq.tabulate(12)(i => (i * 60L, 100.0 + i * 0.25))
    val segs = series
      .grouped(4)
      .toSeq
      .reverse
      .zipWithIndex
      .flatMap { case (chunk, si) => chunk.map { case (w, v) => ("a", 0, si, w, v) } }
      .toDF("source", "bucket", "seg_idx", "w", "v")
      .groupBy($"source", $"bucket", $"seg_idx")
      .agg(sort_array(collect_list(struct($"w", $"v"))).as("series"))
      .select(
        $"source",
        $"bucket",
        $"seg_idx",
        call_function("dod_encode", expr("CAST(series.w AS array<bigint>)")).as("payload_ts"),
        call_function("gorilla_encode", expr("series.v")).as("payload_values"),
        call_function("chimp_encode", expr("series.v")).as("payload_values_chimp"))
    val compacted = graft.operators.PayloadCompaction.compact(segs).collect()
    assert(compacted.length == 1)
    val row = compacted(0)
    val oneShot = Seq(("a", 0))
      .toDF("source", "bucket")
      .select(
        call_function(
          "dod_encode",
          typedLit(series.map(_._1)).cast("array<bigint>")).as("payload_ts"),
        call_function("gorilla_encode", typedLit(series.map(_._2))).as("payload_values"),
        call_function("chimp_encode", typedLit(series.map(_._2))).as("payload_values_chimp"))
      .collect()(0)
    assert(row.getAs[Int]("n_windows") == 12)
    assert(
      row.getAs[Array[Byte]]("payload_ts").toSeq ==
        oneShot.getAs[Array[Byte]]("payload_ts").toSeq)
    assert(
      row.getAs[Array[Byte]]("payload_values").toSeq ==
        oneShot.getAs[Array[Byte]]("payload_values").toSeq)
    assert(
      row.getAs[Array[Byte]]("payload_values_chimp").toSeq ==
        oneShot.getAs[Array[Byte]]("payload_values_chimp").toSeq)
  }
}
