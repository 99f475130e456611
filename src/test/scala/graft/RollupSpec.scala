package graft

import graft.core.Tier
import graft.operators.Rollup
import graft.sources.TokenTable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Rollup tier ladder: correctness vs a naive in-memory oracle, cascade
 * consistency, and the raw-tier token-array-equality invariant
 * (FIXTURES.md §6). Descendant of the reference's manual-loop verification
 * discipline (test_forward_reverse_correctness.py). */
class RollupSpec extends SparkSpec {

  private val dir = sf("sf0.001")

  /** Naive oracle: tokens recomputed in plain Scala from the documents
   * table, aggregated with mutable maps (no Spark). */
  private def naiveTier(w: Int): Map[(String, Int, Int), (Int, Int, Long, Long)] = {
    val docs = spark.read
      .parquet(s"$dir/documents.parquet")
      .select("doc_id", "source", "n_chars")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2).toInt))
    val acc = scala.collection.mutable.Map
      .empty[(String, Int, Int), (Int, Int, Long, Long)]
    for ((d, src, n) <- docs; p <- 0 until n) {
      val tok = (((d + 1) * 2654435761L + p * 40503L) % 50257L).toInt
      val key = (src, p / 64, (p / w) * w)
      val (mn, mx, s, c) =
        acc.getOrElse(key, (Int.MaxValue, Int.MinValue, 0L, 0L))
      acc(key) = (math.min(mn, tok), math.max(mx, tok), s + tok, c + 1)
    }
    acc.toMap
  }

  test("raw tier token-array equality invariant (per-row checksum)") {
    val raw = TokenTable.raw(spark, dir)
    val rows = raw
      .select(col("doc_id"), col("tokens"), col("n_tok"))
      .collect()
    assert(rows.length == 500)
    rows.foreach { r =>
      val d = r.getString(0).toLong
      val toks = r.getSeq[Int](1)
      val n = r.getInt(2)
      assert(toks.length == n)
      toks.zipWithIndex.foreach { case (t, p) =>
        assert(t == (((d + 1) * 2654435761L + p * 40503L) % 50257L).toInt)
      }
    }
  }

  test("1m rollup matches naive oracle exactly") {
    val got = Rollup
      .rollupFromPoints(TokenTable.points(spark, dir), Tier.OneMinute)
      .collect()
      .map(r =>
        (r.getString(0), r.getInt(1), r.getInt(3)) ->
          (r.getInt(4), r.getInt(5), r.getLong(6), r.getLong(7)))
      .toMap
    val want = naiveTier(60)
    assert(got == want)
  }

  test("tier ladder cascade == direct rollup from points, per tier") {
    val points = TokenTable.points(spark, dir).cache()
    val ladder = Rollup.ladder(points)
    for ((tier, _) <- Tier.ladder.drop(1)) {
      val cascade = ladder(tier).collect().map(_.toSeq).toSet
      val direct =
        Rollup.rollupFromPoints(points, tier).collect().map(_.toSeq).toSet
      assert(cascade == direct, s"tier $tier cascade != direct")
    }
    points.unpersist()
  }

  test("bit-exact across parallelism levels (local stand-in for N vs 4N)") {
    // Same input, different shuffle partitioning — results must be
    // identical because all tier aggregates are exact integers.
    val p1 = Rollup
      .rollupFromPoints(
        TokenTable.points(spark, dir).repartition(2),
        Tier.OneHour)
      .collect()
      .map(_.toSeq)
      .toSet
    val p2 = Rollup
      .rollupFromPoints(
        TokenTable.points(spark, dir).repartition(16),
        Tier.OneHour)
      .collect()
      .map(_.toSeq)
      .toSet
    assert(p1 == p2)
  }

  test("mergeLate == full recompute under disjoint splits (incl. empty and all-late)") {
    val points = TokenTable.points(spark, dir).cache()
    val full = Rollup
      .rollupFromPoints(points, Tier.OneMinute)
      .collect()
      .map(_.toSeq)
      .toSet
    // splits exercising: scattered late points, entirely-late windows,
    // an empty delta, and a fully-late corpus (empty base tier)
    val splits = Seq(
      expr("pos % 7 = 3"), // scattered: most windows partially late
      expr("(pos DIV 60) % 4 = 1"), // entire windows late (new rows)
      lit(false), // empty delta: merge must be identity
      lit(true) // everything late: base tier is empty
    )
    // bit-exact at any parallelism: the default session, one and seven
    // shuffle partitions, and AQE off
    val sessions = Seq(
      Seq.empty[(String, String)],
      Seq("spark.sql.shuffle.partitions" -> "1"),
      Seq("spark.sql.shuffle.partitions" -> "7"),
      Seq("spark.sql.adaptive.enabled" -> "false"))
    for (confs <- sessions; lateCond <- splits) withConfs(confs: _*) {
      val base = Rollup.rollupFromPoints(points.filter(!lateCond), Tier.OneMinute)
      val merged = Rollup
        .mergeLate(base, points.filter(lateCond), Tier.OneMinute)
        .collect()
        .map(_.toSeq)
        .toSet
      assert(merged == full, s"mergeLate != full recompute for split $lateCond under $confs")
    }
    points.unpersist()
  }

  test("mergeLate guard fires before broadcasting an oversized delta") {
    val points = TokenTable.points(spark, dir)
    val base = Rollup.rollupFromPoints(points.limit(0), Tier.OneMinute)
    // the guard runs when the fold executes: building the fold runs no
    // job, and its action fails with the diagnosis
    val merged = Rollup.mergeLate(base, points, Tier.OneMinute, maxAffectedWindows = 10L)
    val e = causeOf[IllegalArgumentException](intercept[Exception](merged.collect()))
    assert(e.getMessage.contains("full re-rollup"), e.getMessage)
  }

  test("epoch-domain hardening: maintenance chain exact over BIGINT window_starts > 2^31") {
    // Round-7 VERDICT #8: the round-6 fixes removed INT casts / float
    // division on window keys in the tier-MAINTENANCE operators (which
    // accept externally built tiers keyed by epoch seconds); lock that in
    // with keys past the 32-bit boundary. Only the point kernel emits INT
    // window_start (Tier.windowStart: its domain is token position,
    // bounded by doc length); the chain under test is the epoch-capable
    // surface: reaggregate / remerge (window truncation), expire /
    // safeExpire (coverage key arithmetic), consecutiveBreaches (island
    // DIV), counterRate (spacing), gapFill (spine + LOCF).
    import spark.implicits._
    val D = 4299955200L // 49768 days * 86400, > 2^31
    val Dm1 = D - 86400L
    val D2 = D + 86400L

    // reaggregate / remerge: epoch-hour state cascades to 1d keeping the
    // BIGINT key, exact across the 2^31 boundary
    def hourState(rows: (Long, Int, Int, Long, Long, Long)*) =
      rows
        .map { case (w, mn, mx, s, c, sq) => ("src0", 0, w, mn, mx, s, c, sq) }
        .toDF("source", "bucket", "window_start", "min_tok", "max_tok", "sum_tok", "cnt_tok", "sumsq_tok")
    def tierRows(df: DataFrame) =
      df.select("window_start", "min_tok", "max_tok", "sum_tok", "cnt_tok")
        .collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3), r.getLong(4)))
        .toSet
    val hours = hourState(
      (Dm1 + 3600L, 4, 9, 13L, 2L, 97L),
      (D, 1, 5, 6L, 2L, 26L),
      (D + 3600L, 2, 7, 9L, 2L, 53L),
      (D + 82800L, 3, 3, 3L, 1L, 9L))
    val days = Rollup.reaggregate(hours, Tier.OneDay)
    val wantDays = Set((Dm1, 4, 9, 13L, 2L), (D, 1, 7, 18L, 5L))
    assert(tierRows(days) == wantDays, tierRows(days))
    assert(days.schema("window_start").dataType == org.apache.spark.sql.types.LongType, days.schema)
    val lateHour = hourState((D2 + 7200L, 8, 8, 8L, 1L, 64L), (D + 7200L, 0, 0, 0L, 1L, 0L))
    assert(
      tierRows(Rollup.remerge(days, lateHour, Tier.OneDay)) ==
        Set((Dm1, 4, 9, 13L, 2L), (D, 0, 7, 18L, 6L), (D2, 8, 8, 8L, 1L)))

    // safeExpire: hours of day D are covered by the coarse 1d row at D
    // and expire; the hour in day Dm1 has no coverage and is retained
    // loudly; hours >= the horizon D2 live
    val fine = Seq(
      ("src0", 0, Dm1 + 3600L, 7L),
      ("src0", 0, D, 10L),
      ("src0", 0, D + 3600L, 11L),
      ("src0", 0, D2, 12L),
      ("src0", 0, D2 + 3600L, 13L))
      .toDF("source", "bucket", "window_start", "sum_tok")
    val coarse = Seq(("src0", 0, D, 21L)).toDF("source", "bucket", "window_start", "sum_tok")
    val kept = graft.operators.Retention
      .safeExpire(fine, coarse, Tier.OneDay, horizonStart = D2)
      .select("window_start", "retained_uncovered")
      .collect()
      .map(r => (r.getLong(0), r.getBoolean(1)))
      .toSet
    assert(kept == Set((Dm1 + 3600L, true), (D2, false), (D2 + 3600L, false)), kept)

    // consecutiveBreaches: adjacency via window_start DIV width must hold
    // across the 2^31 boundary — two adjacent breaches run, an isolated
    // one is filtered at k=2
    val alerts = graft.operators.SeriesAnalytics
      .consecutiveBreaches(
        Seq(
          ("src0", 0, D, 100.0),
          ("src0", 0, D + 3600L, 101.0),
          ("src0", 0, D + 7200L, 1.0),
          ("src0", 0, D + 10800L, 102.0))
          .toDF("source", "bucket", "window_start", "avg_tok"),
        "avg_tok",
        threshold = 50.0,
        k = 2,
        windowWidth = 3600)
      .select("window_start", "run_len")
      .collect()
      .map(r => (r.getLong(0), r.getInt(1)))
      .toSet
    assert(alerts == Set((D, 2), (D + 3600L, 2)), alerts)

    // counterRate: increase and actual-spacing rate exact at epoch keys,
    // reset branch included
    val rates = graft.operators.SeriesAnalytics
      .counterRate(
        Seq(
          ("src0", 0, D, 10L),
          ("src0", 0, D + 3600L, 25L),
          ("src0", 0, D + 10800L, 5L))
          .toDF("source", "bucket", "window_start", "sum_tok"),
        "sum_tok")
      .select("window_start", "increase", "rate_per_unit")
      .collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
      .toSet
    assert(rates == Set((D, -1L), (D + 3600L, 15L), (D + 10800L, 5L)), rates)

    // gapFill: dense epoch-hour spine + LOCF across the 2^31 boundary
    val filled = graft.operators.GapFill
      .gapFill(
        Seq((1L, D, 4.0, 2L), (1L, D + 7200L, 6.0, 3L))
          .toDF("user_id", "hour_start", "sum_v", "cnt"),
        keys = Seq("user_id"),
        windowCol = "hour_start",
        width = 3600L,
        fillCols = Seq("sum_v"),
        zeroCols = Map("cnt" -> lit(0L)))
      .select("hour_start", "sum_v", "cnt")
      .collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
      .toSet
    assert(
      filled == Set((D, 4.0, 2L), (D + 3600L, 4.0, 0L), (D + 7200L, 6.0, 3L)),
      filled)
  }

  test("mergeLate folds a nondeterministic late slice exactly once") {
    // the guard and the fold read one materialized delta, so a slice that
    // a second derivation could redraw is counted into the tier once
    val points = TokenTable.points(spark, dir)
    val base = Rollup.rollupFromPoints(points, Tier.OneMinute)
    val slice = points.filter(rand(17) < 0.3)
    val folded = slice.count()
    assert(folded > 0)
    def total(df: DataFrame): Long = df.agg(sum(col("cnt_tok"))).first().getLong(0)
    assert(total(Rollup.mergeLate(base, slice, Tier.OneMinute)) == total(base) + folded)
  }
}
