package graft

import graft.operators.{AsOfJoin, GapFill, Sessionize}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** Boundary semantics the SQL oracle can't easily isolate: leading gaps,
 * series-boundary isolation, as-of tie handling, session edges. */
class TimeSeriesOpsSpec extends SparkSpec {

  import scala.jdk.CollectionConverters._
  private def df(rows: Seq[Row], schema: String) =
    spark.createDataFrame(
      rows.asJava,
      org.apache.spark.sql.types.StructType.fromDDL(schema))

  test("gapFill: LOCF fills interior gaps, leading gap stays null, zero default applies") {
    val obs = df(
      Seq(
        Row("a", 0L, null, 1L), // leading null value (observed but null)
        Row("a", 120L, 5.0, 2L),
        Row("a", 300L, 7.0, 1L),
        Row("b", 60L, 9.0, 1L)),
      "k STRING, w BIGINT, v DOUBLE, c BIGINT")
    val got = GapFill
      .gapFill(obs, Seq("k"), "w", 60L, Seq("v"), Map("c" -> lit(0L)))
      .orderBy("k", "w")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), Option(r.get(2)), r.getLong(3)))
    val want = Array(
      ("a", 0L, None, 1L), // leading: nothing to carry
      ("a", 60L, None, 0L), // spine row, still nothing observed
      ("a", 120L, Some(5.0), 2L),
      ("a", 180L, Some(5.0), 0L), // LOCF
      ("a", 240L, Some(5.0), 0L), // LOCF
      ("a", 300L, Some(7.0), 1L),
      ("b", 60L, Some(9.0), 1L)) // fill never crosses key boundary
    assert(got.toSeq == want.toSeq)
  }

  private def rowsOf(d: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
    d.collect().map(_.toSeq).toSet

  /** Every gap-fill strategy over `obs` (k, w, v, c) at width 60: LOCF
   * with zero-filled `c`, causal mean, linear. */
  private def strategies(obs: org.apache.spark.sql.DataFrame) = (
    rowsOf(GapFill.gapFill(obs, Seq("k"), "w", 60L, Seq("v"), Map("c" -> lit(0L)))),
    rowsOf(GapFill.gapFillCausalMean(obs, Seq("k"), "w", 60L, "v", "c")),
    rowsOf(GapFill.linearInterpolate(obs, Seq("k"), "w", 60L, "v")))

  test("gapFill, causal mean, linear: a null key is one more series") {
    val obs = df(
      Seq(Row(null, 0L, 10L, 2L), Row(null, 180L, 40L, 1L), Row("a", 60L, 7L, 1L)),
      "k STRING, w BIGINT, v BIGINT, c BIGINT")
    val (locf, causal, linear) = strategies(obs)
    assert(locf == Set(
      Seq(null, 0L, 10L, 2L),
      Seq(null, 60L, 10L, 0L),
      Seq(null, 120L, 10L, 0L),
      Seq(null, 180L, 40L, 1L),
      Seq("a", 60L, 7L, 1L)))
    assert(causal == Set(
      Seq(null, 0L, 10L, 2L, 5.0),
      Seq(null, 60L, null, 0L, 5.0), // observed mean so far: 10 / 2
      Seq(null, 120L, null, 0L, 5.0),
      Seq(null, 180L, 40L, 1L, 40.0),
      Seq("a", 60L, 7L, 1L, 7.0)))
    assert(linear == Set(
      Seq(null, 0L, 10L, 2L, 10000L, false),
      Seq(null, 60L, null, null, 20000L, true), // 10 -> 40 over 180
      Seq(null, 120L, null, null, 30000L, true),
      Seq(null, 180L, 40L, 1L, 40000L, false),
      Seq("a", 60L, 7L, 1L, 7000L, false)))
  }

  test("gapFill, causal mean, linear: an off-grid observation is kept and steps from its own window") {
    // 90 is off the 60-wide grid of 0 and 180: the stream's rule emits
    // 60 after 0 and 150 after 90 (StreamingOps.gapFillStream)
    val obs = df(
      Seq(Row("a", 0L, 10L, 1L), Row("a", 90L, 20L, 1L), Row("a", 180L, 50L, 1L)),
      "k STRING, w BIGINT, v BIGINT, c BIGINT")
    val (locf, causal, linear) = strategies(obs)
    assert(locf == Set(
      Seq("a", 0L, 10L, 1L),
      Seq("a", 60L, 10L, 0L),
      Seq("a", 90L, 20L, 1L),
      Seq("a", 150L, 20L, 0L),
      Seq("a", 180L, 50L, 1L)))
    assert(causal == Set(
      Seq("a", 0L, 10L, 1L, 10.0),
      Seq("a", 60L, null, 0L, 10.0),
      Seq("a", 90L, 20L, 1L, 20.0),
      Seq("a", 150L, null, 0L, 15.0), // (10 + 20) / 2
      Seq("a", 180L, 50L, 1L, 50.0)))
    assert(linear == Set(
      Seq("a", 0L, 10L, 1L, 10000L, false),
      Seq("a", 60L, null, null, 16666L, true), // 10000 + 10000 * 60 DIV 90
      Seq("a", 90L, 20L, 1L, 20000L, false),
      Seq("a", 150L, null, null, 40000L, true), // 20000 + 30000 * 60 DIV 90
      Seq("a", 180L, 50L, 1L, 50000L, false)))
  }

  test("differential: the gap-fill queries agree at 1 and 7 shuffle partitions and with AQE off") {
    for (name <- Seq(
        "q_gapfill_tier", "q_gapfill_causal", "q_gapfill_const", "q_gapfill_linear", "q_gapfill_hourly")) {
      def run() = countHash(SparkEntry.queries(name)(spark, sf("sf0.001")))
      val base = run()
      assert(base._1 > 0, name)
      for (confs <- Seq(
          Seq("spark.sql.shuffle.partitions" -> "1"),
          Seq("spark.sql.shuffle.partitions" -> "7"),
          Seq("spark.sql.adaptive.enabled" -> "false")))
        assert(withConfs(confs: _*)(run()) == base, s"$name $confs")
    }
  }

  test("asOf: at-or-before semantics, exact-tie takes right row, no match -> null") {
    val left = df(
      Seq(Row(1L, "u", 100L), Row(2L, "u", 50L), Row(3L, "v", 10L)),
      "id BIGINT, k STRING, t BIGINT")
    val right = df(
      Seq(Row("u", 100L, 1.5), Row("u", 60L, 2.5), Row("w", 1L, 9.9)),
      "k STRING, rt BIGINT, pay DOUBLE")
    val got = AsOfJoin
      .asOf(left, right, Seq("k"), "t", "rt", Seq("pay"))
      .orderBy("id")
      .collect()
      .map(r => (r.getLong(0), Option(r.get(3))))
    assert(
      got.toSeq == Seq(
        (1L, Some(1.5)), // tie at t=100 takes the t=100 right row
        (2L, None), // only right rows at 60,100 > 50
        (3L, None))) // key v has no right rows at all
  }

  test("asOf tieBreak: an explicit sequence column controls equal-time right-row ties") {
    // two right rows tied on (k, rt=100): default picks the MAX payload
    // struct; a seq tieBreak picks the max SEQ row (pandas merge_asof's
    // last-occurrence rule with seq = input position)
    val left = df(Seq(Row(1L, "u", 100L)), "id BIGINT, k STRING, t BIGINT")
    val right = df(
      Seq(Row("u", 100L, 9.9, 1L), Row("u", 100L, 1.1, 2L)),
      "k STRING, rt BIGINT, pay DOUBLE, seq BIGINT")
    def run(tb: Seq[String]) = AsOfJoin
      .asOf(left, right, Seq("k"), "t", "rt", Seq("pay", "seq"), tieBreak = tb)
      .collect()(0)
    assert(run(Nil).getDouble(3) == 9.9) // max-payload default
    assert(run(Seq("seq")).getDouble(3) == 1.1) // seq=2 row wins
    assert(intercept[IllegalArgumentException](run(Seq("nope"))).getMessage.contains("tieBreak"))
  }

  test("sessionize: gap exactly equal to threshold does NOT split") {
    val ev = df(
      Seq(Row("u", 0L), Row("u", 100L), Row("u", 201L), Row("x", 5L)),
      "k STRING, t BIGINT")
    val got = Sessionize
      .assignSessions(ev, Seq("k"), "t", 100L)
      .orderBy("k", "t")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(
      got.toSeq == Seq(
        ("u", 0L, 0L),
        ("u", 100L, 0L), // gap == 100 -> same session
        ("u", 201L, 1L), // gap == 101 > 100 -> new session
        ("x", 5L, 0L)))
  }
}
