package graft

import graft.core.Tier
import graft.operators.{Dedup, Downsample, GapFill, Rollup}
import graft.sources.TokenTable
import org.apache.spark.sql.functions._

/** One end-to-end chain through the engine — documents → dedup → token
 * table → tier ladder → gap-fill → downsample → compressed payload —
 * asserting a conservation invariant at every stage boundary. This is the
 * "a user could run their whole pipeline on this" test, not a per-operator
 * one. */
class PipelineE2ESpec extends SparkSpec {

  test("documents → dedup → rollup → gap-fill → LTTB → codec payload, invariants at every stage") {
    val dir = sf("sf0.001")
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val nDocs = docs.count()

    // 1. exact dedup: representatives' group sizes cover the corpus
    val kept = Dedup.exactDedup(docs, "doc_id", "text")
    assert(kept.agg(sum("group_size")).collect()(0).getLong(0) == nDocs)

    // 2. token table restricted to kept docs; token mass must equal the
    // arithmetic formula's total over kept docs
    val keptIds = kept.select(col("doc_id"))
    val raw = TokenTable.raw(spark, dir).join(keptIds, "doc_id")
    val points = TokenTable
      .points(spark, dir)
      .join(keptIds.select(col("doc_id").cast("bigint").as("doc_id")), "doc_id")
    val tokSumRaw = raw
      .select(expr("aggregate(tokens, 0L, (a, x) -> a + x)").as("s"))
      .agg(sum("s")).collect()(0).getLong(0)
    val tokSumPts = points.agg(sum(col("tok").cast("long"))).collect()(0).getLong(0)
    assert(tokSumRaw == tokSumPts)

    // 3. tier ladder: every tier conserves sum and count exactly
    val ladder = Rollup.ladder(points)
    val cnt = points.count()
    for ((tier, df) <- ladder) {
      val r = df.agg(sum("sum_tok"), sum("cnt_tok")).collect()(0)
      assert(r.getLong(0) == tokSumPts, s"tier $tier sum drift")
      assert(r.getLong(1) == cnt, s"tier $tier count drift")
    }

    // 4. gap-fill of the (dense) 1m tier is an identity on observed rows
    val t1m = ladder(Tier.OneMinute)
    val filled = GapFill.gapFill(
      t1m.select("source", "bucket", "window_start", "avg_tok", "cnt_tok"),
      keys = Seq("source", "bucket"),
      windowCol = "window_start",
      width = 60L,
      fillCols = Seq("avg_tok"),
      zeroCols = Map("cnt_tok" -> lit(0L)))
    assert(filled.count() == t1m.count()) // dense input: spine adds nothing
    assert(filled.filter(col("cnt_tok") === 0).count() == 0)

    // 5. causal-mean fill on the same dense tier is also an identity
    val causal = GapFill.gapFillCausalMean(
      t1m.select("source", "bucket", "window_start", "sum_tok", "cnt_tok"),
      keys = Seq("source", "bucket"),
      windowCol = "window_start",
      width = 60L,
      sumCol = "sum_tok",
      cntCol = "cnt_tok")
    val drift = causal
      .withColumn("own", col("sum_tok").cast("double") / col("cnt_tok").cast("double"))
      .filter(col("avg_filled") =!= col("own"))
      .count()
    assert(drift == 0, "causal fill must not rewrite observed windows")

    // 6. LTTB over each (source, bucket) tier series keeps endpoints
    val ds = Downsample.lttb(
      spark,
      t1m.select(
        concat(col("source"), lit(":"), col("bucket")).as("k"),
        col("window_start").cast("double").as("x"),
        col("avg_tok").as("y")),
      "k", "x", "y", 5)
    val perKey = ds.groupBy("k").agg(count(lit(1)).as("n"), min("x").as("x0"), max("x").as("x1"))
    val ext = t1m
      .groupBy(concat(col("source"), lit(":"), col("bucket")).as("k"))
      .agg(min(col("window_start").cast("double")).as("w0"), max(col("window_start").cast("double")).as("w1"))
    val bad = perKey
      .join(ext, "k")
      .filter(col("n") > 5 || col("x0") =!= col("w0") || col("x1") =!= col("w1"))
      .count()
    assert(bad == 0, "LTTB must keep first/last and respect the threshold")

    // 7. payload codecs round-trip the tier series bit-exactly in-plan
    val payloadDrift = t1m
      .groupBy(col("source"), col("bucket"))
      .agg(sort_array(collect_list(struct(col("window_start"), col("avg_tok")))).as("series"))
      .select(
        expr("transform(series, s -> s.avg_tok)").as("vals"),
        expr("transform(series, s -> CAST(s.window_start AS BIGINT))").as("ts"))
      .filter(
        expr("gorilla_decode(gorilla_encode(vals)) != vals") ||
          expr("chimp_decode(chimp_encode(vals)) != vals") ||
          expr("dod_decode(dod_encode(ts)) != ts"))
      .count()
    assert(payloadDrift == 0, "codec round-trips must be exact on tier payloads")
  }

  test("tier lifecycle: rollup → late merge → compact-then-expire → alerts, invariants chained") {
    import graft.operators.{Retention, SeriesAnalytics}
    val dir = sf("sf0.001")
    val points = TokenTable.points(spark, dir).cache()

    // 1. ingest with a late slice held back, then reconcile: the merged
    // tier must bit-equal the never-split rollup
    val lateCond = expr("(pos DIV 60) % 7 = 2")
    val base = Rollup.rollupFromPoints(points.filter(!lateCond), Tier.OneMinute)
    val t1m = Rollup.mergeLate(base, points.filter(lateCond), Tier.OneMinute)
    val full = Rollup.rollupFromPoints(points, Tier.OneMinute)
    assert(
      t1m.collect().map(_.toSeq).toSet == full.collect().map(_.toSeq).toSet,
      "merged tier != one-shot rollup")

    // 2. cascade + compact-then-expire: survivors and coarse rows
    // together still conserve the exact point mass
    val t5m = Rollup.reaggregate(t1m, Tier.FiveMinutes)
    val horizon = 300L
    val survivors = Retention.safeExpire(t1m, t5m, Tier.FiveMinutes, horizon)
    val coarseMass = t5m
      .filter(col("window_start") < horizon)
      .agg(coalesce(sum("sum_tok"), lit(0L)), coalesce(sum("cnt_tok"), lit(0L)))
      .collect()(0)
    val survivorMass = survivors
      .agg(
        coalesce(sum(when(!col("retained_uncovered"), col("sum_tok"))), lit(0L)),
        coalesce(sum(when(!col("retained_uncovered"), col("cnt_tok"))), lit(0L)),
        coalesce(sum(when(col("retained_uncovered"), col("sum_tok"))), lit(0L)))
      .collect()(0)
    val totalMass = points.agg(sum(col("tok").cast("long")), count(lit(1))).collect()(0)
    // fully-covered expiry: (covered coarse mass before horizon) +
    // (surviving fine rows >= horizon) == everything; uncovered retained
    // rows are the lag remainder — here the cascade is complete, so none
    assert(survivorMass.getLong(2) == 0L, "complete cascade must not retain uncovered")
    assert(
      coarseMass.getLong(0) + survivorMass.getLong(0) == totalMass.getLong(0),
      "expire lost token mass")
    assert(
      coarseMass.getLong(1) + survivorMass.getLong(1) == totalMass.getLong(1),
      "expire lost points")

    // 3. alerting runs over the SURVIVING tier: every alert row is a
    // genuine >= 2-adjacent-window breach verifiable against the tier
    val alerts = SeriesAnalytics
      .consecutiveBreaches(survivors.filter(!col("retained_uncovered")).drop("retained_uncovered"), "avg_tok", 25200.0, 2, 60)
      .collect()
    val tierMap = survivors
      .filter(!col("retained_uncovered"))
      .select("source", "bucket", "window_start", "avg_tok")
      .collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2)) -> r.getDouble(3))
      .toMap
    alerts.foreach { a =>
      val key = (a.getString(0), a.getInt(1), a.getInt(2))
      assert(tierMap(key) > 25200.0, s"alert row not a breach: $key")
      // an adjacent breaching neighbor must exist (run length >= 2)
      val prev = (key._1, key._2, key._3 - 60)
      val next = (key._1, key._2, key._3 + 60)
      assert(
        tierMap.get(prev).exists(_ > 25200.0) || tierMap.get(next).exists(_ > 25200.0),
        s"alert row has no adjacent breach: $key")
    }
    points.unpersist()
  }

  test("builder → pad → patchify → precondition window decode, invariants at every stage") {
    val dir = sf("sf0.001")
    import graft.operators.PadResample
    import graft.sources.UnionBuilder

    // 1. weighted union of two slices with weight 1.0 each == plain union
    val raw = TokenTable.raw(spark, dir)
    val even = raw.filter(expr("CAST(doc_id AS BIGINT) % 2 = 0"))
    val odd = raw.filter(expr("CAST(doc_id AS BIGINT) % 2 = 1"))
    val unioned = UnionBuilder.load(
      Seq(
        "even" -> UnionBuilder.Source(even, "tok", 1.0),
        "odd" -> UnionBuilder.Source(odd, "tok", 1.0)),
      Map.empty,
      idCol = "doc_id")
    assert(unioned.count() == raw.count(), "weight-1.0 union must preserve cardinality")

    // 2. pad to a multiple-of-64 frame: data mass is conserved, only
    // NULLs are added, and every padded series meets the minimum
    val minLen = 256
    val padded = PadResample.padTo(unioned, "tokens", "doc_id", lit(minLen), "frame")
    val padStats = padded
      .select(
        expr("size(frame)").as("flen"),
        expr("aggregate(filter(frame, x -> x IS NOT NULL), 0L, (a, x) -> a + x)").as("dsum"),
        expr("aggregate(tokens, 0L, (a, x) -> a + x)").as("tsum"))
    assert(padStats.filter(col("flen") < minLen).count() == 0)
    assert(padStats.filter(col("dsum") =!= col("tsum")).count() == 0, "padding must not touch data")

    // 3. forward-precondition the full series, slice ANY interior window,
    // decode it with only 4 original values of context — exact recovery
    val winDrift = unioned
      .filter(col("n_tok") >= 40)
      .withColumn("vals", expr("transform(tokens, x -> CAST(x AS DOUBLE))"))
      .withColumn("f", expr("precond_forward(vals, 4, 'chebyshev')"))
      .withColumn("fs", expr("CAST(n_tok DIV 3 + 4 AS INT)")) // interior, >= 4
      .withColumn("w", expr("slice(f, fs + 1, LEAST(16, n_tok - fs))"))
      .withColumn("hist", expr("slice(vals, fs - 3, 4)"))
      .withColumn("dec", expr("precond_reverse_ctx(w, 4, 'chebyshev', hist)"))
      .filter(expr("dec != slice(vals, fs + 1, LEAST(16, n_tok - fs))"))
      .count()
    assert(winDrift == 0, "context window decode must be exact on integer-valued series")
  }
}
