package graft

import graft.core.Tier
import graft.operators.Rollup
import graft.sources.TokenTable
import graft.streaming.StreamingOps
import org.apache.spark.sql.functions._

/** Physical-plan assertions: the properties that keep the engine fast at
 * 100 TB must be visible in the plan, not just hoped for. */
class PlanSpec extends SparkSpec {

  private def planOf(df: org.apache.spark.sql.DataFrame): String = {
    df.collect() // materialize so AQE finalizes the plan
    // keep only the final AQE plan (the Initial Plan section duplicates ops)
    df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
  }

  /** The fan-out-balancing exchange `TokenTable.points(balanceFanout =
   * true)` adds: the pre-explode doc rows hashed on the doc column `d`. */
  private val balancing = """Exchange hashpartitioning\(d#\d+L?, \d+\), REPARTITION_BY_NUM""".r

  /** Plan minus that one balancing exchange, so the assertions below
   * count only the requirement-driven exchanges each operator itself
   * adds. Any other REPARTITION_BY_NUM exchange fails the test. */
  private def opsOnly(plan: String): String = {
    val (balance, ops) = plan.linesIterator.toSeq.partition(l => balancing.findFirstIn(l).isDefined)
    assert(balance.size <= 1, s"more than one fan-out-balancing exchange:\n$plan")
    assert(!ops.exists(_.contains("REPARTITION_BY_NUM")), s"unexpected repartition(n, col):\n$plan")
    ops.mkString("\n")
  }

  test("rollup plan: column pruning reaches the scan; partial aggregation before shuffle") {
    val inputs = Seq(
      "rollupFromPoints" ->
        Rollup.rollupFromPoints(TokenTable.points(spark, sf("sf0.001")), Tier.OneMinute),
      "q_rollup_stats" ->
        graft.queries.TokenRollupQueries.q("q_rollup_stats")(spark, sf("sf0.001")))
    for ((name, df) <- inputs) {
      val plan = planOf(df)
      // text column must be pruned from the parquet scan
      assert(plan.contains("ReadSchema"), s"$name:\n$plan")
      assert(!plan.contains("text"), s"$name: scan must not read the text column")
      // partial (map-side) aggregation before the exchange — the fused
      // tier_stats_decl buffer (one slot, not five; BENCH.md round-7)
      val exchangeIdx = opsOnly(plan).indexOf("Exchange hashpartitioning")
      assert(exchangeIdx > 0, s"$name: expected one hash exchange on the group keys")
      val partialIdx = opsOnly(plan).indexOf("partial_tier_stats_decl")
      assert(partialIdx > exchangeIdx,
        s"$name: expected partial (map-side) fused aggregation below the exchange")
      // the fused path must stay on the codegen HashAggregate, never the
      // interpreted ObjectHashAggregate
      assert(!plan.contains("ObjectHashAggregate"), s"$name:\n$plan")
      // exactly ONE shuffle in the whole rollup (minus fan-out balancing)
      assert("Exchange".r.findAllIn(opsOnly(plan)).size == 1, s"$name: expected 1 exchange:\n$plan")
    }
  }

  test("filter on n_tok is pushed down to the documents scan") {
    val df = spark.read
      .parquet(s"${sf("sf0.001")}/documents.parquet")
      .filter(col("n_chars") > 100)
      .select("doc_id", "source")
    val plan = planOf(df)
    assert(plan.contains("PushedFilters: [IsNotNull(n_chars), GreaterThan(n_chars,100)"), plan)
  }

  test("nation-revenue join plans as broadcast joins, no shuffle join") {
    val df = graft.queries.RelationalQueries.q("q_nation_revenue")(spark, sf("sf0.001"))
    val plan = planOf(df)
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), "dims must broadcast, not sort-merge")
  }

  test("dot_q kernel stays inside whole-stage codegen (no fallback span break)") {
    val df = graft.queries.PipelineQueries.q("q_embed_neardup")(spark, sf("sf0.001"))
    val plan = planOf(df)
    assert(plan.contains("dot_q"), plan)
    // every operator line evaluating dot_q must sit inside a codegen span
    val offending = plan
      .linesIterator
      .filter(l => l.contains("dot_q") && (l.contains("Project") || l.contains("Filter")))
      .filterNot(_.contains("FileScan")) // scan lines echo filters as metadata
      .filterNot(_.replaceAll("^[\\s:+\\-]*", "").startsWith("*("))
      .toList
    assert(offending.isEmpty, s"dot_q outside codegen:\n${offending.mkString("\n")}\n$plan")
  }

  test("codec + precondition expressions stay inside whole-stage codegen") {
    // Round 2 left these as CodegenFallback; a fallback expression breaks
    // the codegen span of EVERY expression in the same projection (the
    // dot_q lesson). Each kernel is bound by KernelCodegen: assert a
    // projection evaluating them keeps the * (codegen) marker.
    val df = spark
      .range(100)
      .selectExpr(
        "transform(sequence(0L, 63L), i -> CAST(i * id AS DOUBLE)) AS vals",
        "sequence(id, id + 63L) AS ts")
      .selectExpr(
        "gorilla_decode(gorilla_encode(vals)) AS g",
        "chimp_decode(chimp_encode(vals)) AS c",
        "dod_decode(dod_encode(ts)) AS d",
        "precond_reverse(precond_forward(vals, 4, 'chebyshev'), 4, 'chebyshev') AS p",
        "precond_reverse_ctx(slice(vals, 5, 16), 4, 'chebyshev', slice(vals, 1, 4)) AS pc")
    val plan = planOf(df)
    val offending = plan
      .linesIterator
      .filter(l =>
        Seq("gorilla_", "chimp_", "dod_", "precond_").exists(l.contains) &&
          l.contains("Project"))
      .filterNot(_.contains("FileScan"))
      .filterNot(_.replaceAll("^[\\s:+\\-]*", "").startsWith("*("))
      .toList
    assert(offending.isEmpty, s"codec expr outside codegen:\n${offending.mkString("\n")}\n$plan")
    // and the GENERATED path must compute the right values, not just run:
    // decode(encode(vals)) == vals and reverse(forward(vals)) == vals, so
    // both sums equal sum(vals) = id * (0+1+...+63) = 2016 * id exactly
    // (chebyshev d4 coeffs are exact binary fractions over exact doubles)
    val wrong = spark
      .range(100)
      .selectExpr("id", "transform(sequence(0L, 63L), i -> CAST(i * id AS DOUBLE)) AS vals")
      .selectExpr(
        "id",
        "aggregate(gorilla_decode(gorilla_encode(vals)), 0D, (a, x) -> a + x) AS sg",
        "aggregate(chimp_decode(chimp_encode(vals)), 0D, (a, x) -> a + x) AS sc",
        "aggregate(precond_reverse(precond_forward(vals, 4, 'chebyshev'), 4, 'chebyshev')," +
          " 0D, (a, x) -> a + x) AS sp")
      .where("sg != 2016.0 * id OR sc != 2016.0 * id OR abs(sp - 2016.0 * id) > 1e-6")
      .count()
    assert(wrong == 0, "generated codec path produced wrong values")
  }

  test("lsh_sig + simhash64 + array kernels stay inside whole-stage codegen") {
    // Round 3 left lsh_sig/simhash64 as the last two CodegenFallback
    // expressions; the array kernels replaced interpreted HOF lambdas.
    // All must keep the projection's * (codegen) span.
    val df = spark
      .range(50)
      .selectExpr(
        "transform(sequence(0L, 15L), i -> CAST(i * (id + 1) AS DOUBLE)) AS v",
        "transform(sequence(0L, 9L), i -> CAST(i * id AS STRING)) AS terms",
        "transform(sequence(0L, 20L), i -> CAST(i * (id + 3) AS INT)) AS a")
      .selectExpr(
        "lsh_sig(v, 8) AS sig",
        "simhash64(terms) AS sh",
        "arr_sum(a) AS s",
        "arr_sum_q(v, 1000) AS sq",
        "arr_null_count(a) AS nc",
        "arr_first_data_pos(a) AS fp",
        "arr_pos_weighted_sum(a, 0) AS pws",
        "arr_pos_weighted_sum_q(v, 100, 1) AS pwsq",
        "arr_sum(arr_every_kth(a, 3)) AS sek",
        "arr_sum(arr_blur4_every_kth(a, 3)) AS sbk",
        "arr_sum(arr_repeat_each(a, 2)) AS sre",
        // the round-5 dedup-chain + checksum kernels
        "arr_sum(shingle_fnv(concat_ws(' ', terms), 3)) AS shf",
        "arr_sum(minhash_sig(shingle_fnv(concat_ws(' ', terms), 3), 16)) AS mhs",
        "arr_sum(lsh_bands(minhash_sig(shingle_fnv(concat_ws(' ', terms), 3), 16), 4)) AS lbs",
        "arr_sorted_inter_size(shingle_fnv(concat_ws(' ', terms), 3), shingle_fnv(concat_ws(' ', terms), 3)) AS sis",
        "arr_sum_mod(a, 97) AS smod",
        "size(bin_frame_sample(CAST(concat_ws(' ', terms) AS BINARY), 8, 2)) AS bfs")
    val plan = planOf(df)
    val offending = plan
      .linesIterator
      .filter(l =>
        Seq("lsh_sig", "simhash64", "arr_sum", "arr_null_count", "arr_first_data_pos",
          "arr_pos_weighted", "arr_every_kth", "arr_blur4", "arr_repeat_each",
          "shingle_fnv", "minhash_sig", "lsh_bands", "arr_sorted_inter_size",
          "arr_sum_mod", "bin_frame_sample")
          .exists(l.contains) && l.contains("Project"))
      .filterNot(_.contains("FileScan"))
      .filterNot(_.replaceAll("^[\\s:+\\-]*", "").startsWith("*("))
      .toList
    assert(offending.isEmpty, s"kernel expr outside codegen:\n${offending.mkString("\n")}\n$plan")
    // the kernels must agree bit-exactly with the SQL HOF formulations
    // they replaced — on the generated path, and again with codegen off,
    // where each kernel runs its interpreted nullSafeEval
    def checkKernels(): Unit = {
      val wrong = spark
        .range(50)
        .selectExpr(
          "id",
          "transform(sequence(0L, 15L), i -> CAST(i * (id + 1) AS DOUBLE)) AS v",
          "transform(sequence(0L, 20L), i -> CAST(i * (id + 3) AS INT)) AS a")
        .selectExpr(
          "arr_sum(a) = aggregate(a, 0L, (acc, x) -> acc + x) AS c1",
          "arr_sum_q(v, 1000) = aggregate(v, 0L, (acc, x) -> acc + CAST(floor(x * 1000 + 0.5) AS BIGINT)) AS c2",
          "arr_pos_weighted_sum(a, 0) = aggregate(zip_with(a, sequence(0L, size(a) - 1), (x, i) -> CAST(x AS BIGINT) * i), 0L, (acc, y) -> acc + y) AS c3",
          "arr_pos_weighted_sum_q(v, 100, 1) = aggregate(zip_with(v, sequence(1L, size(v)), (x, i) -> i * CAST(floor(x * 100 + 0.5) AS BIGINT)), 0L, (acc, y) -> acc + y) AS c4",
          "arr_every_kth(a, 3) = filter(a, (x, i) -> i % 3 = 0) AS c5",
          "arr_sq_err_q_sum(a, CAST(3.7 AS DOUBLE), 10000) = aggregate(a, 0L, (acc, x) -> acc + CAST(floor((CAST(x AS DOUBLE) - 3.7) * (CAST(x AS DOUBLE) - 3.7) * 10000 + 0.5) AS BIGINT)) AS m3",
          "arr_seasonal_abs_sum(a, 7) = aggregate(sequence(7, size(a) - 1), 0L, (acc, t) -> acc + abs(CAST(element_at(a, t + 1) AS BIGINT) - element_at(a, t - 6))) AS m4",
          "arr_interval_penalty_sum(a, 5, 30, 40) = aggregate(a, 0L, (acc, y) -> acc + (30 - 5) + CASE WHEN y < 5 THEN 40L * (5 - y) ELSE 0L END + CASE WHEN y > 30 THEN 40L * (y - 30) ELSE 0L END) AS m5",
          // the fused generator's per-window stats == the kernels and
          // lambdas over the window's slice() (context a[fs-8, fs),
          // horizon a[fs, fs+4); slice() is 1-based)
          "aggregate(transform(eval_window_stats(a, 3, 8, 4, 4, 10000), st -> CAST(" +
            "st.ctx_sum = arr_sum(slice(a, st.fs - 7, 8)) " +
            "AND st.ctx_sumsq = arr_sq_err_q_sum(slice(a, st.fs - 7, 8), CAST(0.0 AS DOUBLE), 1) " +
            "AND st.ctx_min = CAST(array_min(slice(a, st.fs - 7, 8)) AS BIGINT) " +
            "AND st.ctx_max = CAST(array_max(slice(a, st.fs - 7, 8)) AS BIGINT) " +
            "AND st.hor_sum = arr_sum(slice(a, st.fs + 1, 4)) " +
            "AND st.habs = aggregate(slice(a, st.fs + 1, 4), 0L, (acc, x) -> acc + abs(x)) " +
            "AND st.sum_eq = aggregate(slice(a, st.fs + 1, 4), 0L, (acc, x) -> acc + CAST(floor(abs(CAST(x AS DOUBLE) - CAST(st.ctx_sum AS DOUBLE) / 8.0) * 10000 + 0.5) AS BIGINT)) " +
            "AND st.sum_e2q = arr_sq_err_q_sum(slice(a, st.fs + 1, 4), CAST(st.ctx_sum AS DOUBLE) / 8.0, 10000) " +
            "AND st.se_num = arr_seasonal_abs_sum(slice(a, st.fs - 7, 8), 3) " +
            "AS INT)), 0L, (acc, x) -> acc + x) = size(eval_window_stats(a, 3, 8, 4, 4, 10000)) AS r6",
          // the slice generator's windows == the slice() formulation
          "aggregate(transform(window_slices(a, 8, 4, 4), ws -> CAST(ws.ctx = slice(a, ws.fs - 7, 8) AND ws.hor = slice(a, ws.fs + 1, 4) AND ws.fs = 8 + ws.w * 4 AS INT)), 0L, (acc, x) -> acc + x) = size(window_slices(a, 8, 4, 4)) AS r7",
          "size(window_slices(a, 8, 4, 4)) = size(eval_window_stats(a, 3, 8, 4, 4, 10000)) AS r8",
          // end-anchored generator: fs = n - 12 + w*3, 2 windows, ctx 6 / hor 2
          "aggregate(transform(window_slices_end(a, 6, 2, 3, 2, 12), we -> CAST(we.fs = size(a) - 12 + we.w * 3 AND we.ctx = slice(a, we.fs - 5, 6) AND we.hor = slice(a, we.fs + 1, 2) AS INT)), 0L, (acc, x) -> acc + x) = size(window_slices_end(a, 6, 2, 3, 2, 12)) AS r9",
          "size(window_slices_end(a, 6, 2, 3, 2, 12)) = CASE WHEN size(a) >= 18 THEN 2 ELSE 0 END AS r10",
          "arr_blur4_every_kth(a, 3) = filter(transform(a, (x, i) -> CAST(element_at(a, CAST(greatest(i, 1) AS INT)) AS BIGINT) + 2L * x + element_at(a, CAST(least(i + 2, size(a)) AS INT))), (x, i) -> i % 3 = 0) AS c6",
          "arr_repeat_each(a, 2) = flatten(transform(a, x -> array_repeat(x, 2))) AS c7",
          "arr_null_count(a) = size(filter(a, x -> x IS NULL)) AS c8",
          "arr_first_data_pos(a) = CAST(array_position(transform(a, x -> x IS NOT NULL), true) AS BIGINT) AS c9")
        .where("NOT (c1 AND c2 AND c3 AND c4 AND c5 AND c6 AND c7 AND c8 AND c9 " +
          "AND m3 AND m4 AND m5 AND r6 AND r7 AND r8 AND r9 AND r10)")
        .count()
      assert(wrong == 0, "array kernel disagrees with its HOF-SQL formulation")
      // null-handling twins: sums skip nulls, counts/positions see them
      val nulls = spark
        .sql("SELECT array(CAST(NULL AS INT), 5, NULL, 7) AS a")
        .selectExpr(
          "arr_sum(a) AS s", "arr_null_count(a) AS nc",
          "arr_first_data_pos(a) AS fp", "arr_pos_weighted_sum(a, 0) AS pws")
        .collect()(0)
      assert(nulls.getLong(0) == 12L && nulls.getInt(1) == 2 &&
        nulls.getLong(2) == 2L && nulls.getLong(3) == 26L)
    }
    checkKernels()
    withConfs(codegenOff: _*)(checkKernels())
  }

  test("arr_zscore_outliers with z = Infinity compiles inside whole-stage codegen") {
    // literal arguments reach generated code inside the expression object,
    // never as Java source text, so a value with no Java spelling
    // (Infinity) still compiles; no fallback to the interpreted path may
    // hide a compile error
    withConfs("spark.sql.codegen.fallback" -> "false") {
      val df = spark
        .range(20)
        .selectExpr(
          "arr_zscore_outliers(sequence(CAST(id AS INT), CAST(id AS INT) + 9), 4, " +
            "double('Infinity')) AS o")
      val plan = planOf(df)
      val lines = plan.linesIterator.filter(_.contains("arr_zscore_outliers")).toList
      assert(lines.nonEmpty && lines.forall(_.replaceAll("^[\\s:+\\-]*", "").startsWith("*(")), plan)
      // 10 elements in width-4 chunks: 3 counts per row, none above z = Infinity
      val counts = df.collect().map(_.getSeq[Int](0))
      assert(counts.length == 20 && counts.forall(_ == Seq(0, 0, 0)), counts.toSeq)
    }
  }

  test("every graft function computes the same rows with codegen off") {
    // sf0.001 queries whose optimized plans together name every builder;
    // each runs inside whole-stage codegen and again through the
    // interpreted eval, and must give the same (count, hash-sum)
    val queries = Seq(
      "q_payload_compact", "q_codec_dod_roundtrip", "q_decontaminate", "q_dedup_minhash",
      "q_dedup_simhash", "q_simhash_assign", "q_minhash_assign", "q_text_repetition",
      "q_knn_ann", "q_ann_assign", "q_kmv_distinct", "q_eval_msis", "q_eval_nll",
      "q_eval_crop", "q_eval_metrics", "q_eval_extra", "q_eval_pad", "q_anomaly_patch",
      "q_ewma_levels", "q_subsample", "q_gauss_subsample", "q_upsample", "q_ingest_long",
      "q_scaler_absmean", "q_precond_roundtrip", "q_precond_window_roundtrip",
      "q_pack_fields", "q_lttb_events", "q_multimodal_frames")
    // `tier_stats` is the older SQL name of tier_stats_decl (same expression)
    val printedAs = Map("tier_stats" -> "tier_stats_decl")
    val names = graft.functions.GraftFunctions.builders.map(_._1)
    val dir = sf("sf0.001")
    val exercised = queries.flatMap { q =>
      val build = SparkEntry.queries(q)
      val df = build(spark, dir)
      val plan = df.queryExecution.optimizedPlan.toString
      val named = names.filter(n => plan.contains(printedAs.getOrElse(n, n) + "("))
      assert(named.nonEmpty, s"$q names no graft function:\n$plan")
      val generated = countHash(df)
      val interpreted = withConfs(codegenOff: _*)(countHash(build(spark, dir)))
      assert(interpreted == generated, s"$q: codegen off $interpreted, on $generated")
      named
    }.toSet
    val missed = names.filterNot(exercised)
    assert(missed.isEmpty, s"no query here runs: ${missed.mkString(", ")}")
  }

  test("composed train chain: row-local stages, exactly one exchange (the per-patch groupBy)") {
    val df = graft.queries.PipelineQueries.q("q_train_pipeline")(spark, sf("sf0.001"))
    val plan = planOf(df)
    assert(df.count() > 0)
    // impute/patchify/index/mask are all row-local; only the final
    // (doc, patch) aggregation may shuffle — map-side partials first
    assert("Exchange".r.findAllIn(opsOnly(plan)).size == 1, s"expected 1 exchange:\n$plan")
    assert(plan.contains("partial_count") || plan.contains("partial_sum"), plan)
  }

  test("weighted union builder introduces zero exchanges (row-local transforms + plan-level concat)") {
    val df = graft.queries.RelationalQueries.q("q_union_weighted")(spark, sf("sf0.001"))
    val plan = planOf(df)
    assert(df.count() > 0)
    assert(!plan.contains("Exchange"), s"builder must not shuffle:\n$plan")
  }

  test("metric queries: row-local window math, exactly one exchange (on source)") {
    // the whole rolling-window fan-out + per-point loss arithmetic is
    // row-local; only the final per-source reduction may shuffle — at
    // 100 TB the exchange carries one partial-agg row per (source x task)
    for (q <- Seq("q_eval_mape", "q_eval_normalized", "q_eval_mase",
        "q_eval_mase_freq", "q_eval_msis", "q_eval_msis_freq", "q_eval_nll")) {
      val df = graft.queries.MetricQueries.q(q)(spark, sf("sf0.001"))
      val plan = planOf(df)
      val exchanges = "Exchange".r.findAllIn(opsOnly(plan)).size
      assert(exchanges == 1, s"$q: expected 1 exchange, got $exchanges:\n$plan")
    }
  }

  test("q5 six-table join: all dimensions broadcast; only the fact-fact join shuffles") {
    val df = graft.queries.RelationalQueries.q("q5_region_supplier")(spark, sf("sf0.001"))
    val plan = planOf(df)
    // the 4 hinted dimensions always broadcast; at tiny SF, AQE may also
    // broadcast the lineitem⋈orders fact join (correct at that size)
    val broadcasts = "BroadcastHashJoin".r.findAllIn(plan).size
    assert(broadcasts >= 4, s"expected >=4 broadcast joins, got $broadcasts:\n$plan")
    val shuffleJoins =
      "SortMergeJoin".r.findAllIn(plan).size + "ShuffledHashJoin".r.findAllIn(plan).size
    assert(shuffleJoins <= 1, s"at most lineitem⋈orders may shuffle:\n$plan")
  }

  test("source-partitioned tier table: filters become partition pruning at the scan") {
    val tmp = tmpDir("graft-part-").toString
    Rollup
      .rollupFromPoints(TokenTable.points(spark, sf("sf0.001")), Tier.OneMinute)
      .write
      .partitionBy("source")
      .parquet(s"$tmp/tier_1m")
    val df = spark.read
      .parquet(s"$tmp/tier_1m")
      .filter(col("source") === "src1" && col("window_start") >= 60)
      .select("source", "bucket", "window_start", "sum_tok")
    val plan = planOf(df)
    // the source predicate must prune partitions (never scanned), not
    // filter rows; the window predicate pushes into the scan. Attributes
    // print with expr-ids (source#NN), so assert the equality predicate
    // INSIDE the PartitionFilters segment itself.
    val partFilters = plan
      .linesIterator
      .flatMap(l => "PartitionFilters: \\[[^\\]]*\\]".r.findFirstIn(l))
      .mkString(";")
    assert(partFilters.contains("isnotnull(source"), plan)
    assert("\\(source#\\d+ = src1\\)".r.findFirstIn(partFilters).isDefined, plan)
    assert(plan.contains("GreaterThanOrEqual(window_start,60)"), plan)
  }

  test("bucketed tier table reaggregates with ZERO exchanges (co-partitioned cascade)") {
    import graft.jobs.BucketedTiers
    val tmp = tmpDir("graft-bucketed-").toString
    val t1m = Rollup.rollupFromPoints(TokenTable.points(spark, sf("sf0.001")), Tier.OneMinute)
    spark.sql("DROP TABLE IF EXISTS tier_1m_bucketed")
    BucketedTiers.writeBucketed(t1m, "tier_1m_bucketed", s"$tmp/tier_1m", numBuckets = 4)
    val reagg = BucketedTiers.reaggregateFromTable(spark, "tier_1m_bucketed", Tier.FiveMinutes)
    val plan = planOf(reagg)
    // bucketing keys (source, bucket) ⊆ grouping keys ⇒ the aggregation's
    // ClusteredDistribution is already satisfied: no shuffle anywhere
    assert(!plan.contains("Exchange"), s"expected a shuffle-free plan:\n$plan")
    // and the result is bit-exact vs the unbucketed cascade
    val want = Rollup.reaggregate(t1m, Tier.FiveMinutes).collect().map(_.toSeq).toSet
    val got = reagg.collect().map(_.toSeq).toSet
    assert(got == want)
  }

  test("AQE splits a skewed shuffle join (skew=true reaches the final plan)") {
    // The engine's runtime skew story: beyond the explicit salted rollup
    // (JobSpec), shuffle JOINS on Zipf keys rely on AQE's skew-join split.
    // Prove the machinery engages: one hot key carrying ~100x the bytes of
    // the median partition must be split (the join prints skew=true).
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.autoBroadcastJoinThreshold").map(k => k -> conf.getOption(k))
    try {
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force a shuffle join
      // payload is xxhash64(id): incompressible, so the hot partition's
      // SHUFFLE BYTES (what skew detection measures) actually exceed the
      // threshold — constant/sequential columns LZ4 away to almost nothing
      val hot = spark.range(300000).select(lit(0L).as("k"), xxhash64(col("id")).as("lv"))
      val cold = spark
        .range(3000)
        .select((col("id") % 64 + 1).as("k"), xxhash64(col("id")).as("lv"))
      val left = hot.unionByName(cold)
      val right = spark.range(2000).select((col("id") % 65).as("k"), xxhash64(col("id")).as("rv"))
      // global (keyless) aggregate downstream: a keyed aggregate would pin
      // the join's output partitioning and make AQE decline the split
      val joined = left
        .join(right, "k")
        .agg(
          count(lit(1)).as("n"),
          // mask to 28 bits: full xxhash64 sums overflow Long under ANSI
          sum(col("lv").bitwiseAND(lit(0xfffffffL))).as("sl"),
          sum(col("rv").bitwiseAND(lit(0xfffffffL))).as("sr"))
      val plan = planOf(joined)
      assert(plan.contains("skew=true"), s"expected AQE skew split:\n$plan")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("tier reaggregation stays whole-stage-codegen'd") {
    val t1m = Rollup.rollupFromPoints(TokenTable.points(spark, sf("sf0.001")), Tier.OneMinute)
    val plan = planOf(Rollup.reaggregate(t1m, Tier.FiveMinutes))
    // codegen'd spans print as "*(n)" in the compact final plan; every
    // HashAggregate must sit inside one
    assert(plan.contains("*(1)") && plan.contains("*(2)"), plan)
    assert(!plan.lines().filter(_.contains("HashAggregate")).anyMatch(!_.contains("*(")), plan)
  }

  test("media table scan prunes to doc_id (payloads synthesized, text never read)") {
    val plan = planOf(graft.operators.Multimodal.mediaTable(spark, sf("sf0.001")))
    assert(plan.contains("ReadSchema"), plan)
    assert(!plan.contains("text"), s"media synthesis must not read the text column:\n$plan")
    assert(!plan.contains("Exchange"), s"media synthesis must be row-local:\n$plan")
  }

  test("mergeLate shuffle middle path re-merges with zero joins") {
    val pts = graft.sources.TokenTable.points(spark, sf("sf0.001"))
    val lateCond = expr("pos % 7 = 3")
    val base = Rollup.rollupFromPoints(pts.filter(!lateCond), graft.core.Tier.OneMinute)
    val df = Rollup.mergeLate(base, pts.filter(lateCond), graft.core.Tier.OneMinute)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // the fold is a union + ONE hash re-merge on the tier key — no join
    // of any kind
    assert(!plan.contains("Join"), s"the re-merge must be join-free:\n$plan")
    assert(plan.contains("Union"), plan)
  }

  test("eager build-time actions run under named job descriptions; the caller's is restored") {
    import spark.implicits._
    val sc = spark.sparkContext
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("a", "b")
    val pts = TokenTable.points(spark, sf("sf0.001"))
    val lateCond = expr("pos % 7 = 3")
    val base = Rollup.rollupFromPoints(pts.filter(!lateCond), Tier.OneMinute)
    sc.setJobDescription("caller")
    try {
      // "<step> at <File>.scala:<line>": the step, and where it was submitted
      def step(description: String, file: String): String = {
        val at = s" at $file.scala:"
        assert(description.contains(at) && description.split(at).last.forall(_.isDigit), description)
        description.split(at).head
      }
      var rounds = -1
      val cc = jobsOf { rounds = graft.operators.ConnectedComponents.componentsWithRounds(pairs, "a", "b")._2 }
      assert(rounds >= 1, cc)
      assert(cc.map(step(_, "ConnectedComponents")).distinct == (0 to rounds).map(r => s"ConnectedComponents: round $r"))
      assert(sc.getLocalProperty("spark.job.description") == "caller")
      val late = jobsOf(Rollup.mergeLate(base, pts.filter(lateCond), Tier.OneMinute))
      assert(late.nonEmpty, late)
      assert(late.map(step(_, "Rollup")).distinct == Seq("Rollup.mergeLate: guard count of the late delta's windows"))
      assert(sc.getLocalProperty("spark.job.description") == "caller")
    } finally sc.setJobDescription(null)
  }

  test("each connected-components round after the first is one Spark job") {
    import spark.implicits._
    // a 64-node chain needs several rounds
    val chain = (1L to 63L).map(i => (i, i + 1)).toDF("a", "b")
    var rounds = -1
    val jobs = jobsOf { rounds = graft.operators.ConnectedComponents.componentsWithRounds(chain, "a", "b")._2 }
    assert(rounds >= 3, jobs)
    val perRound = jobs.map(_.split(" at ConnectedComponents.scala:").head).groupBy(identity).map {
      case (d, js) => d -> js.size
    }
    for (r <- 1 to rounds) assert(perRound.get(s"ConnectedComponents: round $r").contains(1), jobs)
  }

  /** The catalogue queries whose DataFrame build runs Spark jobs on
   * purpose, with the job descriptions (prefixes) those jobs carry: the
   * connected-components closure (one description per round), the
   * shuffle stages of q_dedup_incremental's pair-set checkpoint,
   * mergeLate's guard count and q_csv_lsf's CSV export. */
  private val eagerBuilds: Map[String, Seq[String]] = Map(
    "q_dedup_clusters" -> Seq("ConnectedComponents: "),
    "q_dedup_incremental" -> Seq("ConnectedComponents: ", "q_dedup_incremental: checkpoint the pair set"),
    "q_embed_keep" -> Seq("ConnectedComponents: "),
    "q_rollup_late" -> Seq("Rollup.mergeLate: "),
    "q_rollup_late_1h" -> Seq("Rollup.mergeLate: "),
    "q_csv_lsf" -> Seq("LsfCsv.writeCsv: "))

  test("building a catalogue query runs no Spark job, except the named eager builds") {
    val built = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      name -> jobsOf(fn(spark, sf("sf0.001")))
    }
    assert(built.size == 139)
    val eager = built.filter(_._2.nonEmpty).toMap
    assert(eager.keySet == eagerBuilds.keySet,
      eager.toSeq.sortBy(_._1).map { case (q, d) => s"$q: ${d.size} jobs ${d.distinct.mkString("; ")}" }.mkString("\n"))
    assert(eagerBuilds.size == 6)
    for ((name, descriptions) <- eager)
      assert(descriptions.forall(d => eagerBuilds(name).exists(d.startsWith)), s"$name: $descriptions")
  }

  test("q_csv_lsf exports its CSV under the SparkContext's temp dir, not a per-process /tmp dir") {
    val pid = ProcessHandle.current().pid()
    def leftBehind =
      Option(new java.io.File("/tmp").list()).toSeq.flatten
        .filter(n => n.startsWith("graft_csv_") && n.endsWith(s"_$pid"))
    val rows = SparkEntry.queries("q_csv_lsf")(spark, sf("sf0.001")).collect()
    assert(rows.nonEmpty)
    assert(leftBehind.isEmpty, leftBehind)
    // SparkEnv.stop deletes this directory with the SparkContext
    assert(new java.io.File(org.apache.spark.SparkFiles.getRootDirectory(), "graft_csv_sf0.001").isDirectory)
  }

  test("maintenance sink: each tier write is one aggregate exchange over the tier, no anti/semi split") {
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.util.QueryExecutionListener
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = tmpDir("graft-plan-maint-").toString
    val store = new graft.jobs.SnapshotStore(base)
    // every parquet write's final plan, by output path; the stream's
    // session is a clone of this one and copies the listener at start
    val writes = new java.util.concurrent.ConcurrentLinkedQueue[(String, SparkPlan)]
    @volatile var markerSeen = false
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        qe.analyzed.collectFirst { case c: InsertIntoHadoopFsRelationCommand => c.outputPath.toString }
          .foreach(path => writes.add(path -> qe.executedPlan))
        if (qe.analyzed.output.exists(_.name == "plan_spec_marker")) markerSeen = true
      }
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val in = MemoryStream[(String, Int, Int)]
    val q = StreamingOps
      .tierMaintenanceSink(
        in.toDF().toDF("source", "pos", "tok"), store, "tier_1m_live", "tier_1h_cov", "plantest",
        s"$base/_ckpt", Tier.OneMinute, Tier.OneHour, keepWindows = 2)
      .start()
    try {
      in.addData(("a", 0, 5), ("a", 61, 7), ("b", 2, 4)); q.processAllAvailable()
      // a steady batch: both tables have a previous version; late points
      in.addData(("a", 3700, 2), ("a", 1, 9), ("b", 62, 6)); q.processAllAvailable()
    } finally q.stop()
    // listener calls are asynchronous but ordered: wait for a marker query
    spark.range(1).toDF("plan_spec_marker").collect()
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    while (!markerSeen && System.nanoTime() < deadline) Thread.sleep(10)
    spark.listenerManager.unregister(listener)
    assert(markerSeen, "the listener never saw the marker query")
    object aqe extends AdaptiveSparkPlanHelper
    for (table <- Seq("tier_1h_cov", "tier_1m_live")) {
      val path = store.latest(table).get.dataPath
      val plan = writes.toArray.collect { case (p: String, pl: SparkPlan) if p.endsWith(path) => pl }
        .lastOption.getOrElse(fail(s"no write plan seen for $table"))
      val text = plan.toString
      assert(!text.contains("LeftAnti") && !text.contains("LeftSemi"), s"$table must not split the tier:\n$text")
      // ONE aggregate over the tier: the fine delta (a cached relation,
      // computed once per batch) cascades inside it, no aggregate of its own
      assert(aqe.collect(plan) { case e: ShuffleExchangeLike => e }.size == 1, s"$table:\n$text")
      assert(aqe.collect(plan) { case a: BaseAggregateExec => a }.size == 2, s"$table:\n$text")
    }
  }

  test("PAA/SAX symbolization is a shuffle-free map over the document scan") {
    val df = graft.operators.SeriesAnalytics.paaSax(
      TokenTable.raw(spark, sf("sf0.001")), 64, Seq(12564000L, 25128000L, 37692000L))
    val plan = planOf(df)
    assert(!opsOnly(plan).contains("Exchange"), s"paaSax must not shuffle:\n$plan")
    assert(plan.contains("Generate"), plan)
  }

  test("counter rate and M4 downsample: one exchange each, no join") {
    val tier = Rollup.rollupFromPoints(TokenTable.points(spark, sf("sf0.001")), Tier.OneMinute)
    for (
      df <- Seq(
        graft.operators.SeriesAnalytics.counterRate(tier, "sum_tok"),
        graft.operators.SeriesAnalytics.m4Downsample(tier, "sum_tok", 600L),
        graft.operators.SeriesAnalytics.cusum(tier, "sum_tok", 1507710L, 150000L),
        graft.operators.SeriesAnalytics.seasonalDecompose(tier, "sum_tok", 60, 4))
    ) {
      val plan = planOf(df)
      // one exchange builds the tier, one repartitions for the window —
      // the operator itself must not add joins or further shuffles
      assert("Exchange".r.findAllIn(opsOnly(plan)).size == 2, s"expected 2 exchanges:\n$plan")
      assert(!plan.contains("Join"), s"window ops must be join-free:\n$plan")
    }
  }

  test("autocorrelation computes all lags from ONE window pass; partial-aggregates pairs") {
    val tier = Rollup.rollupFromPoints(TokenTable.points(spark, sf("sf0.001")), Tier.OneMinute)
    val df = graft.operators.SeriesAnalytics.autocorrelation(tier, "sum_tok", 60, 3)
    val plan = planOf(df)
    // tier build + window = 2 exchanges, exactly one Window; the final
    // groupBy on (source, bucket, lag) adds NO exchange — the window's
    // (source, bucket) hash partitioning already clusters the superset key
    assert("Exchange".r.findAllIn(opsOnly(plan)).size == 2, s"expected 2 exchanges:\n$plan")
    assert("Window".r.findAllIn(plan).size == 1, s"one window pass for all lags:\n$plan")
    assert(plan.contains("partial_sum"), s"pair moments must partial-aggregate:\n$plan")
  }

  test("unigram LM score explodes the corpus once (the (doc,word) exchange is reused)") {
    val df = graft.operators.TextAnalysis.unigramLogLoss(
      spark.read.parquet(s"${sf("sf0.001")}/documents.parquet"), "doc_id", "text")
    val plan = planOf(df)
    // the per-(doc, word) count subplan feeds both the vocab table and the
    // final scoring join; its shuffle must be REUSED, leaving exactly one
    // corpus scan in the executed plan
    assert(plan.contains("ReusedExchange") || plan.contains("TableCacheQueryStage"),
      s"the (doc,word) exchange must be reused:\n$plan")
    assert("Scan parquet".r.findAllIn(plan).size == 1,
      s"corpus must be scanned once:\n$plan")
  }

  test("decontamination broadcasts the test shingles; no sort-merge join") {
    val docs = spark.read.parquet(s"${sf("sf0.001")}/documents.parquet")
    val plan = planOf(
      graft.operators.Dedup
        .decontaminate(docs, docs.filter(expr("doc_id % 53 = 0")), "doc_id", "text", 8))
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"), plan)
    assert(!plan.contains("SortMergeJoin"), s"corpus side must not sort-join:\n$plan")
  }

  test("source correlation partial-aggregates pair rows before the final exchange") {
    val tier = Rollup.rollupFromPoints(
      graft.sources.TokenTable.points(spark, sf("sf0.001")),
      graft.core.Tier.OneMinute)
    val plan = planOf(graft.operators.SeriesAnalytics.sourceCorrelation(tier))
    // the |sources-per-window|^2 pair rows must collapse map-side: a
    // partial HashAggregate keyed by the pair precedes the last exchange
    assert(plan.contains("partial_count") || plan.contains("partial_sum"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("patch outlier detection is shuffle-free (kernel + generate, no exchange)") {
    val raw = graft.sources.TokenTable.raw(spark, sf("sf0.001"))
    val plan = planOf(graft.operators.SeriesAnalytics.patchOutliers(raw, 64, 2.0))
    assert(!opsOnly(plan).contains("Exchange"), s"per-row kernel must not shuffle:\n$plan")
    assert(plan.contains("arr_zscore_outliers"), plan)
  }

  test("repetition scores are a shuffle-free codegen'd map over the document scan") {
    val docs = spark.read.parquet(s"${sf("sf0.001")}/documents.parquet")
    val plan = planOf(graft.operators.TextAnalysis.repetitionScores(docs, "doc_id", "text"))
    assert(!opsOnly(plan).contains("Exchange"), s"per-row kernel must not shuffle:\n$plan")
    assert(plan.contains("ngram_rep_stats"), plan)
    // the projection (incl. the kernel) sits inside a codegen span
    assert(plan.contains("*(1)"), s"expected a whole-stage-codegen span:\n$plan")
  }

  test("retention expiry pushes its horizon predicate into the tier scan") {
    val dir = tmpDir("graft-ret-").toString
    Rollup
      .rollupFromPoints(TokenTable.points(spark, sf("sf0.001")), Tier.OneMinute)
      .write
      .mode("overwrite")
      .parquet(dir)
    val plan = planOf(graft.operators.Retention.expire(spark.read.parquet(dir), 300L))
    // the filter must reach the parquet source (row-group pruning at scale;
    // partition pruning when the tier table is window-partitioned)
    assert(
      plan.contains("PushedFilters") && plan.contains("GreaterThanOrEqual(window_start,300)"),
      plan)
  }

  test("safeExpire reads the fine tier once: one scan, no union, horizon pushed to coverage") {
    val pts = TokenTable.points(spark, sf("sf0.001"))
    val fineDir = tmpDir("graft-ret-fine-").toString
    val coarseDir = tmpDir("graft-ret-coarse-").toString
    Rollup.rollupFromPoints(pts, Tier.OneMinute).write.mode("overwrite").parquet(fineDir)
    Rollup.rollupFromPoints(pts, Tier.FiveMinutes).write.mode("overwrite").parquet(coarseDir)
    val df = graft.operators.Retention.safeExpire(
      spark.read.parquet(fineDir), spark.read.parquet(coarseDir), Tier.FiveMinutes, 300L)
    val plan = planOf(df)
    val scans = plan.linesIterator.filter(_.contains("FileScan")).toSeq
    // the live and the expired fine rows come from ONE read of the fine
    // dir — no union of two filtered copies
    assert(scans.count(_.contains(fineDir)) == 1, plan)
    assert(!plan.contains("Union"), plan)
    // the coverage side still reaches its scan pruned to the expired range
    val coverageScan = scans.filter(_.contains(coarseDir))
    assert(coverageScan.size == 1, plan)
    assert(coverageScan.head.contains("LessThan(window_start,300)"), plan)
  }

  test("trend line / local extrema: tier + one op exchange, join-free") {
    val tier = Rollup.rollupFromPoints(TokenTable.points(spark, sf("sf0.001")), Tier.OneMinute)
    for (
      df <- Seq(
        graft.operators.SeriesAnalytics.trendLine(tier, "sum_tok"),
        graft.operators.SeriesAnalytics.localExtrema(tier, "sum_tok", 60))
    ) {
      val plan = planOf(df)
      assert("Exchange".r.findAllIn(opsOnly(plan)).size == 2, s"expected 2 exchanges:\n$plan")
      assert(!plan.contains("Join"), s"must be join-free:\n$plan")
    }
  }

  test("window entropy: final reduction reuses the window's key partitioning") {
    val pts = TokenTable.points(spark, sf("sf0.001"))
    val plan = planOf(graft.operators.SeriesAnalytics.windowEntropy(pts, 3600))
    // (key, window, tok) count = 1 exchange; the window total repartitions
    // to (key, window) = 1 more; the final groupBy on the SAME key adds
    // none (superset-key clustering)
    assert("Exchange".r.findAllIn(opsOnly(plan)).size == 2, s"expected 2 exchanges:\n$plan")
    assert(!plan.contains("Join"), s"entropy must be join-free:\n$plan")
  }

  test("KL drift: one heavy aggregate lineage; source totals broadcast; no SMJ") {
    val pts = TokenTable.points(spark, sf("sf0.001"))
    val plan = planOf(graft.operators.SeriesAnalytics.klDrift(pts, 3600))
    // the per-source grand totals must broadcast onto the window-count
    // stream — a sort-merge join would re-sort the big side
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), s"source totals must broadcast:\n$plan")
    assert(plan.contains("partial_count") || plan.contains("partial_sum"), plan)
    // EXACTLY ONE source scan: the per-source grand totals derive from the
    // pair aggregate (round-8), so the broadcast branch must ride a
    // ReusedExchange of that aggregate's exchange — two scans would mean
    // exchange reuse stopped firing and the heavy (source, bucket, window,
    // tok) explode+aggregate re-ran per branch (strictly worse than the
    // old count-only scan it replaced)
    val scans = "FileScan".r.findAllIn(plan).size
    assert(scans == 1, s"expected the heavy aggregate to execute once (1 scan):\n$plan")
    assert(plan.contains("ReusedExchange"), s"pair exchange must be shared:\n$plan")
  }

  test("vocab growth: every stage bounded by aggregates (3 exchanges, join-free)") {
    val pts = TokenTable.points(spark, sf("sf0.001"))
    val plan = planOf(graft.operators.SeriesAnalytics.vocabGrowth(pts, 3600))
    // (source, tok) first-seen = 1; per-window novel counts = 1; the
    // source-ordered cumulation = 1 — all over aggregates, never points
    assert("Exchange".r.findAllIn(opsOnly(plan)).size == 3, s"expected 3 exchanges:\n$plan")
    assert(!plan.contains("Join"), s"vocab growth must be join-free:\n$plan")
  }

  test("time-weighted integrals: one exchange; the aggregate reuses the window's partitioning") {
    import org.apache.spark.sql.functions._
    val ev = spark.read
      .parquet(sf("sf0.001") + "/events.parquet")
      .select(
        col("user_id"),
        col("event_id"),
        unix_micros(col("ts").cast("timestamp")).as("ts_us"),
        expr("CAST(ROUND(value * 100) AS BIGINT)").as("cents"))
    val plan = planOf(graft.operators.SeriesAnalytics
      .timeWeighted(ev, Seq("user_id"), "ts_us", "cents", Seq("event_id")))
    assert("Exchange".r.findAllIn(opsOnly(plan)).size == 1, s"expected 1 exchange:\n$plan")
    assert(!plan.contains("Join"), s"must be join-free:\n$plan")
  }

  test("distribution shift: single points lineage (role explode, no self-join)") {
    val pts = TokenTable.points(spark, sf("sf0.001"))
    val plan = planOf(graft.operators.SeriesAnalytics.distributionShift(pts, 3600))
    // consecutive-window pairing must come from the role explode over ONE
    // aggregate lineage — a self-join shape would re-run the points
    // aggregation (the klDrift exchange-reuse lesson)
    assert("FileScan".r.findAllIn(plan).size == 1, s"expected 1 scan:\n$plan")
    assert(!plan.contains("Join"), s"must be join-free:\n$plan")
  }

  test("KMV sketch: one exchange of bounded buffers; object-hash aggregate path") {
    val pts = TokenTable.points(spark, sf("sf0.001"))
    val plan = planOf(graft.operators.Sketches.approxDistinct(pts, 3600, 64))
    // the TypedImperativeAggregate must partial-aggregate map-side so the
    // single exchange carries <= k longs per key, never raw hashes
    assert(plan.contains("ObjectHashAggregate"), plan)
    assert("Exchange".r.findAllIn(opsOnly(plan)).size == 1, s"expected 1 exchange:\n$plan")
    assert(!plan.contains("Join"), s"KMV must be join-free:\n$plan")
  }

  test("count-min: sketch cells partial-agg before exchange; sketch broadcast onto top-k") {
    val pts = TokenTable.points(spark, sf("sf0.001"))
    val plan = planOf(graft.operators.Sketches.countMinTopK(pts, 4, 1024, 20))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), s"sketch must broadcast:\n$plan")
    assert(plan.contains("partial_count"), s"cells must collapse map-side:\n$plan")
    // the linear-sketch build (cmsFromCounts) and the exact top-k side
    // share ONE per-(source, tok) aggregate: the second consumer must ride
    // a ReusedExchange, not re-run the points scan + partial aggregate
    assert(plan.contains("ReusedExchange"), s"(source, tok) exchange must be shared:\n$plan")
  }

  test("IVF assignment: broadcast centroids, one exchange, pair rows collapse map-side") {
    val emb = spark.read.parquet(s"${sf("sf0.001")}/embeddings.parquet")
    val plan = planOf(graft.operators.Similarity.ivfAssign(emb, "vec_id", "embedding", 25))
    // the centroid side must broadcast (no shuffle of the corpus onto a
    // centroid key), and the (corpus x centroids) rows must partial-agg
    // BEFORE the single hash exchange on _vid
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"), plan)
    assert(plan.contains("partial_max"), plan)
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1, s"expected 1 hash exchange:\n$plan")
  }

  test("gap-fill queries read their input table once and join nothing") {
    for (name <- Seq(
        "q_gapfill_tier", "q_gapfill_causal", "q_gapfill_const", "q_gapfill_linear", "q_gapfill_hourly")) {
      val plan = planOf(SparkEntry.queries(name)(spark, sf("sf0.001")))
      // one keyed pass over the observations: no spine built from a second
      // read of the input and joined back to it
      assert(plan.linesIterator.count(_.contains("FileScan")) == 1, s"$name:\n$plan")
      for (join <- Seq("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin"))
        assert(!plan.contains(join), s"$name:\n$plan")
    }
  }
}
