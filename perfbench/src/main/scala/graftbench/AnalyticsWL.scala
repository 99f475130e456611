package graftbench

import graft.SparkEntry
import graft.queries._

/** `analytics`: one op is one query from `SparkEntry.queries` over the
 * generated star schema — built, planned, then consumed by a hash-sum over
 * every column. A fixed panel covers every query family; the seed sets the
 * order, and passes over the panel repeat until the run's time is up. */
object AnalyticsWL {
  import PerfMain._

  val Scale = 1.0
  val SetupReps = 3
  /** One pass over the panel, after warm-up, on a 4-vCPU VM. */
  val NominalPassS = 6.5

  /** One query from every family, including the connected-components loop
   * (q_dedup_clusters) and the late merge (q_rollup_late); small enough
   * that the warm-up pass and three timed passes fit in a run. */
  val Panel: Seq[String] = Seq(
    "q_rollup_late", "q_gapfill_tier", "q_nation_revenue", "q_codec_chimp_roundtrip", "q_dedup_clusters",
    "q_eval_metrics", "q_eval_pinball", "q_gapfill_causal", "q_pad_min", "q_ingest_wide")

  val FamilyMaps: Seq[(String, Map[String, _])] = Seq(
    "TokenRollupQueries" -> TokenRollupQueries.q, "TimeSeriesQueries" -> TimeSeriesQueries.q,
    "RelationalQueries" -> RelationalQueries.q, "CodecQueries" -> CodecQueries.q,
    "PipelineQueries" -> PipelineQueries.q, "EvalQueries" -> EvalQueries.q, "MetricQueries" -> MetricQueries.q,
    "StatQueries" -> StatQueries.q, "ResampleQueries" -> ResampleQueries.q, "IngestQueries" -> IngestQueries.q)
  def Families: Seq[String] = FamilyMaps.map(_._1)
  def familyOf(q: String): String = FamilyMaps.find(_._2.contains(q)).map(_._1).getOrElse("?")

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    var dir = ""
    val genS = (1 to SetupReps).map { rep =>
      PerfMain.deleteTree(ctx.root.resolve("analytics"))
      time {
        dir = ctx.dir(s"analytics/tables-$rep").toString
        Gen.writeAnalyticsTables(spark, ctx.seed, Scale, dir)
      }._2
    }
    val rng = new Gen.Rng(ctx.seed, 50)
    val order = Panel.zipWithIndex.sortBy { case (_, i) => rng.long(i) }.map(_._1)
    val outDir = ctx.dir("analytics/out")

    // warm-up pass: every panel query once; its (rows, hash) is the
    // reference every later op of the query must reproduce. The same
    // DataFrame's output is then written, untimed, for the DuckDB oracles.
    val reference = scala.collection.mutable.Map.empty[String, (Long, Long)]
    val warmS = order.map { q =>
      val (df, s) = time { val df = SparkEntry.queries(q)(spark, dir); reference(q) = consumeAll(df); df }
      df.coalesce(1).write.mode("overwrite").parquet(outDir.resolve(q).toString)
      s
    }.sum
    ctx.put("setup_s", median(genS) + warmS, "s")

    final case class QTime(q: String, build: Double, plan: Double, exec: Double, traced: Boolean) {
      def total: Double = build + plan + exec
    }
    val times = scala.collection.mutable.ArrayBuffer.empty[QTime]
    val opsPerQuery = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    def runOps(seconds: Double): Seq[Double] = {
      val first = times.size
      // whole passes only, so every query has the same number of samples;
      // at least three, so that each query's median is robust to one
      // outlier. A traced run traces every other op, flipping each pass, so
      // it runs an even number of passes to trace each query as often as
      // it leaves it untraced.
      val passes = ctx.opsFor(seconds, NominalPassS, minOps = 3)
      for (_ <- 1 to (if (ctx.traced) passes + passes % 2 else passes)) {
        ctx.loop(order.size) { k =>
          val q = order(k)
          opsPerQuery(q) += 1
          ctx.op(s"analytics.$q") { opSpan =>
            val (df, build) = time(ctx.call(s"queries.$q.build", opSpan)(SparkEntry.queries(q)(spark, dir)))
            val c = consumer(df)
            val (_, plan) = time(ctx.call(s"queries.$q.plan", opSpan)(c.queryExecution.executedPlan))
            val (res, exec) = time(ctx.call(s"queries.$q.exec", opSpan)(consumed(c)))
            if (res != reference(q)) {
              ctx.failed += 1
              ctx.fail(s"$q: (rows, hash) $res != warm-up ${reference(q)}")
            }
            times += QTime(q, build, plan, exec, ctx.tracer.isDefined)
            build + plan + exec
          }
        }
      }
      times.drop(first).map(_.total).toSeq
    }

    def perQuery(ts: Seq[QTime]): Map[String, Double] = ts.groupBy(_.q).map { case (q, xs) => q -> median(xs.map(_.total)) }

    if (!ctx.traced) {
      runOps(ctx.seconds)
      val byQuery = perQuery(times.toSeq)
      System.err.println("perfbench: query medians " +
        byQuery.toSeq.sortBy(-_._2).map { case (q, t) => f"$q=$t%.3f" }.mkString(" "))
      val pq = byQuery.values.toSeq
      ctx.put("op_p50_s", median(pq), "s")
      ctx.put("work_per_s", pq.size / pq.sum, "1/s")
      ctx.extra("samples") = times.size.toString
    } else {
      ctx.traceCycle = order.size
      tracedPhases(ctx)(runOps)
      val ts = times.filter(_.traced).toSeq
      val n = ts.size.toDouble
      ctx.put("queries.build_s", ts.map(_.build).sum / n, "s")
      ctx.put("queries.plan_s", ts.map(_.plan).sum / n, "s")
      ctx.put("queries.exec_s", ts.map(_.exec).sum / n, "s")
      val passes = n / order.size
      ctx.put("queries.query_p90_s", quantile(perQuery(ts).values.toSeq, 0.9), "s")
      for (f <- Families)
        ctx.put(s"queries.family_s.$f", ts.filter(t => familyOf(t.q) == f).map(_.total).sum / passes, "s")
    }
    ctx.notePeak()
    ctx.extra("oracle_dir") = json(outDir.toString)
    ctx.extra("tables_dir") = json(dir)
    ctx.extra("ops_per_query") =
      opsPerQuery.map { case (q, n) => s"${json(q)}: $n" }.mkString("{", ", ", "}")
    ctx.extra("oracle_sql") =
      Panel.flatMap(q => SparkEntry.oracleSql.get(q).map(s => s"${json(q)}: ${json(s)}")).mkString("{", ", ", "}")
  }
}
