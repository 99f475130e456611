package graft

import graft.core.Tier
import graft.operators.Rollup
import graft.sources.TokenTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftshim.SparkInternals

/** Scaling-gate diagnostic (NOT the driver contract — that is [[Bench]],
 * frozen): measures the fused 1m rollup at local[N] vs local[4N] over TWO
 * inputs of identical content —
 *
 *   1. the `rangePoints` generator (exactly Bench's primary-metric job),
 *   2. the SAME points pre-materialized to parquet (written once per run,
 *      outside every timed region),
 *
 * so the generator's share of the gate measurement is isolated: if the
 * parquet-input efficiency is materially higher, the generator (one
 * `spark.range` + per-point arithmetic, memory-bandwidth-bound at 16
 * threads) — not the rollup aggregate — is what drags the Bench gate
 * number (round-7 VERDICT ask). The driver gate itself stays generator-
 * based; this main only attributes the cost.
 *
 * Env: SPARK_GRAFT_BENCH_DOCS (default 4,000,000 → 1.024B points),
 * SPARK_GRAFT_SCALE_REPS (default 3). Prints one summary line per input
 * kind; appends nothing to BENCH.md (rows there stay Bench-authored).
 * Each level reports the wall and task-CPU time of its fastest rep.
 *
 * Disk: the parquet copy goes to `/tmp/graft_scaling_points_<docs>` at
 * ~4.2 bytes per point (snappy; measured at 16.4M points), so ~4.3 GB at
 * the default docs. It is reused by later runs with the same docs and
 * never deleted; remove it by hand.
 */
object BenchScalingExtra {

  private def session(cpus: Int): SparkSession = {
    val s = SparkSession
      .builder()
      .master(s"local[$cpus]")
      .appName(s"graft-scaling-extra-$cpus")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def consumeAll(df: DataFrame): Long = BenchActions.consumeAll(df)

  def main(args: Array[String]): Unit = {
    val docs = sys.env.getOrElse("SPARK_GRAFT_BENCH_DOCS", "4000000").toLong
    val reps = sys.env.getOrElse("SPARK_GRAFT_SCALE_REPS", "3").toInt
    val tokens = 256
    val pts = docs * tokens
    val dir = s"/tmp/graft_scaling_points_${docs}"

    // materialize once (untimed): identical rows to the generator
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "_SUCCESS"))) {
      val s = session(16)
      TokenTable
        .rangePoints(s, docs, tokens, partitions = 256)
        .write
        .mode("overwrite")
        .parquet(dir)
      s.stop()
    }

    final case class Level(wall: Double, cpu: Double)
    def level(cores: Int, input: SparkSession => DataFrame): Level = {
      val s = session(cores)
      val cpuNs = new java.util.concurrent.atomic.AtomicLong
      s.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          if (te.taskMetrics != null) cpuNs.addAndGet(te.taskMetrics.executorCpuTime)
      })
      // warmup / JIT on a small slice
      consumeAll(Rollup.rollupFromPoints(TokenTable.rangePoints(s, 50000, tokens, 64), Tier.OneMinute))
      // wall and task CPU of the same rep: the one with the lowest wall
      val best = (1 to reps).map { _ =>
        val c0 = cpuNs.get
        val t0 = System.nanoTime()
        consumeAll(Rollup.rollupFromPoints(input(s), Tier.OneMinute))
        val sec = (System.nanoTime() - t0) / 1e9
        SparkInternals.drainListeners(s.sparkContext) // every task-end counted
        Level(sec, (cpuNs.get - c0) / 1e9)
      }.minBy(_.wall)
      s.stop()
      best
    }

    val kinds: Seq[(String, SparkSession => DataFrame)] = Seq(
      "generator" -> (s => TokenTable.rangePoints(s, docs, tokens, partitions = 256)),
      "parquet" -> (s => s.read.parquet(dir)))
    for ((kind, input) <- kinds) {
      // interleave N / 4N like Bench (host-noise discipline)
      val (ns, n4s) = (1 to 2).map(_ => (level(4, input), level(16, input))).unzip
      val n = ns.minBy(_.wall)
      val n4 = n4s.minBy(_.wall)
      val eff = (pts / n4.wall) / (4.0 * (pts / n.wall))
      println(
        f"""{"kind":"$kind","points":$pts,"n_sec":${n.wall}%.3f,"4n_sec":${n4.wall}%.3f,""" +
          f""""n_pps":${pts / n.wall}%.0f,"4n_pps":${pts / n4.wall}%.0f,""" +
          f""""scaling_efficiency":$eff%.3f,"n_cpu_sec":${n.cpu}%.1f,"4n_cpu_sec":${n4.cpu}%.1f,""" +
          f""""cpu_per_point_ratio":${n4.cpu / n.cpu}%.3f}""")
    }
  }
}
