package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** State shared by one benchmark run: the session, the run's settings, the
 * metrics reported so far, the operation tally and, in a traced run, the
 * trace collector. */
final class Ctx(
    var spark: SparkSession,
    val seed: Long,
    val seconds: Double,
    val traced: Boolean,
    val root: Path,
    val cores: Int,
    val workload: String) {

  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val extra = mutable.LinkedHashMap.empty[String, String]
  var attempted = 0
  var failed = 0
  val failures = mutable.ArrayBuffer.empty[String]
  /** The collector of a traced run, and whether the current op is traced. */
  var collector: Option[PerfTrace] = None
  var tracer: Option[PerfTrace] = None
  /** Ops alternate untraced/traced; the pattern flips every `traceCycle`
   * ops so that a workload cycling through N distinct ops traces each of
   * them in turn. */
  var traceCycle: Int = Int.MaxValue
  val plainLat = mutable.ArrayBuffer.empty[Double]
  val tracedLat = mutable.ArrayBuffer.empty[Double]
  var peakBytes = 0L

  /** Scratch disk in use now; call outside timed regions. */
  def notePeak(): Unit = peakBytes = math.max(peakBytes, PerfMain.treeBytes(root))

  def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)

  def fail(msg: String): Unit = { failures += msg; System.err.println(s"[perfbench] check failed: $msg") }

  def dir(name: String): Path = {
    val p = root.resolve(name)
    Files.createDirectories(p)
    p
  }

  /** A public layer call: a span under op `op` when tracing. */
  def call[T](name: String, op: Int)(body: => T): T = tracer match {
    case Some(t) if op != 0 => t.span(name, op, op)(_ => body)
    case _ => body
  }

  /** One workload operation: a top-level span when tracing; `body`
   * receives the op span id (0 when not tracing). */
  def op[T](name: String)(body: Int => T): T = tracer match {
    case Some(t) => t.span(name, 0, 0)(body)
    case None => body(0)
  }

  /** How many ops a run of `seconds` times: enough to fill about that long
   * at `nominalOpS` per op (as measured on a 4-vCPU VM), at least `minOps`.
   * The count depends on `--seconds` alone, never on how fast the run
   * goes, so every run of a workload times the same sequence of ops. (A
   * loop bounded by time lets a slow run time fewer, less warmed-up ops,
   * which made the median jump between runs.) */
  def opsFor(seconds: Double, nominalOpS: Double, minOps: Int): Int =
    math.max(minOps, math.round(seconds / nominalOpS).toInt)

  /** Closed loop of one client: issues `body` `ops` times. Returns the
   * per-op latencies in seconds. */
  def loop(ops: Int)(body: Int => Double): Seq[Double] = {
    val out = mutable.ArrayBuffer.empty[Double]
    var k = 0
    while (k < ops) {
      val traced = collector.isDefined && ((attempted % 2 == 1) ^ ((attempted / traceCycle) % 2 == 1))
      attempted += 1
      if (traced) { collector.get.install(); tracer = collector }
      val (w0, c0, j0, g0) = (System.nanoTime(), PerfMain.processCpuNs(), PerfMain.jitMs(), PerfMain.gcMs())
      val lat =
        try body(k)
        catch {
          case e: Throwable =>
            failed += 1
            fail(s"op $k threw ${e.getClass.getSimpleName}: ${e.getMessage}")
            Double.NaN
        } finally if (traced) { tracer = None; collector.get.uninstall() }
      System.err.println(f"perfbench: op $k wall ${(System.nanoTime() - w0) / 1e9}%.3f s, process cpu " +
        f"${(PerfMain.processCpuNs() - c0) / 1e9}%.3f s, jit ${(PerfMain.jitMs() - j0) / 1e3}%.3f s, " +
        f"gc ${(PerfMain.gcMs() - g0) / 1e3}%.3f s")
      if (!lat.isNaN) {
        out += lat
        (if (traced) tracedLat else plainLat) += lat
      }
      k += 1
    }
    out.toSeq
  }
}

object PerfMain {

  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** CPU time of every thread of this JVM, JIT compile time and GC time so
   * far: the per-op diagnostics on standard error show how much of an op's
   * wall time the JVM spends compiling or collecting. */
  def processCpuNs(): Long = java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
    case _ => 0L
  }
  def jitMs(): Long = java.lang.management.ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  def gcMs(): Long = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** Row count and order-free hash-sum over every column, as a one-row
   * DataFrame: it consumes the whole result (count() alone lets Catalyst
   * prune aggregates). */
  def consumer(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, hash, sum, count, lit, coalesce}
    df.select(
      count(lit(1)).as("n"),
      coalesce(sum(hash(df.columns.toIndexedSeq.map(c => col(s"`$c`")): _*).cast("long")), lit(0L)).as("h"))
  }

  /** Runs a [[consumer]] on its already-planned QueryExecution. */
  def consumed(c: DataFrame): (Long, Long) = {
    val r = c.collect()(0)
    (r.getLong(0), r.getLong(1))
  }

  def consumeAll(df: DataFrame): (Long, Long) = consumed(consumer(df))

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder()).iterator().asScala.foreach(Files.deleteIfExists)
      finally walk.close()
    }

  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val walk = Files.walk(p)
      try walk.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally walk.close()
    }

  /** Per table of a snapshot store: data-file bytes of every committed
   * snapshot, manifests, data files. */
  def committedBytes(store: Path): Map[String, (Long, Int, Int)] =
    if (!Files.isDirectory(store)) Map.empty
    else
      Files.list(store).iterator().asScala.filter(p => Files.isDirectory(p.resolve("_snapshots"))).map { t =>
        val manifests = Files.list(t.resolve("_snapshots")).iterator().asScala
          .filter(_.getFileName.toString.matches("v\\d+\\.json")).toSeq
        val dataDirs = manifests.map { m =>
          """"dataPath"\s*:\s*"([^"]*)"""".r.findFirstMatchIn(Files.readString(m)).get.group(1)
        }.distinct
        val files = dataDirs.flatMap { d =>
          val p = java.nio.file.Paths.get(d)
          if (Files.isDirectory(p)) Files.list(p).iterator().asScala.filter(_.getFileName.toString.startsWith("part-")).toSeq
          else Nil
        }
        t.getFileName.toString -> (files.map(Files.size).sum, manifests.size, files.size)
      }.toMap

  def session(cores: Int, root: Path): SparkSession = {
    val spark = SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", root.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", root.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Every per-layer metric, with its unit; a layer a workload does not
   * use reports 0. */
  val PerLayer: Seq[(String, String)] = {
    val s = "s"; val c = "count"; val b = "bytes"
    Seq(
      "jobs.rollup.stage_s.raw" -> s, "jobs.rollup.stage_s.rollup_1m" -> s,
      "jobs.rollup.stage_s.cascade" -> s, "jobs.rollup.stage_s.retention" -> s,
      "jobs.rollup.bookkeeping_s" -> s, "jobs.rollup.resume_s" -> s,
      "jobs.store.commits" -> c, "jobs.store.files" -> c, "jobs.store.bytes_raw" -> b, "jobs.store.bytes_tiers" -> b,
      "jobs.store.bytes_per_point" -> b, "operators.gapfill.read_s" -> s,
      "streaming.add_batch_s" -> s, "streaming.query_planning_s" -> s, "streaming.wal_commit_s" -> s,
      "streaming.commit_offsets_s" -> s, "streaming.get_batch_s" -> s, "streaming.jobs_per_batch" -> c,
      "streaming.tier_rows_fine" -> c, "streaming.tier_rows_coarse" -> c,
      "queries.build_s" -> s, "queries.plan_s" -> s, "queries.exec_s" -> s,
      "queries.build_jobs" -> c, "queries.build_job_s" -> s, "queries.query_p90_s" -> s) ++
      AnalyticsWL.Families.map(f => s"queries.family_s.$f" -> s) ++
      PerfTrace.SiteFiles.flatMap(f => Seq(s"site.$f.jobs" -> c, s"site.$f.job_s" -> s)) ++
      Seq(
        "operators.dedup.candidate_pairs" -> c, "operators.dedup.verified_pairs" -> c,
        "operators.dedup.verify_yield" -> "ratio", "operators.dedup.planted_recall" -> "ratio",
        "exec.jobs" -> c, "exec.stages" -> c, "exec.tasks" -> c, "exec.task_cpu_s" -> s,
        "exec.cpu_busy_share" -> "ratio", "exec.cpu_ns_per_point" -> "ns", "exec.gc_s" -> s,
        "exec.spill_bytes" -> b, "exec.shuffle_read_bytes" -> b, "exec.shuffle_write_bytes" -> b,
        "exec.input_bytes" -> b, "exec.output_bytes" -> b) ++
      PerfTrace.Modules.flatMap(m => Seq(s"$m.spark_jobs" -> c, s"$m.job_s" -> s)) ++
      (("op" +: PerfTrace.Modules :+ "exec").map(m => s"self_s.$m" -> s)) ++
      Seq(
        "ladder.core_scaling" -> "ratio",
        "trace.overhead_share" -> "ratio", "trace.untraced_op_s" -> s, "trace.traced_op_s" -> s,
        "trace.ops" -> c, "setup.session_s" -> s, "scratch.peak_bytes" -> b)
  }

  /** Runs the ops with the collector installed around every other op.
   * Fills the trace.* metrics (overhead: traced vs untraced ops of the same
   * run) and the collector's aggregates over the traced ops; returns the
   * traced latencies and the collector. */
  def tracedPhases(ctx: Ctx)(runOps: Double => Seq[Double]): (Seq[Double], PerfTrace) = {
    val t = new PerfTrace(ctx.spark, PerfTrace.moduleMap(PerfTrace.srcRoot))
    ctx.collector = Some(t)
    try runOps(ctx.seconds) finally ctx.collector = None
    val plain = ctx.plainLat.toSeq
    val traced = ctx.tracedLat.toSeq
    ctx.put("trace.untraced_op_s", median(plain), "s")
    ctx.put("trace.traced_op_s", median(traced), "s")
    ctx.put("trace.overhead_share", median(traced) / median(plain) - 1.0, "ratio")
    ctx.put("trace.ops", traced.size, "count")
    t.summary(traced.size).foreach { case (k, v) =>
      ctx.put(k, v, PerLayer.find(_._1 == k).map(_._2).getOrElse("s"))
    }
    t.write(Paths.get(".bench_out", s"trace_${ctx.workload}.jsonl"))
    (traced, t)
  }

  def json(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val root = Paths.get(opts("root")).toAbsolutePath
    val seed = opts("seed").toLong
    val cores = Runtime.getRuntime.availableProcessors()
    Files.createDirectories(root)
    val (spark, sessionS) = time(session(cores, root))
    if (opts("workload") == "gen") {
      Gen.writeAll(spark, seed, root.resolve("gen").toString)
      println("PERFRESULT {}")
      spark.stop()
      return
    }
    val ctx = new Ctx(spark, seed, opts("seconds").toDouble, opts("trace") == "1", root, cores, opts("workload"))
    opts("workload") match {
      case "ladder" => LadderWL.run(ctx)
      case "maintain" => MaintainWL.run(ctx)
      case "analytics" => AnalyticsWL.run(ctx)
      case "dedup" => DedupWL.run(ctx)
      case w => sys.error(s"unknown workload $w")
    }
    if (ctx.traced) {
      ctx.put("setup.session_s", sessionS, "s")
      ctx.put("scratch.peak_bytes", ctx.peakBytes.toDouble, "bytes")
      PerLayer.foreach { case (k, u) => if (!ctx.metrics.contains(k)) ctx.put(k, 0.0, u) }
      ctx.metrics.keys.toSeq.filterNot(k => PerLayer.exists(_._1 == k)).foreach(ctx.metrics.remove)
    } else {
      ctx.metrics.get("setup_s").foreach { case (v, u) => ctx.put("setup_s", v + sessionS, u) }
    }
    val ms = ctx.metrics.map { case (k, (v, u)) => s"${json(k)}: {\"value\": ${num(v)}, \"unit\": ${json(u)}}" }
    val ex = ctx.extra.map { case (k, v) => s"${json(k)}: $v" }
    println(
      s"""PERFRESULT {"attempted": ${ctx.attempted}, "failed": ${ctx.failed}, """ +
        s""""failures": [${ctx.failures.take(20).map(json).mkString(", ")}], """ +
        s""""metrics": {${ms.mkString(", ")}}, "extra": {${ex.mkString(", ")}}}""")
    ctx.spark.stop()
  }
}
