package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Trace collector for the traced run, observing the engine from outside.
 *
 * Spans nest as workload op -> public layer call -> Spark job. A layer
 * call sets the local property [[SpanProp]] so the jobs it submits carry
 * their span id; micro-batch jobs of a stream carry the batch id instead,
 * which [[bindBatch]] maps to its op. Each job is also attributed to the
 * engine source file that submitted it (`site.<File>`), read from the
 * job's call site, and through the file to its module. Spans and job
 * records stay in memory until [[write]]. */
final class PerfTrace(spark: SparkSession, moduleOfFile: Map[String, String]) extends SparkListener {
  import PerfTrace._

  final class Job(val id: Int, val start: Long, val span: Int, val batch: Long, val site: String) {
    var end: Long = start
    var stages: Seq[Int] = Nil
  }

  private val t0Nanos = System.nanoTime()
  private val t0Millis = System.currentTimeMillis().toDouble
  private def nowMs(): Double = t0Millis + (System.nanoTime() - t0Nanos) / 1e6

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stages = mutable.Map.empty[Int, StageStats]
  private val execSite = mutable.Map.empty[Long, String]
  private val batchOp = mutable.Map.empty[Long, Int]
  val progress = mutable.ArrayBuffer.empty[org.apache.spark.sql.streaming.StreamingQueryProgress]
  private var nextSpan = 1

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      PerfTrace.this.synchronized { progress += e.progress }
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.streams.addListener(streamListener)
  }

  def uninstall(): Unit = {
    org.apache.spark.PerfBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.streams.removeListener(streamListener)
  }

  /** Run `body` as a span; jobs it submits from this thread carry its id. */
  def span[T](name: String, parent: Int, op: Int)(body: Int => T): T = {
    val id = synchronized { nextSpan += 1; nextSpan }
    val sc = spark.sparkContext
    val saved = sc.getLocalProperty(SpanProp)
    sc.setLocalProperty(SpanProp, id.toString)
    val start = nowMs()
    try body(id)
    finally {
      val end = nowMs()
      sc.setLocalProperty(SpanProp, saved)
      synchronized { spans += Span(id, name, parent, op, start, end) }
    }
  }

  /** Jobs of micro-batch `batchId` belong to op span `opSpan`. */
  def bindBatch(batchId: Long, opSpan: Int): Unit = synchronized { batchOp(batchId) = opSpan }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized { execSite(s.executionId) = s.description }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    val resultStageName = e.stageInfos.sortBy(-_.stageId).headOption.map(_.name).getOrElse("")
    val batch = prop("streaming.sql.batchId").map(_.toLong).getOrElse(-1L)
    // a stream pins the call site of its micro-batch jobs to where the
    // query started, so they are attributed to the sink that runs them
    val site =
      if (batch >= 0) "StreamingOps"
      else
        Seq(Some(resultStageName), prop("callSite.short"),
          prop("spark.sql.execution.id").flatMap(x => execSite.get(x.toLong)))
          .flatten.flatMap(fileOf).find(moduleOfFile.contains)
          .getOrElse(if (fileOf(resultStageName).exists(_.startsWith("Perf"))) "bench" else "other")
    val j = new Job(e.jobId, e.time, prop(SpanProp).map(_.toInt).getOrElse(0), batch, site)
    j.stages = e.stageIds
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
    jobs(e.jobId) = j
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val m = i.taskMetrics
    if (m != null)
      stages(i.stageId) = StageStats(i.numTasks, m.executorCpuTime, m.jvmGCTime,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.bytesWritten, m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten)
  }

  /** Op span a job belongs to (through its layer-call span or its batch). */
  private def opOf(j: Job, spanById: Map[Int, Span]): Int =
    if (j.batch >= 0 && batchOp.contains(j.batch)) batchOp(j.batch)
    else spanById.get(j.span).map(s => if (s.op == 0) s.id else s.op).getOrElse(0)

  /** Aggregates over the traced ops: per-layer metrics (per op) plus self
   * time per span level. `ops` is the number of traced ops. */
  def summary(ops: Int): Map[String, Double] = synchronized {
    val spanById = spans.map(s => s.id -> s).toMap
    val opSpans = spans.filter(_.op == 0).map(_.id).toSet
    val traced = jobs.values.filter(j => opSpans.contains(opOf(j, spanById))).toSeq
    val out = mutable.LinkedHashMap.empty[String, Double]
    val n = math.max(ops, 1).toDouble
    def stat(j: Job): Seq[StageStats] = stages.collect { case (s, st) if stageJob.get(s).contains(j.id) => st }.toSeq
    val all = traced.flatMap(stat)
    out("exec.jobs") = traced.size / n
    out("exec.stages") = all.size / n
    out("exec.tasks") = all.map(_.tasks).sum / n
    out("exec.task_cpu_s") = all.map(_.cpuNs).sum / 1e9 / n
    out("exec.gc_s") = all.map(_.gcMs).sum / 1e3 / n
    out("exec.spill_bytes") = all.map(_.spill).sum / n
    out("exec.shuffle_read_bytes") = all.map(_.shRead).sum / n
    out("exec.shuffle_write_bytes") = all.map(_.shWrite).sum / n
    out("exec.input_bytes") = all.map(_.input).sum / n
    out("exec.output_bytes") = all.map(_.output).sum / n
    val opWallS = spans.filter(_.op == 0).map(s => s.end - s.start).sum / 1e3
    val cores = spark.sparkContext.defaultParallelism
    out("exec.cpu_busy_share") =
      if (opWallS > 0) all.map(_.cpuNs).sum / 1e9 / (opWallS * cores) else 0.0
    def jobS(js: Seq[Job]) = js.map(j => (j.end - j.start) / 1e3).sum / n
    for (f <- SiteFiles) {
      val js = traced.filter(_.site == f)
      out(s"site.$f.jobs") = js.size / n
      out(s"site.$f.job_s") = jobS(js)
    }
    for (m <- Modules) {
      val js = traced.filter(j => moduleOfFile.get(j.site).contains(m))
      out(s"$m.spark_jobs") = js.size / n
      out(s"$m.job_s") = jobS(js)
    }
    val buildSpans = spans.filter(_.name.endsWith(".build")).map(_.id).toSet
    val buildJobs = traced.filter(j => buildSpans.contains(j.span))
    out("queries.build_jobs") = buildJobs.size / n
    out("queries.build_job_s") = jobS(buildJobs)
    // self time: a span's duration minus the part its children cover
    val childIntervals = mutable.Map.empty[Int, mutable.ArrayBuffer[(Double, Double)]]
    spans.foreach(s => if (s.parent != 0) childIntervals.getOrElseUpdate(s.parent, mutable.ArrayBuffer.empty) += (s.start -> s.end))
    traced.foreach(j => if (j.span != 0 && j.batch < 0) childIntervals.getOrElseUpdate(j.span, mutable.ArrayBuffer.empty) += (j.start.toDouble -> j.end.toDouble))
    traced.foreach { j =>
      val o = opOf(j, spanById)
      if (j.batch >= 0) spans.find(s => s.op == o && s.name.startsWith("streaming.")).foreach(s =>
        childIntervals.getOrElseUpdate(s.id, mutable.ArrayBuffer.empty) += (j.start.toDouble -> j.end.toDouble))
    }
    def selfMs(s: Span): Double = s.end - s.start - covered(childIntervals.getOrElse(s.id, Nil).toSeq, s.start, s.end)
    out("self_s.op") = spans.filter(_.op == 0).map(selfMs).sum / 1e3 / n
    for (m <- Modules)
      out(s"self_s.$m") = spans.filter(s => s.op != 0 && s.name.startsWith(m + ".")).map(selfMs).sum / 1e3 / n
    out("self_s.exec") = covered(traced.map(j => (j.start.toDouble, j.end.toDouble)), Double.MinValue, Double.MaxValue) / 1e3 / n
    out.toMap
  }

  /** Spark jobs run by the given micro-batches. */
  def batchJobs(batchIds: Set[Long]): Int = synchronized { jobs.values.count(j => batchIds.contains(j.batch)) }

  /** Spans and jobs as JSON lines. */
  def write(path: Path): Unit = synchronized {
    val lines = spans.map(s =>
      f"""{"kind":"span","id":${s.id},"name":"${s.name}","parent":${s.parent},"op":${s.op},"start_ms":${s.start}%.3f,"end_ms":${s.end}%.3f}""") ++
      jobs.values.map(j =>
        s"""{"kind":"job","id":${j.id},"span":${j.span},"batch":${j.batch},"site":"${j.site}","start_ms":${j.start},"end_ms":${j.end},"stages":[${j.stages.mkString(",")}]}""")
    Files.createDirectories(path.getParent)
    Files.write(path, lines.asJava)
  }
}

object PerfTrace {
  final case class Span(id: Int, name: String, parent: Int, op: Int, start: Double, end: Double)
  final case class StageStats(
      tasks: Int, cpuNs: Long, gcMs: Long, spill: Long,
      shRead: Long, shWrite: Long, input: Long, output: Long)
  val SpanProp = "graftbench.span"
  val Modules: Seq[String] = Seq("sources", "operators", "jobs", "streaming", "queries")
  val SiteFiles: Seq[String] = Seq("ConnectedComponents", "Rollup", "StreamingOps", "SnapshotStore", "Dedup")

  private val FileRe = """([A-Za-z0-9_]+)\.scala:\d+""".r
  def fileOf(callSite: String): Option[String] = FileRe.findFirstMatchIn(callSite).map(_.group(1))

  /** Length of the union of `iv` clipped to [lo, hi]. */
  def covered(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    for ((s0, e0) <- iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }.filter(x => x._2 > x._1).sortBy(_._1)) {
      if (curS.isNaN || s0 > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s0; curE = e0
      } else curE = math.max(curE, e0)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** Engine source file name -> module (its directory under graft/). */
  def moduleMap(srcRoot: Path): Map[String, String] = {
    if (!Files.isDirectory(srcRoot)) return Map.empty
    val walk = Files.walk(srcRoot)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).map { p =>
      val rel = srcRoot.relativize(p)
      val module = if (rel.getNameCount > 1) rel.getName(0).toString else "graft"
      p.getFileName.toString.stripSuffix(".scala") -> module
    }.toMap
    finally walk.close()
  }

  def srcRoot: Path = Paths.get("src", "main", "scala", "graft")
}
