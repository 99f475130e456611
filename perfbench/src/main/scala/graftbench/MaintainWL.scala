package graftbench

import graft.core.Tier
import graft.jobs.SnapshotStore
import graft.operators.{GapFill, Retention, Rollup}
import graft.streaming.StreamingOps
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** `maintain`: one op is one micro-batch through
 * `StreamingOps.tierMaintenanceSink` (1m fine tier, 1h coverage tier),
 * followed by one dashboard read — a gap-fill of the latest committed fine
 * tier. Batches advance a frontier; about 10% of each batch's points land
 * late, behind it. */
object MaintainWL {
  import PerfMain._

  val Points = 20000
  val Span = 600 // positions per batch slab: ten 1m windows
  val LateSlabs = 5
  val KeepWindows = 30L
  /** Batch latency falls by about half over the first five batches while
   * the JIT catches up with the code each batch runs; timing starts after. */
  val WarmBatches = 5
  val MaxBatches = 40
  /** One op, batch plus read, after warm-up on a 4-vCPU VM. */
  val NominalOpS = 3.2
  val SetupReps = 3

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    var batches: IndexedSeq[Array[Gen.Pt]] = null
    val genS = (1 to SetupReps).map(_ => time {
      batches = Gen.pointBatches(ctx.seed, MaxBatches, Points, Span, LateSlabs)
    }._2)

    val base = ctx.dir("maintain")
    val store = new SnapshotStore(base.resolve("store").toString)
    val in = MemoryStream[(String, Int, Int)]
    var sent = 0
    val tracedBatches = scala.collection.mutable.Set.empty[Long]
    def readFine(opSpan: Int): Double = time(ctx.call("operators.GapFill.gapFill", opSpan) {
      val fine = store.read(spark, store.latest("tier_1m_live").get).drop("retained_uncovered")
      consumeAll(GapFill.gapFill(fine, Seq("source", "bucket"), "window_start", 60L, Seq("sum_tok", "cnt_tok")))
    })._2

    val (query, startS) = time(StreamingOps
      .tierMaintenanceSink(in.toDF().toDF("source", "pos", "tok"), store, "tier_1m_live", "tier_1h_cov", "maintain",
        base.resolve("ckpt").toString, Tier.OneMinute, Tier.OneHour, KeepWindows)
      .start())
    def send(opSpan: Int): Double = {
      val b = batches(sent)
      ctx.tracer.foreach { t => t.bindBatch(sent.toLong, opSpan); tracedBatches += sent.toLong }
      sent += 1
      time(ctx.call("streaming.tierMaintenanceSink.batch", opSpan) {
        in.addData(b.toSeq.map(p => (p.source, p.pos, p.tok)))
        query.processAllAvailable()
      })._2
    }
    val warmS = time((1 to WarmBatches).foreach { k =>
      val (b, r) = (send(0), readFine(0))
      System.err.println(f"perfbench: warm-up batch $k $b%.3f s, read $r%.3f s")
    })._2
    ctx.put("setup_s", median(genS) + startS + warmS, "s")

    val reads = scala.collection.mutable.ArrayBuffer.empty[Double]
    val tracedReads = scala.collection.mutable.ArrayBuffer.empty[Double]
    def runOps(seconds: Double): Seq[Double] =
      ctx.loop(math.min(ctx.opsFor(seconds, NominalOpS, minOps = 4), MaxBatches - sent)) { _ =>
        ctx.op("maintain.op") { opSpan =>
          val lat = send(opSpan)
          val r = readFine(opSpan)
          (if (ctx.tracer.isDefined) tracedReads else reads) += r
          lat
        }
      }
    var tracer: Option[PerfTrace] = None
    val lats =
      try {
        if (!ctx.traced) runOps(ctx.seconds)
        else { val (l, t) = tracedPhases(ctx)(runOps); tracer = Some(t); l }
      } finally query.stop()
    ctx.notePeak()

    // check: coverage tier == one-shot rollup of every point sent; fine
    // tier == that rollup compact-then-expired at the final horizon
    val all = spark.createDataset(batches.take(sent).flatten.toSeq.map(p => (p.source, p.pos, p.tok)))
      .toDF("source", "pos", "tok")
    val coarseWant = Rollup.rollupFromPoints(all, Tier.OneHour)
    val maxW = batches.take(sent).flatten.map(p => p.pos - p.pos % 60).max.toLong
    val fineWant = Retention.safeExpire(Rollup.rollupFromPoints(all, Tier.OneMinute), coarseWant, Tier.OneHour,
      maxW - (KeepWindows - 1) * 60)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet
    val coarseSnap = store.latest("tier_1h_cov").get
    val fineSnap = store.latest("tier_1m_live").get
    val errs = Seq(
      (rows(store.read(spark, coarseSnap)) != rows(coarseWant)) -> "coverage tier != one-shot 1h rollup",
      (rows(store.read(spark, fineSnap)) != rows(fineWant)) -> "fine tier != one-shot rollup expired at the final horizon",
      (fineSnap.version != sent || coarseSnap.version != sent) -> s"expected $sent committed versions per tier")
      .collect { case (true, m) => m }
    if (errs.nonEmpty) {
      errs.foreach(ctx.fail)
      ctx.failed = ctx.attempted // the final state covers every batch
    }

    if (!ctx.traced) {
      ctx.put("op_p50_s", median(lats), "s")
      ctx.put("work_per_s", lats.size.toDouble * Points / (lats.sum + reads.sum), "1/s")
      ctx.extra("samples") = lats.size.toString
    } else {
      val tracedIds = tracedBatches.toSet
      val t = tracer.get
      ctx.put("operators.gapfill.read_s", median(tracedReads.toSeq), "s")
      ctx.put("streaming.tier_rows_fine", fineSnap.rowCount.toDouble, "count")
      ctx.put("streaming.tier_rows_coarse", coarseSnap.rowCount.toDouble, "count")
      ctx.put("exec.cpu_ns_per_point", ctx.metrics("exec.task_cpu_s")._1 * 1e9 / Points, "ns")
      ctx.put("streaming.jobs_per_batch", t.batchJobs(tracedIds).toDouble / tracedIds.size, "count")
      t.progress.toSeq.filter(p => tracedIds.contains(p.batchId)) match {
        case ps if ps.nonEmpty =>
          def d(k: String) = ps.map(p => Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)).sum / 1e3 / ps.size
          ctx.put("streaming.add_batch_s", d("addBatch"), "s")
          ctx.put("streaming.query_planning_s", d("queryPlanning"), "s")
          ctx.put("streaming.wal_commit_s", d("walCommit"), "s")
          ctx.put("streaming.commit_offsets_s", d("commitOffsets"), "s")
          ctx.put("streaming.get_batch_s", d("getBatch"), "s")
        case _ =>
      }
      val bytes = committedBytes(base.resolve("store"))
      ctx.put("jobs.store.commits", bytes.values.map(_._2).sum.toDouble, "count")
      ctx.put("jobs.store.files", bytes.values.map(_._3).sum.toDouble, "count")
      ctx.put("jobs.store.bytes_tiers", bytes.values.map(_._1).sum.toDouble, "bytes")
    }
  }
}
