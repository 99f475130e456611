package graftbench

import java.nio.file.Path

import graft.jobs.{RollupJob, SnapshotStore}
import graft.sources.TokenTable
import org.apache.spark.sql.functions._

/** `ladder`: one op is a cold `RollupJob.run` with `ladderHorizons` into a
 * fresh snapshot store — the throughput path sources -> functions ->
 * operators.Rollup -> jobs.SnapshotStore. */
object LadderWL {
  import PerfMain._

  val Docs = 6000
  val Horizons: Seq[Long] = Seq(6000L, 3000L, 3600L)
  val FullTiers: Seq[String] = Seq("tier_1m", "tier_5m", "tier_1h", "tier_1d")
  val SetupReps = 3
  val WarmDocs = 300
  /** One cold `RollupJob.run` on a 4-vCPU VM. */
  val NominalOpS = 7.0

  /** Reference tier totals per source, straight from the token formula. */
  final case class Totals(cnt: Long, sum: Long, min: Int, max: Int)

  def token(doc: Long, p: Long): Int =
    (((doc + 1) * TokenTable.MulA + p * TokenTable.MulB) % TokenTable.Vocab).toInt

  def reference(docs: Array[Gen.TokenDoc]): Map[String, Totals] =
    docs.groupBy(_.source).map { case (src, ds) =>
      var cnt = 0L; var sum = 0L; var mn = Int.MaxValue; var mx = Int.MinValue
      for (d <- ds; p <- 0L until d.n_chars) {
        val t = token(d.doc_id, p)
        cnt += 1; sum += t; mn = math.min(mn, t); mx = math.max(mx, t)
      }
      src -> Totals(cnt, sum, mn, mx)
    }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    // set-up: generate the documents (repeated; the last copy is used)
    var docs: Array[Gen.TokenDoc] = null
    var input = ""
    val genS = (1 to SetupReps).map { rep =>
      deleteTree(ctx.root.resolve("ladder"))
      time {
        docs = Gen.tokenDocs(ctx.seed, Docs)
        input = ctx.dir(s"ladder/in-$rep").toString
        Gen.writeTokenDocs(spark, docs, input)
      }._2
    }
    val points = docs.map(_.n_chars).sum
    val ref = reference(docs)
    val spotDocs = docs.indices.filter(_ % (Docs / 8) == 0).map(docs(_)) :+ docs.maxBy(_.n_chars)
    var storeN = 0
    def freshStore(): Path = { storeN += 1; ctx.root.resolve(s"ladder/store-$storeN") }

    def check(store: SnapshotStore): Option[String] = {
      val tierErr = FullTiers.flatMap { t =>
        val got = store.read(spark, store.latest(t).get)
          .groupBy("source")
          .agg(sum("cnt_tok"), sum("sum_tok"), min("min_tok"), max("max_tok"))
          .collect().map(r => r.getString(0) -> Totals(r.getLong(1), r.getLong(2), r.getInt(3), r.getInt(4))).toMap
        if (got != ref) Some(s"$t totals differ from the token formula") else None
      }
      val raw = store.read(spark, store.latest("raw").get)
        .filter(col("doc_id").isin(spotDocs.map(_.doc_id.toString): _*))
        .select("doc_id", "tokens").collect()
        .map(r => r.getString(0).toLong -> r.getSeq[Int](1)).toMap
      val rawErr = spotDocs.find(d => !raw.get(d.doc_id).contains((0L until d.n_chars).map(token(d.doc_id, _))))
        .map(d => s"raw token array of doc ${d.doc_id} differs")
      (tierErr ++ rawErr).headOption
    }

    /** One cold ladder run; returns (wall seconds, per-stage results, store dir). */
    def ladderRun(opSpan: Int): (Double, Map[String, RollupJob.StageResult], Path) = {
      val dir = freshStore()
      val (res, wall) = time(ctx.call("jobs.RollupJob.run", opSpan) {
        RollupJob.run(spark, input, dir.toString, ladderHorizons = Horizons)
      })
      (wall, res, dir)
    }

    // warm-up: JIT and codegen on one full run over the first docs
    val warmS = time {
      val small = ctx.dir("ladder/warm-in").toString
      Gen.writeTokenDocs(spark, docs.take(WarmDocs), small)
      val store = freshStore()
      RollupJob.run(spark, small, store.toString, ladderHorizons = Horizons)
      deleteTree(store)
    }._2
    ctx.put("setup_s", median(genS) + warmS, "s")

    var bytesPerPoint = Seq.empty[Double]
    var stageSums = Map.empty[String, Double]
    var resumeS = Seq.empty[Double]
    var storeStats = Map.empty[String, Double]
    def runOps(seconds: Double): Seq[Double] = ctx.loop(ctx.opsFor(seconds, NominalOpS, minOps = 2)) { _ =>
      val (wall, res, dir) = ctx.op("ladder.op")(ladderRun)
      val store = new SnapshotStore(dir.toString)
      val err = check(store)
      err.foreach(e => { ctx.failed += 1; ctx.fail(e) })
      val bytes = committedBytes(dir)
      bytesPerPoint :+= bytes.values.map(_._1).sum.toDouble / points
      if (ctx.tracer.isDefined) {
        def st(names: String*) = names.map(n => res(n).wallMs / 1e3).sum
        val parts = Map(
          "jobs.rollup.stage_s.raw" -> st("raw"),
          "jobs.rollup.stage_s.rollup_1m" -> st("rollup_1m"),
          "jobs.rollup.stage_s.cascade" -> st("rollup_5m", "rollup_1h", "rollup_1d"),
          "jobs.rollup.stage_s.retention" -> st("retention_1m", "retention_5m", "retention_1h"),
          "jobs.rollup.bookkeeping_s" -> (wall - res.values.map(_.wallMs / 1e3).sum))
        stageSums = parts.map { case (k, v) => k -> (stageSums.getOrElse(k, 0.0) + v) }
        resumeS :+= time(RollupJob.run(spark, input, dir.toString, ladderHorizons = Horizons))._2
        storeStats = Map(
          "jobs.store.commits" -> bytes.values.map(_._2).sum.toDouble,
          "jobs.store.files" -> bytes.values.map(_._3).sum.toDouble,
          "jobs.store.bytes_raw" -> bytes.get("raw").map(_._1).getOrElse(0L).toDouble,
          "jobs.store.bytes_tiers" -> bytes.filter(_._1.startsWith("tier_")).values.map(_._1).sum.toDouble)
      }
      ctx.notePeak()
      deleteTree(dir)
      if (err.isDefined) Double.NaN else wall
    }

    if (!ctx.traced) {
      val walls = runOps(ctx.seconds)
      ctx.put("op_p50_s", median(walls), "s")
      ctx.put("work_per_s", points / median(walls), "1/s")
      ctx.extra("samples") = walls.size.toString
    } else {
      val traced = tracedPhases(ctx)(runOps)._1
      val n = traced.size.toDouble
      val all = ctx.plainLat.toSeq ++ traced
      stageSums.foreach { case (k, v) => ctx.put(k, v / n, "s") }
      storeStats.foreach { case (k, v) => ctx.put(k, v, if (k.contains("bytes")) "bytes" else "count") }
      ctx.put("jobs.rollup.resume_s", median(resumeS), "s")
      ctx.put("jobs.store.bytes_per_point", median(bytesPerPoint), "bytes")
      ctx.put("exec.cpu_ns_per_point", ctx.metrics("exec.task_cpu_s")._1 * 1e9 / points, "ns")
      // core scaling: the same op on a one-core session
      val ppsN = points / median(all)
      ctx.spark.stop()
      ctx.spark = session(1, ctx.root)
      val one = time(RollupJob.run(ctx.spark, input, freshStore().toString, ladderHorizons = Horizons))._2
      ctx.put("ladder.core_scaling", ppsN / (ctx.cores * (points / one)), "ratio")
    }
  }
}
