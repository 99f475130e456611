package graftbench

import graft.jobs.{DedupJob, SnapshotStore}
import org.apache.spark.sql.DataFrame

/** `dedup`: set-up runs `DedupJob.run` over a generated corpus with planted
 * near-copies; one op is one `DedupJob.runDelta` over a seeded batch of new
 * docs. The incremental labeling must equal a full run over the final
 * corpus (the closure property `runDelta` documents). */
object DedupWL {
  import PerfMain._

  val CorpusDocs = 4000
  val DeltaDocs = 400
  val MaxDeltas = 16
  /** One `runDelta` on a 4-vCPU VM. */
  val NominalOpS = 4.0
  val CopyShare = 0.3
  val SetupReps = 3

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val base = ctx.dir("dedup")
    var corpus: IndexedSeq[Gen.TextDoc] = null
    var deltas: IndexedSeq[IndexedSeq[Gen.TextDoc]] = null
    var planted: IndexedSeq[(Long, Long)] = null
    var corpusDir = ""
    val deltaRoot = base.resolve("deltas").toString
    def deltaDir(k: Int) = s"$deltaRoot/batch=$k"
    val genS = (1 to SetupReps).map { rep =>
      time {
        val (c, p0) = Gen.textDocs(ctx.seed, 0, 0, CorpusDocs, CopyShare, IndexedSeq.empty)
        var pool = c
        var pl = p0
        deltas = (0 until MaxDeltas).map { k =>
          val (d, p) = Gen.textDocs(ctx.seed, k + 1, CorpusDocs + k.toLong * DeltaDocs, DeltaDocs, CopyShare, pool)
          pool = pool ++ d
          pl = pl ++ p
          d
        }
        corpus = c
        planted = pl
        corpusDir = base.resolve(s"corpus-$rep").toString
        Gen.writeTextDocs(spark, corpus, corpusDir)
        Gen.writeTextBatches(spark, deltas, deltaRoot)
      }._2
    }
    def allDocs(nDeltas: Int): DataFrame = spark.read.parquet(corpusDir +: (0 until nDeltas).map(deltaDir): _*)

    // warm-up on a throw-away store: the full run and one delta
    val warmS = time {
      val warm = new SnapshotStore(base.resolve("warm").toString)
      DedupJob.run(spark, allDocs(0), warm)
      DedupJob.runDelta(spark, allDocs(1), spark.read.parquet(deltaDir(0)).select("doc_id"), warm)
      deleteTree(base.resolve("warm"))
    }._2
    ctx.put("setup_s", median(genS) + warmS, "s")

    // the measured full run, after the warm-up; its store takes the deltas
    val store = new SnapshotStore(base.resolve("store").toString)
    val fullS = time(DedupJob.run(spark, allDocs(0), store))._2

    var applied = 0
    val tracedResults = scala.collection.mutable.ArrayBuffer.empty[DedupJob.DeltaResult]
    def runOps(seconds: Double): Seq[Double] = ctx.loop(math.min(ctx.opsFor(seconds, NominalOpS, minOps = 3), MaxDeltas - applied)) { _ =>
      val k = applied
      applied += 1
      val (r, lat) = ctx.op("dedup.op") { opSpan =>
        time(ctx.call("jobs.DedupJob.runDelta", opSpan) {
          DedupJob.runDelta(spark, allDocs(k + 1), spark.read.parquet(deltaDir(k)).select("doc_id"), store)
        })
      }
      if (ctx.tracer.isDefined) tracedResults += r
      val total = CorpusDocs + (k + 1).toLong * DeltaDocs
      if (r.resumed || r.keptDocs + r.droppedDocs != total) {
        ctx.failed += 1
        ctx.fail(s"delta $k: kept+dropped ${r.keptDocs + r.droppedDocs} != $total docs")
        Double.NaN
      } else lat
    }
    val lats = if (!ctx.traced) runOps(ctx.seconds) else tracedPhases(ctx)(runOps)._1
    ctx.notePeak()

    // check: the incremental labeling == a full run over the final corpus
    val finalDocs = allDocs(applied)
    val got = store.read(spark, store.latest("dedup_keep").get).select("doc_id", "rep_id", "keep")
    val fresh = new SnapshotStore(base.resolve("check").toString)
    val want = fresh.read(spark, DedupJob.run(spark, finalDocs, fresh).keep).select("doc_id", "rep_id", "keep")
    val gotRows = got.collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    val wantRows = want.collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    if (gotRows != wantRows) {
      ctx.fail(s"incremental labeling != full run over the final corpus " +
        s"(${(gotRows diff wantRows).size} rows differ)")
      ctx.failed = ctx.attempted
    }

    if (!ctx.traced) {
      ctx.put("op_p50_s", median(lats), "s")
      ctx.put("work_per_s", CorpusDocs / fullS, "1/s")
      ctx.extra("samples") = lats.size.toString
    } else {
      val rep = gotRows.map(r => r._1 -> r._2).toMap
      val maxId = CorpusDocs + applied.toLong * DeltaDocs
      val live = planted.filter(_._1 < maxId)
      ctx.put("operators.dedup.planted_recall",
        live.count { case (a, b) => rep(a) == rep(b) }.toDouble / live.size, "ratio")
      val rs = tracedResults
      val cand = rs.map(_.candidatePairs).sum.toDouble
      val ver = rs.map(_.verifiedPairs).sum.toDouble
      ctx.put("operators.dedup.candidate_pairs", cand / rs.size, "count")
      ctx.put("operators.dedup.verified_pairs", ver / rs.size, "count")
      ctx.put("operators.dedup.verify_yield", if (cand > 0) ver / cand else 0.0, "ratio")
      val bytes = committedBytes(base.resolve("store"))
      ctx.put("jobs.store.commits", bytes.values.map(_._2).sum.toDouble, "count")
      ctx.put("jobs.store.files", bytes.values.map(_._3).sum.toDouble, "count")
    }
  }
}
