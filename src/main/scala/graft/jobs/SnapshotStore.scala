package graft.jobs

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import graft.sources.Parquet
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.graftshim.SparkInternals
import org.apache.spark.sql.types.{DataType, StructType}

/**
 * Iceberg-style snapshot layer over parquet directories (no Iceberg jars
 * ship in this environment, so the table format's load-bearing ideas are
 * implemented directly): immutable data versions + atomically-committed
 * JSON manifests, giving snapshot isolation, idempotent re-runs and
 * checkpoint/resume.
 *
 * Layout per table:
 *   <base>/<table>/data/v<N>/part-*.parquet   (immutable)
 *   <base>/<table>/_snapshots/v<N>.json       (manifest, committed last)
 *
 * A manifest is only visible after an atomic rename, so a crashed writer
 * leaves at most an orphaned data directory, never a half-visible
 * snapshot — the same commit protocol Iceberg uses (spec: metadata file
 * swap). Resumability contract mirrors the reference's Lightning
 * `ckpt_path="last"` resume (reference cli/train.py:185-189): a stage is
 * skipped when a snapshot with the same (stage, fingerprint) already
 * exists.
 *
 * Three methods write a version, and nothing else does: [[stage]] (every
 * job stage and every streaming sink batch — compute-or-resume),
 * [[commitMetrics]] (itself a stage of the `metrics` table) and
 * [[rollbackTo]] (a manifest aliasing an older version's data).
 *
 * A manifest also records the schema a parquet read of its data returns
 * (`schema`), so [[SnapshotStore.read]] hands it to the reader instead of
 * running a Spark job to infer it from a parquet footer. A manifest
 * written before the field existed has None; its data is read through
 * [[graft.sources.Parquet]], which takes the schema from a footer on the
 * driver.
 */
final case class SnapshotInfo(
    table: String,
    version: Int,
    uid: Long, // globally unique commit id — downstream fingerprints chain on it
    stage: String,
    fingerprint: String,
    rowCount: Long,
    dataPath: String,
    schema: Option[StructType] = None)

final class SnapshotStore(base: String) {

  private def tableDir(table: String): Path = Paths.get(base, table)
  private def snapDir(table: String): Path = tableDir(table).resolve("_snapshots")

  // string fields are JSON strings: `\` and `"` are escaped on render and
  // unescaped on parse, so a quote in a path or fingerprint round-trips
  private def parse(j: String): SnapshotInfo = {
    // possessive quantifiers: a schema string is long, and each
    // iteration of the value loop costs the matcher a stack frame
    def opt(k: String): Option[String] = {
      val m = ("\"" + k + "\"\\s*:\\s*(\"((?:[^\"\\\\]++|\\\\.)*+)\"|(\\d+))").r
      m.findFirstMatchIn(j).map(g => Option(g.group(2)).map(unescape).getOrElse(g.group(3)))
    }
    def field(k: String): String = opt(k).getOrElse(sys.error(s"missing $k in manifest"))
    SnapshotInfo(
      field("table"),
      field("version").toInt,
      field("uid").toLong,
      field("stage"),
      field("fingerprint"),
      field("rowCount").toLong,
      field("dataPath"),
      opt("schema").map(DataType.fromJson(_).asInstanceOf[StructType]))
  }

  private def escape(v: String): String = v.replace("\\", "\\\\").replace("\"", "\\\"")
  private def unescape(v: String): String =
    "\\\\(.)".r.replaceAllIn(v, m => scala.util.matching.Regex.quoteReplacement(m.group(1)))

  private def render(s: SnapshotInfo): String =
    s"""{"table": "${escape(s.table)}", "version": ${s.version}, "uid": ${s.uid},
       | "stage": "${escape(s.stage)}", "fingerprint": "${escape(s.fingerprint)}",
       | "rowCount": ${s.rowCount}, "dataPath": "${escape(s.dataPath)}"""".stripMargin +
      s.schema.fold("")(t => s""", "schema": "${escape(t.json)}"""") + "}"

  def snapshots(table: String): Seq[SnapshotInfo] = {
    val d = snapDir(table)
    if (!Files.isDirectory(d)) return Seq.empty
    import scala.jdk.CollectionConverters._
    Files
      .list(d)
      .iterator()
      .asScala
      .filter(_.getFileName.toString.matches("v\\d+\\.json"))
      .map(p => parse(Files.readString(p)))
      .toSeq
      .sortBy(_.version)
  }

  def latest(table: String): Option[SnapshotInfo] = snapshots(table).lastOption

  /** Existing committed snapshot for (stage, fingerprint), if any — the
   * resume check. */
  def find(table: String, stage: String, fingerprint: String): Option[SnapshotInfo] =
    snapshots(table).findLast(s => s.stage == stage && s.fingerprint == fingerprint)

  /** The compute half of [[stage]]: write `df` as the next version of
   * `table`, commit its manifest atomically, and return the committed
   * snapshot with the values observed on the write — `rows` (a reserved
   * name), `counters` and the caller's in-plan `observations` — and the
   * schema a read of the version returns: the written one, every field
   * nullable, as parquet hands it back.
   *
   * Two scale/safety properties:
   *  - the counters ride `df.observe` on the write action itself (NOT a
   *    second full read of the output — at 100x scale a re-read would
   *    double checkpoint I/O);
   *  - the data directory name embeds the commit uid, so two racing
   *    writers targeting the same next-version number write to DISJOINT
   *    directories; the loser's manifest publish fails and its data dir is
   *    left orphaned — never visible, never overwritten. */
  private def commitObserved(
      df: DataFrame,
      table: String,
      stage: String,
      fingerprint: String,
      counters: Seq[Column],
      observations: Seq[Observation]): (SnapshotInfo, Map[String, Long]) = {
    val next = latest(table).map(_.version + 1).getOrElse(1)
    val uid = System.nanoTime()
    val dataPath = tableDir(table).resolve("data").resolve(s"v$next-$uid")
    val obs = Observation(s"commit-$table-v$next-$uid")
    df.observe(obs, count(lit(1)).as("rows"), counters: _*)
      .write.mode("overwrite").parquet(dataPath.toString)
    val observed = (observations :+ obs)
      .flatMap(_.get.map { case (k, v) => k -> v.asInstanceOf[Long] })
      .toMap
    val schema = SparkInternals.asNullable(df.schema)
    val info = publish(
      SnapshotInfo(table, next, uid, stage, fingerprint, observed("rows"), dataPath.toString, Some(schema)))
    (info, observed)
  }

  /** Publish `info` as its table's manifest v<version>.json: write a
   * temporary file, then hard-link it into place. The link is an atomic
   * CREATE-if-absent: it fails with FileAlreadyExistsException when the
   * manifest exists (POSIX link(2) never replaces), unlike
   * rename(2)/ATOMIC_MOVE which silently replaces an existing target — so
   * of two racing writers exactly one publishes vN and the loser's
   * exception surfaces instead of clobbering. */
  private def publish(info: SnapshotInfo): SnapshotInfo = {
    val dir = snapDir(info.table)
    Files.createDirectories(dir)
    val tmp = dir.resolve(s".v${info.version}-${info.uid}.json.tmp")
    Files.write(tmp, render(info).getBytes(StandardCharsets.UTF_8))
    try Files.createLink(dir.resolve(s"v${info.version}.json"), tmp)
    finally Files.deleteIfExists(tmp)
    info
  }

  /** The version's rows. Its recorded schema spares the read a one-task
   * job that infers it from a parquet footer; a manifest without one
   * reads the footer on the driver ([[graft.sources.Parquet]]). Building
   * the read runs no job either way. */
  def read(spark: SparkSession, snap: SnapshotInfo): DataFrame =
    snap.schema.fold(Parquet.read(spark, snap.dataPath))(spark.read.schema(_).parquet(snap.dataPath))

  /** Time travel: the table as of a committed version (Iceberg
   * `VERSION AS OF` semantics — a version is immutable data + manifest,
   * so reading it later returns bit-identical rows regardless of any
   * newer commits). */
  def readVersion(spark: SparkSession, table: String, version: Int): DataFrame = {
    val snap = snapshots(table)
      .find(_.version == version)
      .getOrElse(sys.error(s"$table has no committed version $version"))
    read(spark, snap)
  }

  /** Roll the table back to `version` by committing a NEW version whose
   * manifest points at the old version's (immutable) data — Iceberg's
   * rollback: no data is copied, deleted or rewritten, and the rolled-
   * back-over versions remain readable via [[readVersion]]. The new
   * manifest's stage/fingerprint mark the rollback provenance, so
   * `find`-based resume never confuses it with the stage that first
   * produced the data. */
  def rollbackTo(table: String, version: Int): SnapshotInfo = {
    val target = snapshots(table)
      .find(_.version == version)
      .getOrElse(sys.error(s"$table has no committed version $version to roll back to"))
    val next = latest(table).map(_.version + 1).getOrElse(1)
    require(next > version, s"$table: cannot roll back to unwritten future version $version")
    publish(
      SnapshotInfo(
        table,
        next,
        System.nanoTime(),
        stage = "rollback",
        fingerprint = s"rollback-to-v$version-uid${target.uid}",
        rowCount = target.rowCount,
        dataPath = target.dataPath,
        schema = target.schema))
  }

  /** Expire snapshots older than the newest `keepLast` versions:
   * manifests are deleted first (a version stops being visible before
   * its files go), then each data directory that no SURVIVING manifest
   * references is removed — a rollback target's data stays on disk as
   * long as any live version points at it (the Iceberg
   * expire_snapshots contract: reachable files are never collected).
   * Returns the expired versions. */
  def expireSnapshots(table: String, keepLast: Int): Seq[Int] = {
    require(keepLast >= 1, s"expireSnapshots: keepLast must be >= 1, got $keepLast")
    val all = snapshots(table)
    if (all.size <= keepLast) return Seq.empty
    val (expire, keep) = all.splitAt(all.size - keepLast)
    val liveData = keep.map(_.dataPath).toSet
    expire.foreach { s =>
      Files.deleteIfExists(snapDir(table).resolve(s"v${s.version}.json"))
    }
    expire.filterNot(s => liveData.contains(s.dataPath)).foreach { s =>
      val dir = Paths.get(s.dataPath)
      if (Files.isDirectory(dir)) {
        import scala.jdk.CollectionConverters._
        // close the walk stream deterministically — an unclosed directory
        // stream holds a file descriptor until GC, which accumulates when
        // expiring many versions (round-7 ADVICE)
        val walk = Files.walk(dir)
        try walk.sorted(java.util.Comparator.reverseOrder())
          .iterator().asScala.foreach(Files.deleteIfExists)
        finally walk.close()
      }
    }
    expire.map(_.version)
  }

  /** The one way a job commits a stage: return the existing snapshot for
   * (stage, fingerprint) — the resume — or compute `compute` and commit
   * it. The resume rule holds only if `fingerprint` pins everything the
   * stage reads: its parameters plus the content fingerprint
   * ([[graft.core.Hash.contentFingerprint]]) or snapshot uid of each
   * input. `counters` are aggregates over the committed rows, so they
   * exist on both paths (see [[StageRun]]); `observations` are the
   * caller's in-plan facts about the computation, so they exist only
   * when the stage computed here. */
  def stage(
      table: String,
      stage: String,
      fingerprint: String,
      counters: Seq[Column] = Nil,
      observations: => Seq[Observation] = Nil)(compute: => DataFrame): StageRun =
    find(table, stage, fingerprint) match {
      case Some(s) =>
        // read back on the first ask, in one aggregate job
        new StageRun(s, None, {
          val r = read(SparkSession.active, s).agg(counters.head, counters.tail: _*).head()
          r.getValuesMap[Long](r.schema.fieldNames.toSeq)
        })
      case None =>
        val (s, observed) =
          commitObserved(compute, table, stage, fingerprint, counters, observations)
        new StageRun(s, Some(observed), observed)
    }

  /** The one metrics writer: each (snapshot, metrics) pair becomes rows
   * (stage, snapshot_id = the snapshot's version, metric, value) of ONE
   * new `metrics` table version. The version is keyed on the producing
   * snapshots' uids and resumed like any stage, so a replayed run never
   * appends a duplicate version (anyone summing a counter across versions
   * would double-count it). */
  def commitMetrics(
      spark: SparkSession,
      stage: String,
      observed: (SnapshotInfo, Seq[(String, Double)])*): SnapshotInfo = {
    require(observed.exists(_._2.nonEmpty), s"commitMetrics($stage): no metric rows")
    val rows = for ((snap, metrics) <- observed; (metric, value) <- metrics)
      yield (stage, snap.version.toLong, metric, value)
    val producers = observed.map { case (snap, _) => s"v${snap.version}-${snap.uid}" }
    this
      .stage("metrics", s"metrics_$stage", producers.mkString(";")) {
        spark.createDataFrame(rows).toDF("stage", "snapshot_id", "metric", "value")
      }
      .snap
  }
}

/** A stage as [[SnapshotStore.stage]] left it. A counter (an aggregate
 * over the committed rows) has its value on both paths: observed on the
 * write when the stage computed, read back from the snapshot when it
 * resumed; `rows` is the manifest's row count. An observation exists only
 * when the stage computed. `observed` is everything observed on the write
 * (counters, `rows`, observations); None when resumed. */
final class StageRun private[jobs] (
    val snap: SnapshotInfo,
    val observed: Option[Map[String, Long]],
    readCounters: => Map[String, Long]) {
  def resumed: Boolean = observed.isEmpty

  private lazy val counters = readCounters

  /** Counter `name` over the committed rows, on either path. */
  def counter(name: String): Long = if (name == "rows") snap.rowCount else counters(name)

  /** Observation `name` of the computation; None when resumed. */
  def observation(name: String): Option[Long] = observed.map(_(name))
}
