package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, count, hash, lit, sum}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(dir: String): String = s"/root/testdata/$dir"

  private val tmpDirs = new java.util.concurrent.ConcurrentLinkedQueue[Path]

  /** A fresh temp directory named `<prefix><random>`, deleted with its
   * contents when the suite ends. */
  def tmpDir(prefix: String): Path = {
    val dir = Files.createTempDirectory(prefix)
    tmpDirs.add(dir)
    dir
  }

  override protected def afterAll(): Unit =
    try super.afterAll()
    finally tmpDirs.forEach { dir =>
      val walk = Files.walk(dir)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.deleteIfExists(p))
      finally walk.close()
    }

  /** (row count, sum of row hashes over every column): equal for two
   * DataFrames holding the same rows in any order. */
  def countHash(df: DataFrame): (Long, Long) = {
    val r = df
      .select(
        count(lit(1)),
        coalesce(sum(hash(df.columns.toIndexedSeq.map(c => col(s"`$c`")): _*).cast("long")), lit(0L)))
      .first()
    (r.getLong(0), r.getLong(1))
  }

  /** The Spark jobs `body` submits, one `spark.job.description` each (""
   * when the job has none), in start order. A listener keeps the jobs
   * started under a test-only local property; a marker job run afterwards
   * proves the listener bus has delivered every start event of `body`. */
  def jobsOf(body: => Unit): Seq[String] = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val key = "graft.test.jobsDuring"
    val started = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).foreach { p =>
          Option(p.getProperty(key)).foreach(tag =>
            started.add(tag -> Option(p.getProperty("spark.job.description")).getOrElse("")))
        }
    }
    def tagged(tag: String)(f: => Unit): Unit = {
      sc.setLocalProperty(key, tag)
      try f
      finally sc.setLocalProperty(key, null)
    }
    sc.addSparkListener(listener)
    try {
      tagged("body")(body)
      tagged("marker")(sc.parallelize(Seq(1), 1).count())
      def seen = started.toArray(Array.empty[(String, String)]).toSeq
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!seen.exists(_._1 == "marker") && System.nanoTime() < deadline) Thread.sleep(10)
      assert(seen.exists(_._1 == "marker"), "the listener never saw the marker job")
      seen.collect { case ("body", description) => description }
    } finally sc.removeSparkListener(listener)
  }

  /** The first `E` in `e`'s cause chain (`e` itself when none is): a
   * failure raised while a query executes may reach the action wrapped. */
  def causeOf[E <: Throwable: scala.reflect.ClassTag](e: Throwable): E =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).collectFirst { case c: E => c }.getOrElse(throw e)

  /** How many Spark jobs `body` runs (see [[jobsOf]]). */
  def jobsDuring(body: => Unit): Int = jobsOf(body).size

  /** Session confs that run every expression through its interpreted
   * `eval`: no whole-stage codegen, no generated projections. */
  val codegenOff: Seq[(String, String)] = Seq(
    "spark.sql.codegen.wholeStage" -> "false",
    "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")

  /** `body` with the session confs `kvs` set, each restored afterwards. */
  def withConfs[T](kvs: (String, String)*)(body: => T): T = {
    val saved = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      kvs.foreach { case (k, v) => spark.conf.set(k, v) }
      body
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession
      .builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // a generated-code compile error fails the test instead of running
      // the stage interpreted with only an ERROR log line
      .config("spark.sql.codegen.fallback", "false")
      // public registration path under test (ExtensionsSpec): every new
      // session gets the graft functions without an imperative register()
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
