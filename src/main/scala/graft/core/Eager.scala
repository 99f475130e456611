package graft.core

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession

/** Names for the Spark jobs the engine runs on its own account rather than
 * as a query's plan: q_csv_lsf's CSV export, the one action left that runs
 * while a DataFrame is built, and the jobs a [[Deferred]] step runs when
 * its query executes (the connected-components rounds, the mergeLate
 * guard). Their jobs carry a `spark.job.description` ending in the
 * operator's site, so a listener or profile attributes them to the
 * operator instead of to the query that happens to be running. */
object Eager {

  private val DescriptionKey = "spark.job.description"

  /** `body` with every job it submits from this thread described as
   * `"<description> at <File>.scala:<line>"`, the site being the caller
   * of `named`; the caller's description is restored afterwards. A
   * description also replaces the call site as the SQL execution's
   * description, so it keeps the site in the form Spark's own call sites
   * take. */
  def named[T](spark: SparkSession, description: String)(body: => T): T =
    describing(spark.sparkContext, site()) { describe => describe(description); body }

  /** `body`, handed a `describe` that names every job this thread submits
   * after it `"<description> at <site>"`; the caller's description is
   * restored afterwards. */
  private[core] def describing[T](sc: SparkContext, site: String)(body: (String => Unit) => T): T = {
    val saved = sc.getLocalProperty(DescriptionKey)
    try body(description => sc.setJobDescription(s"$description at $site"))
    finally sc.setLocalProperty(DescriptionKey, saved)
  }

  /** `<File>.scala:<line>` of the first frame outside `graft.core`: the
   * operator that called [[named]] or built a [[Deferred]] step. */
  private[core] def site(): String =
    new Throwable().getStackTrace.iterator
      .find(f => !f.getClassName.startsWith("graft.core."))
      .map(f => s"${f.getFileName}:${f.getLineNumber}")
      .getOrElse("?")
}
