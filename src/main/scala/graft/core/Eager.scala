package graft.core

import org.apache.spark.sql.SparkSession

/** Names for the eager Spark actions the engine runs while a DataFrame is
 * still being built (the connected-components rounds, the mergeLate
 * guard, the CSV export of q_csv_lsf): their jobs carry a
 * `spark.job.description`, so a listener or profile attributes them to
 * the operator instead of to the query that happens to be building. */
object Eager {

  private val DescriptionKey = "spark.job.description"

  /** `body` with every job it submits from this thread described as
   * `"<description> at <File>.scala:<line>"`, the site being the caller
   * of `named`; the caller's description is restored afterwards. A
   * description also replaces the call site as the SQL execution's
   * description, so it keeps the site in the form Spark's own call sites
   * take. */
  def named[T](spark: SparkSession, description: String)(body: => T): T = {
    val sc = spark.sparkContext
    val saved = sc.getLocalProperty(DescriptionKey)
    sc.setJobDescription(s"$description at ${callerSite()}")
    try body
    finally sc.setLocalProperty(DescriptionKey, saved)
  }

  /** `<File>.scala:<line>` of the first frame outside this object. */
  private def callerSite(): String =
    new Throwable().getStackTrace.iterator
      .find(f => !f.getClassName.startsWith("graft.core.Eager"))
      .map(f => s"${f.getFileName}:${f.getLineNumber}")
      .getOrElse("?")
}
