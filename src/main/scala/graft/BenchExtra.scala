package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Side benchmark for focused optimization work — NOT the driver contract
 * (that is [[Bench]], frozen). Times individual registered queries in
 * isolation with the same session config and full-consumption action as
 * Bench, and dumps `.explain("formatted")` per query so plan claims in
 * OPTIMIZATION_r08.md are reproducible.
 *
 * Env:
 *   SPARK_GRAFT_SF_DIR   data dir (default /root/testdata/sf0.1)
 *   SPARK_GRAFT_CPUS     local[N] + shuffle partitions (default 4)
 *   SPARK_GRAFT_ONLY     comma-separated query names (default: all)
 *   SPARK_GRAFT_REPS     timed repetitions per query (default 3, min kept)
 *   SPARK_GRAFT_PLANDIR  if set, write <dir>/<query>.txt explain output
 */
object BenchExtra {

  /** Full-consumption timing action, the same contract as the frozen
   * [[Bench]]'s private copy: count + hash-sum over EVERY output column,
   * so Catalyst cannot prune aggregate expressions out of a timed plan
   * (the count()-pruning lesson — see Bench.consumeAll's doc). Any future
   * protocol fix must be applied to both. */
  private def consumeAll(df: org.apache.spark.sql.DataFrame): Long = {
    import org.apache.spark.sql.functions.{col, hash, sum, count => cnt, lit}
    df.select(
        cnt(lit(1)).as("n"),
        sum(hash(df.columns.map(col): _*).cast("long")).as("h"))
      .first()
      .getLong(0)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val reps = math.max(1, sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt)
    val planDir = sys.env.get("SPARK_GRAFT_PLANDIR")
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val spark = SparkSession
      .builder()
      .master(s"local[$cpus]")
      .appName(s"graft-bench-extra-$cpus")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // warmup (session init + codegen JIT, misattributed to the first query otherwise)
    try SparkEntry.queries("q_rollup_1m")(spark, sfDir).count()
    catch { case e: Throwable => System.err.println(s"[bench-extra] warmup failed: $e") }
    val suite = SparkEntry.queries.toSeq
      .filter(q => only.forall(_.contains(q._1)))
      .sortBy(_._1)
    planDir.foreach(d => new java.io.File(d).mkdirs())
    val out = new StringBuilder
    for ((name, fn) <- suite) {
      spark.sparkContext.setJobDescription(name)
      planDir.foreach { d =>
        val plan =
          try fn(spark, sfDir).queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          catch { case e: Throwable => s"explain failed: $e" }
        Files.write(
          Paths.get(s"$d/$name.txt"),
          plan.getBytes(StandardCharsets.UTF_8))
      }
      val times =
        (1 to reps).map { _ =>
          val t0 = System.nanoTime()
          try { consumeAll(fn(spark, sfDir)); (System.nanoTime() - t0) / 1e9 }
          catch {
            case e: Throwable =>
              System.err.println(s"[bench-extra] $name failed: $e"); Double.NaN
          }
        }
      val ok = times.filterNot(_.isNaN)
      val line =
        if (ok.isEmpty) f"$name%-28s FAILED (all $reps reps; see stderr)"
        else f"$name%-28s min=${ok.min}%7.3f  runs=[${times.map(t => f"$t%.3f").mkString(", ")}]"
      println(line)
      out.append(line).append('\n')
    }
    spark.stop()
  }
}
