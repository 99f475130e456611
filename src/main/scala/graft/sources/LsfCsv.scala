package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * CSV ingestion path — the engine's descendant of the reference's LSF CSV
 * benchmark loaders (uni2ts/src/uni2ts/eval_util/_lsf_dataset.py:9-196):
 * schema-declared `spark.read.csv` with the loader's S/M/MS variate modes
 * as column selection, plus the loaders' train-stat normalization step
 * (there: per-column mean/std from the train split; here: exact
 * parts-per-million weights from the per-source total, keeping the oracle
 * discipline integer-exact).
 *
 * The builder direction (documents -> CSV on disk) mirrors
 * SimpleDatasetBuilder writing external formats to disk
 * (data/builder/simple.py:195-229); reading NEVER infers the schema —
 * a declared StructType reaches the scan, so the CSV source prunes and
 * pushes down like any other (schema inference would be a second full
 * pass at 100 TB).
 */
object LsfCsv {

  val schema: StructType = StructType(
    Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("source", StringType, nullable = false),
      StructField("n_chars", LongType, nullable = false)))

  /** Deterministic CSV export of the documents metadata (no text payload —
   * column selection before the write, the cheap direction).
   *
   * WARNING: coalesce(1) funnels the write through ONE task. That is the
   * point here — LSF benchmark fixtures are single small CSV files — but
   * this helper must NOT be reused for real tables; a large export should
   * write partitioned CSV (drop the coalesce) or parquet. */
  def writeCsv(spark: SparkSession, sfDir: String, outPath: String): Unit =
    graft.core.Eager.named(spark, "LsfCsv.writeCsv: export the documents metadata") {
      Parquet
        .read(spark, s"$sfDir/documents.parquet")
        .select(col("doc_id").cast("long"), col("source"), col("n_chars").cast("long"))
        .coalesce(1)
        .write
        .mode("overwrite")
        .option("header", "true")
        .csv(outPath)
    }

  /** Schema-declared CSV read with the LSF variate modes:
   *  - "S"  (single-variate): id + value column only
   *  - "M"  (multivariate):   all columns
   *  - "MS" (multi + id target): all, value last (the LSF 'target last'
   *    convention) */
  def read(spark: SparkSession, path: String, mode: String): DataFrame = {
    val all = spark.read.option("header", "true").schema(schema).csv(path)
    mode match {
      case "S" => all.select("doc_id", "n_chars")
      case "M" => all
      case "MS" => all.select("doc_id", "source", "n_chars")
      case other => throw new IllegalArgumentException(s"unknown LSF mode: $other")
    }
  }
}
