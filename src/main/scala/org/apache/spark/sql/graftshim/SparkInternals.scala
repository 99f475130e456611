package org.apache.spark.sql.graftshim

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.SparkContext
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{ColumnNodeToExpressionConverter, Dataset, ExpressionUtils}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** The package-private Spark internals the engine needs: the Column ⇄
 * Expression conversions behind `GraftFunctions.call`, the nullable
 * schema a file-source read returns (`SnapshotStore`'s manifests), the
 * session's Hadoop conf and parquet footer conversion behind
 * `graft.sources.Parquet`, the frame over a logical plan that
 * `graft.core.Deferred` builds, and, for the connected-components rounds,
 * the eager removal of a round's shuffles. */
object SparkInternals {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  // converted now, not deferred to analysis: builders fold literal arguments
  def expression(c: Column): Expression = ColumnNodeToExpressionConverter(c.node)
  def asNullable(s: StructType): StructType = s.asNullable

  private def classic(spark: SparkSession) = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]

  /** Deletes shuffle `shuffleId`'s files and map outputs now, returning
   * when they are gone (the ContextCleaner does it only once a driver GC
   * collects the shuffle's dependency). */
  def removeShuffle(sc: SparkContext, shuffleId: Int): Unit =
    sc.cleaner.foreach(_.doCleanupShuffle(shuffleId, blocking = true))

  /** The DataFrame of `plan`. */
  def dataFrame(spark: SparkSession, plan: LogicalPlan): DataFrame = Dataset.ofRows(classic(spark), plan)

  /** The Hadoop conf a read in this session sees (session `spark.hadoop.*`
   * settings included). */
  def hadoopConf(spark: SparkSession): Configuration = classic(spark).sessionState.newHadoopConf()

  /** The Spark schema of one parquet file, from its footer read here on
   * the driver: the converter and session settings (binary-as-string,
   * INT96, TIMESTAMP_NTZ inference, the writer's own Spark schema in the
   * footer metadata) a schema-inferring read applies to the file it
   * samples. */
  def parquetFooterSchema(spark: SparkSession, file: FileStatus, conf: Configuration): StructType = {
    val options = HadoopReadOptions.builder(conf).withMetadataFilter(ParquetMetadataConverter.SKIP_ROW_GROUPS).build()
    val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(file, conf), options)
    val meta = try reader.getFooter finally reader.close()
    ParquetFileFormat.readSchemaFromFooter(
      new Footer(file.getPath, meta),
      new ParquetToSparkSchemaConverter(classic(spark).sessionState.conf))
  }
}
