package graft.sources

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftshim.SparkInternals
import org.apache.spark.sql.types.StructType

/**
 * The one reader of the engine's input parquet tables.
 *
 * A parquet read that declares no schema infers one while the DataFrame
 * is built: a one-task Spark job (`parquet at <file>:<line>`) reads a
 * footer on an executor, about 0.1 s of fixed cost per table read on a
 * local session, and a query that joins six tables pays it six times
 * before it is even planned. This reader reads the same footer on the
 * driver and hands the schema to `spark.read.schema(_)`: the schema still
 * comes from the file, converted by Spark's own footer converter under
 * the session's settings, so it equals the inferred one, and building the
 * read runs no job. Snapshot tables read through `SnapshotStore.read`,
 * whose manifests record their schema.
 */
object Parquet {

  /** The parquet table at `path`, read with the schema taken from one
   * data file's footer on the driver. */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(schema(spark, path)).parquet(path)

  /** The schema a schema-inferring read of `path` (a parquet file or a
   * directory of part files) returns. Like that read, it samples one
   * data file and assumes the parts agree; `_*` and `.*` names
   * (`_SUCCESS`, `.crc` checksums, hidden files) are not data. A missing
   * path, or a directory with no data file, fails here, naming the path. */
  private def schema(spark: SparkSession, path: String): StructType = {
    val conf = SparkInternals.hadoopConf(spark)
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    if (!fs.exists(root)) throw new java.io.FileNotFoundException(s"parquet input $path does not exist")
    val file = firstDataFile(fs, fs.getFileStatus(root)).getOrElse(
      throw new IllegalArgumentException(s"parquet input $path holds no data file"))
    SparkInternals.parquetFooterSchema(spark, file, conf)
  }

  private def hidden(p: Path): Boolean = p.getName.startsWith("_") || p.getName.startsWith(".")

  /** The first data file under `st` in name order, depth first. */
  private def firstDataFile(fs: FileSystem, st: FileStatus): Option[FileStatus] =
    if (st.isFile) Some(st)
    else
      fs.listStatus(st.getPath)
        .filterNot(c => hidden(c.getPath))
        .sortBy(_.getPath.getName)
        .iterator
        .flatMap(firstDataFile(fs, _))
        .nextOption()
}
