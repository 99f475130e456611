package graft

import java.nio.file.{Files, Path}

import graft.sources.Parquet
import org.apache.spark.sql.types.TimestampNTZType

/** The input reader: the schema a footer read on the driver yields equals
 * the one a schema-inferring read infers, and building a read runs no
 * Spark job. */
class ParquetSpec extends SparkSpec {

  private val tables = Seq(
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "events", "documents", "embeddings")

  test("input reader: every fixture table's schema equals inference exactly; building a read runs no job") {
    for (t <- tables) {
      val path = s"${sf("sf0.001")}/$t.parquet"
      val inferred = spark.read.parquet(path).schema
      assert(Parquet.read(spark, path).schema == inferred, t)
      assert(jobsDuring(Parquet.read(spark, path)) == 0, s"$t: building the read must run no job")
    }
    // the cases a lossy conversion would miss: TIMESTAMP_NTZ and nullability
    val events = Parquet.read(spark, s"${sf("sf0.001")}/events.parquet").schema
    assert(events("ts").dataType == TimestampNTZType)
    assert(events.fields.forall(_.nullable), events.treeString)
  }

  test("input reader: a multi-part directory reads whole; _SUCCESS, .crc and hidden files are skipped") {
    import spark.implicits._
    val dir = tmpDir("graft-parquet-").resolve("t")
    (1 to 40).map(i => (i, s"v$i", i * 0.5)).toDF("k", "s", "x").repartition(3).write.parquet(dir.toString)
    val listed = Files.list(dir).toArray.map(_.asInstanceOf[Path].getFileName.toString)
    assert(listed.count(_.startsWith("part-")) == 3 && listed.contains("_SUCCESS") && listed.exists(_.endsWith(".crc")),
      listed.mkString(", "))
    // junk that sorts before every part file: a footer read of any of it fails
    Files.writeString(dir.resolve("_junk"), "not parquet")
    Files.writeString(dir.resolve(".hidden"), "not parquet")
    Files.createDirectories(dir.resolve("_temporary")).resolve("part-0").toFile.createNewFile()
    val read = Parquet.read(spark, dir.toString)
    assert(read.schema == spark.read.parquet(dir.toString).schema)
    assert(read.as[(Int, String, Double)].collect().sortBy(_._1).toSeq ==
      (1 to 40).map(i => (i, s"v$i", i * 0.5)))
  }

  test("input reader: a missing path or a directory with no data file fails, naming the path") {
    val missing = tmpDir("graft-parquet-").resolve("nope.parquet").toString
    val e1 = intercept[java.io.FileNotFoundException](Parquet.read(spark, missing))
    assert(e1.getMessage.contains(missing), e1.getMessage)
    val empty = tmpDir("graft-parquet-").resolve("empty")
    Files.createDirectories(empty)
    Files.writeString(empty.resolve("_SUCCESS"), "")
    Files.writeString(empty.resolve(".part-0.parquet.crc"), "")
    val e2 = intercept[IllegalArgumentException](Parquet.read(spark, empty.toString))
    assert(e2.getMessage.contains(empty.toString), e2.getMessage)
  }
}
