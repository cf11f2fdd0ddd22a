package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{AnalysisException, GraftSqlShims}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{MetadataBuilder, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

import graft.util.{Tables, TempDirs}

class TablesSpec extends AnyFunSuite {
  private val sf = "/root/testdata/sf0.001"

  test("events.ts reads as a session timestamp without touching the " +
    "session's conf") {
    val spark = SparkTestSession.spark.newSession()
    val before = spark.conf.getAll
    val events = Tables.events(spark, sf)
    assert(events.schema("ts").dataType == TimestampType)
    assert(spark.conf.getAll == before)
    assert(!spark.conf.getAll.contains("spark.sql.legacy.parquet.nanosAsLong"))
    assert(events.filter(col("ts").isNull).count() == 0)
    assert(events.agg(min(year(col("ts")))).head().getInt(0) > 2000)
  }

  private val fixtures = Seq("lineitem", "orders", "customer", "supplier",
    "part", "nation", "region", "events", "documents", "embeddings")

  private def inferred(path: String) =
    SparkTestSession.spark.read.parquet(path).schema

  test("the footer schema is the inferred schema of every fixture table " +
    "at every scale") {
    val spark = SparkTestSession.spark
    val testdata = new java.io.File(sf).getParent
    for (sfDir <- Seq("sf0.001", "sf0.01", "sf0.1"); t <- fixtures) {
      val path = s"$testdata/$sfDir/$t.parquet"
      assert(Tables.parquetSchema(spark, path) == inferred(path), path)
    }
  }

  test("the footer schema of a Spark-written partitioned directory " +
    "carries its partition columns and Spark's field metadata") {
    val spark = SparkTestSession.spark
    val dir = TempDirs.create("graft-footer").resolve("t").toString
    val note = new MetadataBuilder().putString("comment", "kept").build()
    spark.range(0, 40, 1, 4).toDF("id")
      .select(col("id"), col("id").cast("short").as("small", note),
        (col("id") % 3).cast("int").as("p"))
      .write.partitionBy("p").parquet(dir)
    assert(Files.exists(java.nio.file.Paths.get(dir, "_SUCCESS")))
    val schema = Tables.parquetSchema(spark, dir)
    assert(schema == inferred(dir))
    assert(schema.fieldNames.toSeq == Seq("id", "small", "p"))
    assert(schema("small").metadata.getString("comment") == "kept")
    // the metadata comes from Spark's row metadata in the footer
    val file = new java.io.File(s"$dir/p=0").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
      new Path(file.toString), spark.sparkContext.hadoopConfiguration))
    try assert(reader.getFooter.getFileMetaData.getKeyValueMetaData
      .containsKey("org.apache.spark.sql.parquet.row.metadata"))
    finally reader.close()
    val single = file.toString
    assert(Tables.parquetSchema(spark, single) == inferred(single))
    assert(Tables.parquet(spark, dir).count() == 40)
  }

  test("footer schemas start no Spark job") {
    val spark = SparkTestSession.spark
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    GraftSqlShims.waitForListeners(spark)
    spark.sparkContext.addSparkListener(listener)
    try {
      fixtures.foreach(t => Tables.load(spark, sf, t).schema)
      GraftSqlShims.waitForListeners(spark)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs.get == 0)
  }

  test("a directory with no data file fails loudly, naming the path") {
    val spark = SparkTestSession.spark
    val empty = TempDirs.create("graft-empty")
    Files.createFile(empty.resolve("_SUCCESS"))
    val err = intercept[AnalysisException] {
      Tables.parquetSchema(spark, empty.toString)
    }
    assert(err.getMessage.contains("Unable to infer schema"), err.getMessage)
    assert(err.getMessage.contains(empty.toString), err.getMessage)
  }
}
