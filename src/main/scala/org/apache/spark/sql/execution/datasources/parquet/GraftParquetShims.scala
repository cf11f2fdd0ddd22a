package org.apache.spark.sql.execution.datasources.parquet

import org.apache.parquet.hadoop.ParquetFileWriter

import org.apache.spark.sql.{AnalysisException, SparkSession, classic}
import org.apache.spark.sql.execution.datasources.{DataSource,
  InMemoryFileIndex, PartitioningUtils}
import org.apache.spark.sql.types.StructType

/** Bridge into Spark's parquet footer reader, which is package-private
  * to this package. Standard extension-library shim: no Spark internals
  * are modified. */
object GraftParquetShims {

  /** The schema `spark.read.parquet(paths: _*)` infers (mergeSchema
    * off), read from one footer in the calling JVM: Spark's inference
    * picks the same file (a `_common_metadata`, else `_metadata`, else
    * the first data file by path), converts it the same way (Spark's
    * row metadata first, then the parquet types under the session's
    * conversion settings) and appends the partition columns the
    * directory names declare. Spark runs a job to read that one footer;
    * this reads it in place. Paths that do not exist fail as Spark's
    * reader does; paths with no data file fail with the paths named. */
  def footerSchema(spark: SparkSession, paths: Seq[String]): StructType = {
    val session = spark.asInstanceOf[classic.SparkSession]
    val conf = session.sessionState.conf
    val hadoopConf = session.sessionState.newHadoopConf()
    val roots = DataSource.checkAndGlobPathIfNecessary(paths, hadoopConf,
      checkEmptyGlobPath = true, checkFilesExist = true,
      enableGlobbing = true)
    val index = new InMemoryFileIndex(session, roots, Map.empty, None)
    val files = index.allFiles().sortBy(_.getPath.toString)
    def named(n: String) = files.find(_.getPath.getName == n)
    val summary = Set(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE,
      ParquetFileWriter.PARQUET_METADATA_FILE)
    val file = named(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE)
      .orElse(named(ParquetFileWriter.PARQUET_METADATA_FILE))
      .orElse(files.find(f => !summary(f.getPath.getName)))
    val footers = ParquetFileFormat.readParquetFootersInParallel(
      hadoopConf, file.toSeq, conf.ignoreCorruptFiles)
    val data = ParquetFileFormat.readSchema(footers, session).getOrElse(
      throw new AnalysisException("UNABLE_TO_INFER_SCHEMA",
        Map("format" -> s"Parquet at ${paths.mkString(", ")}")))
    PartitioningUtils.mergeDataAndPartitionSchema(data.asNullable,
      index.partitionSchema, conf.caseSensitiveAnalysis)._1
  }
}
