package graft.util

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.GraftParquetShims
import org.apache.spark.sql.types.{StructType, TimestampType}

/** Loaders for the testdata tables (TESTDATA.md), and
  * the parquet reader every other in-engine parquet read goes through.
  *
  * All parity queries read through here so the scan path is uniform:
  * plain partitioned-parquet scans that Catalyst can push filters and
  * column pruning into.
  */
object Tables {
  /** Exactly the schema `spark.read.parquet(paths: _*)` infers, read
    * from the footer without a Spark job: parquet files declare their schema,
    * so building a query needs no Spark job to find it. Fails loudly,
    * naming the paths, when they hold no data file. */
  def parquetSchema(spark: SparkSession, paths: String*): StructType =
    GraftParquetShims.footerSchema(spark, paths)

  /** `spark.read.parquet(paths: _*)` with the footer's schema declared
    * (see [[parquetSchema]]): the same frame, without the
    * schema-inference job. */
  def parquet(spark: SparkSession, paths: String*): DataFrame =
    spark.read.schema(parquetSchema(spark, paths: _*)).parquet(paths: _*)

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    parquet(spark, s"$dir/$name.parquet")

  def lineitem(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame    = load(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame      = load(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame    = load(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame    = load(spark, dir, "region")
  /** `events.ts` is parquet TIMESTAMP(MICROS, isAdjustedToUTC=false),
    * which Spark scans as TIMESTAMP_NTZ. */
  def events(spark: SparkSession, dir: String): DataFrame =
    withEventTs(load(spark, dir, "events"))
  /** `ts` cast to the session-timezone timestamp the oracles compare
    * against; the session time zone is UTC everywhere here, so the
    * NTZ→LTZ cast keeps the instant. */
  def withEventTs(raw: DataFrame): DataFrame =
    raw.withColumn("ts", raw("ts").cast(TimestampType))
  def documents(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")
}
