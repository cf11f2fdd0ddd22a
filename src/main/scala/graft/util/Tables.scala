package graft.util

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.TimestampType

/** Loaders for the driver-provided testdata tables (TESTDATA.md).
  *
  * All parity queries read through here so the scan path is uniform:
  * plain partitioned-parquet scans that Catalyst can push filters and
  * column pruning into.
  */
object Tables {
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def lineitem(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame    = load(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame      = load(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame    = load(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame    = load(spark, dir, "region")
  /** `events.ts` is parquet TIMESTAMP(NANOS), which Spark scans as
    * TIMESTAMP_NTZ (micros, nanos floored). */
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
