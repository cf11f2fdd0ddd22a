package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType
import org.scalatest.funsuite.AnyFunSuite

import graft.util.Tables

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
}
