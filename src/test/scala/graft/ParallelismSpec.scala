package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, GraftSqlShims}
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.util.{Parallelism, TempDirs}

class ParallelismSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private lazy val slots = spark.sparkContext.defaultParallelism

  /** One parquet file of `rows` ids: a scan of a single split. */
  private def oneFile(rows: Int): DataFrame = {
    val dir = TempDirs.create("graft-spread").resolve("t").toString
    spark.range(0, rows, 1, 1).toDF("id").write.parquet(dir)
    spark.read.parquet(dir)
  }

  private def shuffles(df: DataFrame) =
    df.queryExecution.sparkPlan.collect { case e: ShuffleExchangeExec => e }

  test("a single-split, exchange-free frame is hash-spread over every " +
    "slot by an exchange AQE may not coalesce") {
    assume(slots > 1, "one slot: nothing to spread over")
    val df = oneFile(500)
    val out = Parallelism.spread(df, "id")
    val Seq(ex) = shuffles(out)
    assert(ex.shuffleOrigin == REPARTITION_BY_NUM)
    assert(ex.outputPartitioning.numPartitions == slots)
    assert(ex.outputPartitioning.toString.contains("id"))
    assert(out.rdd.getNumPartitions == slots)
    assert(out.orderBy("id").collect().map(_.getLong(0)).toSeq ==
      (0L until 500L))
  }

  test("a frame with a partition per slot comes back unchanged") {
    val df = spark.range(0, 100, 1, slots).toDF("id")
    val out = Parallelism.spread(df, "id")
    assert(out eq df)
  }

  test("a frame whose plan already shuffles comes back unchanged") {
    val grouped = spark.range(0, 100, 1, 1)
      .groupBy((col("id") % 3).as("g")).count()
    assert(Parallelism.spread(grouped, "g") eq grouped)
    val repartitioned = spark.range(0, 100, 1, 1).toDF("id").repartition(1)
    assert(Parallelism.spread(repartitioned, "id") eq repartitioned)
  }

  test("the probe starts no Spark job") {
    val df = oneFile(50)
    val many = spark.range(0, 100, 1, slots).toDF("id")
    val grouped = df.groupBy(col("id") % 2).count()
    val jobs = new ConcurrentLinkedQueue[String]()
    val marker = "graft.test.spread"
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(marker)))
          .foreach(jobs.add)
    }
    spark.sparkContext.addSparkListener(listener)
    val sc = spark.sparkContext
    try {
      sc.setLocalProperty(marker, "probe")
      Parallelism.spread(df, "id")
      Parallelism.spread(many, "id")
      Parallelism.spread(grouped, "id")
      // a marked job the listener must see: the drain delivered it
      sc.setLocalProperty(marker, "sentinel")
      spark.range(1).count()
      GraftSqlShims.waitForListeners(spark)
      assert(jobs.contains("sentinel"))
      assert(jobs.asScala.count(_ == "probe") == 0)
    } finally {
      sc.setLocalProperty(marker, null)
      sc.removeSparkListener(listener)
    }
  }
}
