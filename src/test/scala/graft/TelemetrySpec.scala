package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.util.{Tables, Telemetry}

class TelemetrySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  test("narrow query reports zero shuffle, full scan counts") {
    val part = Tables.part(spark, sf)
    val m = Telemetry.measure(part.select(col("p_partkey"), col("p_name")))
    assert(m.rowsOut > 0)
    assert(m.shuffleWriteBytes == 0L, s"narrow map shuffled: $m")
    assert(m.rowsOut == part.count())
    assert(m.jobs >= 1 && m.tasks >= 1)
  }

  test("aggregation reports shuffle volume and per-row cost") {
    val lineitem = Tables.lineitem(spark, sf)
    val m = Telemetry.measure(
      lineitem.groupBy(col("l_orderkey")).agg(sum(col("l_quantity"))))
    assert(m.rowsOut > 0)
    assert(m.shuffleWriteBytes > 0L, s"groupBy without shuffle? $m")
    assert(m.shuffleWriteRecords > 0L)
    assert(m.shuffleReadBytes > 0L)
    assert(m.shuffleBytesPerOutputRow > 0.0)
    // partial aggregation: shuffled records must not exceed input rows
    assert(m.shuffleWriteRecords <= lineitem.count())
  }

  private def selfJoinedAgg = {
    val agg = Tables.lineitem(spark, sf)
      .groupBy(col("l_orderkey")).agg(sum(col("l_quantity")).as("q"))
    (agg, agg.as("a").join(agg.as("b"), "l_orderkey"))
  }

  test("AQE exchange reuse is not double-counted (ReusedExchange)") {
    // self-join on an aggregated subquery: AQE plans ONE shuffle and a
    // ReusedExchange for the second occurrence, which runs no tasks
    val (agg, selfJoined) = selfJoinedAgg
    val m = Telemetry.measure(selfJoined)
    assume(m.reusedExchanges >= 1,
      "planner did not reuse the exchange; nothing to assert")
    // baseline: the same agg measured once, joined against a distinct
    // (non-reusable) copy would write the shuffle twice; with reuse the
    // measured bytes must be ~one shuffle's worth, i.e. strictly less
    // than 1.5× a single agg's shuffle volume
    val single = Telemetry.measure(agg)
    assert(m.shuffleWriteBytes > 0)
    assert(m.shuffleWriteBytes < single.shuffleWriteBytes * 3 / 2,
      s"reused exchange double-counted: joined=$m single=$single")
  }

  test("a reused exchange is counted in the final plan") {
    val m = Telemetry.measure(selfJoinedAgg._2)
    assert(m.reusedExchanges >= 1, m.plan)
    assert(m.plan.contains("== Final Plan =="), m.plan)
    assert(m.plan.contains("ReusedExchange"), m.plan)
  }

  test("build, plan and exec add up to the wall time; gaps lie within " +
    "execution") {
    def query = Tables.lineitem(spark, sf)
      .groupBy(col("l_suppkey")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc)
    Telemetry.measure(query) // warm the plan and explain paths
    val t0 = System.nanoTime()
    val m = Telemetry.measure(query)
    val wall = (System.nanoTime() - t0) / 1e9
    assert(math.abs(wall - m.wallS) <= 0.05, s"wall $wall s vs $m")
    assert(m.buildS >= 0 && m.planS >= 0 && m.execS > 0)
    assert(m.gapS >= 0 && m.gapS <= m.execS, m)
    assert(m.jobList.filterNot(_.build).forall(j => j.durS >= 0), m)
  }

  test("jobs the builder starts are build jobs, not execution jobs") {
    val m = Telemetry.measure(
      spark.range(0, 1000, 1, 4).toDF("id")
        .withColumn("k", col("id") % 7)
        .localCheckpoint(true)
        .groupBy("k").count())
    assert(m.buildJobs >= 1, m)
    assert(m.jobs >= 1, m)
    val (build, exec) = m.jobList.partition(_.build)
    assert(build.size == m.buildJobs && exec.size == m.jobs)
    assert(build.map(_.id).intersect(exec.map(_.id)).isEmpty)
    assert(build.map(_.id).max < exec.map(_.id).min)
    assert(m.rowsOut == 7)
  }

  test("adaptive query-stage jobs report their SQL execution's call " +
    "site") {
    def shuffled(m: Int) = spark.range(0, 2000, 1, 4).toDF("id")
      .groupBy((col("id") % m).as("k")).count()
    val m = Telemetry.measure {
      assert(shuffled(13).collect().length == 13)
      shuffled(7)
    }
    assert(m.buildJobs >= 2 && m.jobs >= 2, m.json)
    assert(m.jobList.forall(_.site.nonEmpty), m.json)
    assert(!m.jobList.exists(_.site.contains("CompletableFuture")), m.json)
  }

  test("a query's first run compiles generated classes and an " +
      "identical second run compiles none") {
    // a literal no other test uses, so the first run's code is new
    val salt = 1000003L + scala.util.Random.nextInt(1 << 30)
    def query = spark.range(0, 1000, 1, 2).toDF("id")
      .select((col("id") * lit(salt) % 97).as("m"))
      .groupBy(col("m")).agg(sum(col("m")).as("s"))
    val first = Telemetry.measure(query)
    assert(first.codegenCompiles > 0, first.json)
    val second = Telemetry.measure(query)
    assert(second.codegenCompiles == 0, second.json)
  }

  test("the record prints as one JSON line") {
    val m = Telemetry.measure(spark.range(10).toDF("id"))
    assert(!m.json.contains("\n"))
    Seq("build_s", "plan_s", "exec_s", "gap_s", "build_jobs", "jobs",
      "stages", "tasks", "task_run_s", "task_cpu_s", "shuffle_write_bytes",
      "shuffle_write_records", "shuffle_read_bytes", "spill_bytes",
      "rows_out", "reused_exchanges", "codegen_compiles", "job_list")
      .foreach(k => assert(m.json.contains(s""""$k":"""), k))
    assert(m.json.contains(""""rows_out":10,"""))
  }
}
