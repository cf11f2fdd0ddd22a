package graft

import java.time.LocalDate
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.GraftSqlShims
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.{Pipeline, RunWindow, Stage, StageOk, StageOutcome}
import graft.util.DriverPool

class DriverPoolSpec extends AnyFunSuite {

  test("tasks run concurrently") {
    val both = new CountDownLatch(2)
    def task(): Boolean = { both.countDown(); both.await(10, TimeUnit.SECONDS) }
    assert(DriverPool.all(2)(() => task(), () => task()) == Seq(true, true))
  }

  test("every task settles before the first failure in input order is " +
    "rethrown with its original type") {
    val ran = new ConcurrentLinkedQueue[String]()
    val e = intercept[AssertionError](DriverPool.all(3)(
      () => { Thread.sleep(100); throw new AssertionError("first") },
      () => throw new IllegalStateException("second, but sooner"),
      () => { Thread.sleep(300); ran.add("sibling") }))
    assert(e.getMessage == "first")
    assert(ran.asScala.toSeq == Seq("sibling"))
  }

  test("a dependent waits for its dependency and fails with its error") {
    val log = new ConcurrentLinkedQueue[String]()
    def run(failA: Boolean) = DriverPool.gated(3, Seq("a", "b", "c"))(
      k => if (k == "b") Seq("a") else Nil) { k =>
      if (k == "a") {
        Thread.sleep(100)
        if (failA) throw new IllegalArgumentException("a failed")
      }
      log.add(k); k
    }
    assert(run(failA = false) == Seq("a", "b", "c"))
    val order = log.asScala.toSeq
    assert(order.indexOf("b") > order.indexOf("a"))
    log.clear()
    val e = intercept[IllegalArgumentException](run(failA = true))
    assert(e.getMessage == "a failed")
    assert(log.asScala.toSeq == Seq("c"))
  }

  test("one thread runs the tasks serially, in input order, on the caller") {
    val log = new ConcurrentLinkedQueue[(Int, Thread)]()
    val out = DriverPool.all(1)((0 until 4).map(i =>
      () => { log.add((i, Thread.currentThread())); i }): _*)
    assert(out == (0 until 4))
    assert(log.asScala.toSeq == (0 until 4).map(_ -> Thread.currentThread()))
  }

  /** A pipeline stage's body: one job of its own, and one in
    * [[pooledTask]] on a pool it starts. Each job names its method in
    * the `marker` local property. */
  private def stageBody(sc: SparkContext, marker: String): StageOutcome = {
    sc.setLocalProperty(marker, "stageBody")
    sc.parallelize(1 to 10, 2).count()
    DriverPool.all(2)(() => pooledTask(sc, marker), () => 0L)
    StageOk
  }

  private def pooledTask(sc: SparkContext, marker: String): Long = {
    sc.setLocalProperty(marker, "pooledTask")
    sc.parallelize(1 to 10, 2).count()
  }

  test("jobs started in a pipeline stage, and in a pool within it, carry " +
    "the frame of the code that started them in their call site") {
    val sc = SparkTestSession.spark.sparkContext
    val sites = new ConcurrentLinkedQueue[(String, String)]()
    val marker = "graft.test.site"
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(marker)))
          .foreach(m => sites.add(m ->
            e.stageInfos.headOption.map(_.details).getOrElse("")))
    }
    sc.addSparkListener(listener)
    try {
      val p = new Pipeline("sites", Seq(Stage("extract")(_ => StageOk),
        Stage("transform", Seq("extract"))(_ => stageBody(sc, marker))))
      assert(p.run(RunWindow(LocalDate.parse("2020-02-01"),
        LocalDate.parse("2020-03-01"))).succeeded)
      GraftSqlShims.waitForListeners(SparkTestSession.spark)
      val byMethod = sites.asScala.toSeq.groupMap(_._1)(_._2)
      assert(byMethod.keySet == Set("stageBody", "pooledTask"), byMethod)
      // the long call site holds the frame of the method that started
      // the job, the frame a recorder attributes the job by
      byMethod.foreach { case (m, ds) => ds.foreach(d =>
        assert(d.linesIterator.exists(
          _.startsWith(s"graft.DriverPoolSpec.$m(")), d))
      }
    } finally sc.removeSparkListener(listener)
  }
}
