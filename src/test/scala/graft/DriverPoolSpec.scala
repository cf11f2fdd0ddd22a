package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.GraftSqlShims
import org.scalatest.funsuite.AnyFunSuite

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

  /** Runs `tasks` on the pool from a frame of its own: a job whose call
    * site names this method was attributed to the pool's caller. */
  private def poolCaller(threads: Int)(tasks: (() => Long)*): Seq[Long] =
    DriverPool.all(threads)(tasks: _*)

  test("jobs started on pool threads carry the caller's call site, and " +
    "the calling thread's own call site is untouched") {
    val spark = SparkTestSession.spark
    val sc = spark.sparkContext
    val sites = new ConcurrentLinkedQueue[(String, String)]()
    val marker = "graft.test.pool"
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(marker)))
          .foreach(m => sites.add(m ->
            e.stageInfos.headOption.map(_.details).getOrElse("")))
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(marker, "pool")
      val after = new ConcurrentLinkedQueue[Option[String]]()
      val job = () => {
        val n = spark.range(10).count()
        after.add(Option(sc.getLocalProperty("callSite.long")))
        n
      }
      assert(poolCaller(2)(job, job) == Seq(10L, 10L))
      assert(after.asScala.forall(_.exists(_.contains("poolCaller"))))
      assert(sc.getLocalProperty("callSite.long") == null,
        "the calling thread's call site was touched")
      GraftSqlShims.waitForListeners(spark)
      val pooled = sites.asScala.collect { case ("pool", d) => d }.toSeq
      assert(pooled.size >= 2)
      pooled.foreach { d =>
        assert(d.linesIterator.next().contains("DriverPoolSpec.poolCaller"), d)
        assert(!d.contains("graft.util.DriverPool"), d)
      }
    } finally {
      sc.setLocalProperty(marker, null)
      sc.removeSparkListener(listener)
    }
  }
}
