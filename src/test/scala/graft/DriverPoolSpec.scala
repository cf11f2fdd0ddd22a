package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

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
}
