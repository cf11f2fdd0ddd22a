package graft

import java.time.LocalDate
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.util.Success

import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline._
import graft.util.TempDirs

class RunnerSpec extends AnyFunSuite {

  private val w = RunWindow(LocalDate.parse("2020-02-01"),
    LocalDate.parse("2020-03-01"))

  test("RunWindow monthly backfill covers the catchup range") {
    val ws = RunWindow.monthly(LocalDate.parse("2020-02-01"),
      LocalDate.parse("2020-05-01"))
    assert(ws.map(_.start.toString) ==
      Seq("2020-02-01", "2020-03-01", "2020-04-01"))
    assert(ws.head.ingestDate.toString == "2020-03-01")
    assert(ws.head.endInclusive.toString == "2020-02-29")
  }

  test("stages run in dependency order with fan-out") {
    val log = new ConcurrentLinkedQueue[String]()
    // each extract waits (up to 10 s) until both have started, then
    // holds 20 ms: run concurrently, their stage timings overlap by at
    // least that; run one after the other, they cannot overlap
    val extracts = new CountDownLatch(2)
    def stage(n: String, deps: String*) =
      Stage(n, deps)(_ => { log.add(n); StageOk })
    def extract(n: String) = Stage(n, Seq("start"))(_ => {
      extracts.countDown()
      extracts.await(10, TimeUnit.SECONDS)
      Thread.sleep(20)
      log.add(n); StageOk
    })
    val p = new Pipeline("api", Seq(
      stage("start"),
      extract("users_extract"), extract("sessions_extract"),
      stage("transform", "users_extract", "sessions_extract"),
      stage("dq_users", "transform"), stage("dq_sessions", "transform"),
      stage("dbt", "dq_users", "dq_sessions")))
    val res = p.run(w)
    assert(res.succeeded)
    val order = log.toArray.map(_.toString).toSeq
    assert(order.indexOf("transform") > order.indexOf("users_extract"))
    assert(order.indexOf("transform") > order.indexOf("sessions_extract"))
    assert(order.indexOf("dbt") > order.indexOf("dq_users"))
    res.reports.foreach(r => assert(r.endMs >= r.startMs, r.stage))
    val (u, s) = (res.report("users_extract").get,
      res.report("sessions_extract").get)
    assert(math.min(u.endMs, s.endMs) > math.max(u.startMs, s.startMs),
      s"extracts did not overlap: $u $s")
    assert(res.report("transform").get.startMs >=
      math.max(u.endMs, s.endMs))
  }

  test("a failed DQ gate halts downstream stages, not siblings") {
    val ran = new ConcurrentLinkedQueue[String]()
    val p = new Pipeline("gated", Seq(
      Stage("transform")(_ => { ran.add("transform"); StageOk }),
      Stage("dq", Seq("transform"))(_ => GateFailed("nulls found")),
      Stage("dbt", Seq("dq"))(_ => { ran.add("dbt"); StageOk }),
      Stage("side", Seq("transform"))(_ => { ran.add("side"); StageOk })))
    val res = p.run(w)
    assert(!res.succeeded)
    assert(!ran.contains("dbt"), "dbt must not run after failed gate")
    assert(ran.contains("side"), "unrelated sibling must still run")
  }

  test("a dependency must name an earlier stage") {
    def reject(stages: Stage*) =
      intercept[IllegalArgumentException](new Pipeline("p", stages))
        .getMessage
    val forward = reject(Stage("a", Seq("b"))(_ => StageOk),
      Stage("b")(_ => StageOk))
    assert(forward.contains("stage a depends on b"), forward)
    val self = reject(Stage("a")(_ => StageOk),
      Stage("b", Seq("b"))(_ => StageOk))
    assert(self.contains("stage b depends on b"), self)
  }

  test("a stage starts when its own dependencies finish, not its wave") {
    // b holds until c starts; c needs only a. Run in waves, c would wait
    // for b's wave to end and b would time out
    val cStarted = new CountDownLatch(1)
    val p = new Pipeline("per-stage", Seq(
      Stage("a")(_ => StageOk),
      Stage("b")(_ =>
        if (cStarted.await(10, TimeUnit.SECONDS)) StageOk
        else throw new IllegalStateException("c waited for b's wave")),
      Stage("c", Seq("a"))(_ => { cStarted.countDown(); StageOk }),
      Stage("d", Seq("b"))(_ => StageOk)), retries = 0)
    val res = p.run(w)
    assert(res.succeeded, res.reports)
    assert(res.report("c").get.startMs <= res.report("b").get.endMs)
  }

  test("a stage two levels below a failed gate is skipped and names it") {
    val ran = new ConcurrentLinkedQueue[String]()
    def stage(n: String, deps: String*) =
      Stage(n, deps)(_ => { ran.add(n); StageOk })
    val p = new Pipeline("skips", Seq(stage("transform"),
      Stage("dq", Seq("transform"))(_ => GateFailed("nulls found")),
      stage("dbt", "dq"), stage("views", "dbt"), stage("side", "transform")))
    val res = p.run(w)
    assert(ran.toArray.map(_.toString).toSet == Set("transform", "side"))
    assert(res.report("dq").get.outcome.failed.get.getMessage
      .contains("nulls found"))
    Seq("dbt", "views").foreach { n =>
      val r = res.report(n).get
      assert(r.attempts == 0 && r.startMs == 0L && r.endMs == 0L, r)
      assert(r.outcome.failed.get.getMessage ==
        "skipped: upstream stage dq failed", r)
    }
  }

  test("retries: a flaky stage succeeds on attempt 2") {
    val attempts = new java.util.concurrent.atomic.AtomicInteger(0)
    val p = new Pipeline("flaky", Seq(
      Stage("s")(_ =>
        if (attempts.incrementAndGet() < 2)
          throw new RuntimeException("transient")
        else StageOk)), retries = 1)
    val res = p.run(w)
    assert(res.succeeded)
    assert(res.report("s").get.attempts == 2)
  }

  test("gate failures are not retried (deterministic verdicts)") {
    val attempts = new java.util.concurrent.atomic.AtomicInteger(0)
    val p = new Pipeline("gate-noretry", Seq(
      Stage("dq")(_ => { attempts.incrementAndGet(); GateFailed("bad") })),
      retries = 3)
    val res = p.run(w)
    assert(!res.succeeded)
    assert(attempts.get() == 1)
  }

  test("backfill runs windows sequentially") {
    val seen = new ConcurrentLinkedQueue[String]()
    val p = new Pipeline("bf", Seq(
      Stage("s")(win => { seen.add(win.start.toString); StageOk })))
    val results = p.backfill(RunWindow.monthly(
      LocalDate.parse("2020-02-01"), LocalDate.parse("2020-04-01")))
    assert(results.forall(_.succeeded))
    assert(seen.toArray.map(_.toString).toSeq ==
      Seq("2020-02-01", "2020-03-01"))
  }

  test("ledgered backfill resumes where a crashed run stopped") {
    val ledger = TempDirs.create("runledger").toString
    val windows = RunWindow.monthly(
      LocalDate.parse("2020-02-01"), LocalDate.parse("2020-05-01"))
    val ran = new ConcurrentLinkedQueue[String]()
    // first attempt "crashes" during the second window: the stage
    // throws, so no marker lands for it (and retries are exhausted)
    val crashy = new Pipeline("bf-ledger", Seq(
      Stage("s")(win => {
        ran.add(win.start.toString)
        if (win.start.toString == "2020-03-01")
          throw new RuntimeException("executor lost")
        StageOk
      })), retries = 0)
    val first = crashy.backfill(windows, ledgerDir = Some(ledger))
    assert(first.map(_.window.start.toString) ==
      Seq("2020-02-01", "2020-03-01", "2020-04-01"))
    assert(RunLedger.completed(ledger, "bf-ledger").size == 2)
    // resume with a healthy pipeline of the same name: ONLY the window
    // that never completed re-runs
    ran.clear()
    val healthy = new Pipeline("bf-ledger", Seq(
      Stage("s")(win => { ran.add(win.start.toString); StageOk })))
    val resumed = healthy.backfill(windows, ledgerDir = Some(ledger))
    assert(resumed.map(_.window.start.toString) == Seq("2020-03-01"))
    assert(ran.toArray.map(_.toString).toSeq == Seq("2020-03-01"))
    assert(RunLedger.completed(ledger, "bf-ledger").size == 3)
    // fully caught up: a third invocation runs nothing at all
    assert(healthy.backfill(windows, ledgerDir = Some(ledger)).isEmpty)
    // the ledger is per-pipeline: another pipeline sees no history
    assert(RunLedger.completed(ledger, "other").isEmpty)
  }
}
