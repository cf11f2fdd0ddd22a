package graft.pipeline

import java.time.LocalDate
import java.util.concurrent.ConcurrentHashMap

import scala.util.{Failure, Success, Try}

import graft.util.DriverPool

/** Minimal DAG runner — the engine-native replacement for the
  * reference's Airflow orchestration.
  *
  * Reference provenance: DAG fan-out/fan-in
  * dags/deftunes_api_pipeline.py:182-189, monthly schedule + catchup
  * :30-34, window params {{ds}}/{{next_ds}} :63-65, retries :13-20,
  * blocking DQ gate :120-149.
  *
  * Stages are declared dependencies first and run on
  * [[graft.util.DriverPool.gated]], one thread per stage: a stage starts
  * as soon as its own dependencies finish, so independent stages run
  * concurrently (the fan-out of the two API extracts). A failed stage
  * (after retries) or a failed DQ gate halts everything downstream of
  * it, mirroring Airflow's `wait_for_completion=True` quality gates;
  * its siblings still run.
  */
final case class RunWindow(start: LocalDate, endExclusive: LocalDate) {
  /** The reference's `ingest_date` = {{ next_ds }} (the window end). */
  def ingestDate: LocalDate = endExclusive
  /** The reference's api end_date = {{ macros.ds_add(next_ds, -1) }}. */
  def endInclusive: LocalDate = endExclusive.minusDays(1)
}

object RunWindow {
  /** Monthly windows covering [start, end) — the `0 0 1 * *` +
    * `catchup=True` backfill schedule as data, not a scheduler. */
  def monthly(start: LocalDate, endExclusive: LocalDate): Seq[RunWindow] =
    Iterator.iterate(start.withDayOfMonth(1))(_.plusMonths(1))
      .takeWhile(_.isBefore(endExclusive))
      .map(d => RunWindow(d, d.plusMonths(1)))
      .toSeq
}

sealed trait StageOutcome
case object StageOk extends StageOutcome
/** A data-quality gate that evaluated false — halts downstream stages
  * without being an exception (it is an expected, reportable verdict). */
final case class GateFailed(reason: String) extends StageOutcome

final case class Stage(name: String, deps: Seq[String] = Nil)(
    val run: RunWindow => StageOutcome)

/** One stage's result in a window. `startMs`/`endMs` are the wall-clock
  * epoch milliseconds around all of its attempts; a stage that was
  * skipped never ran and reports 0 for both. */
final case class StageReport(stage: String, attempts: Int,
    outcome: Try[StageOutcome], startMs: Long = 0L, endMs: Long = 0L) {
  def seconds: Double = (endMs - startMs) / 1e3
}

final case class PipelineResult(window: RunWindow, reports: Seq[StageReport]) {
  def succeeded: Boolean = reports.forall(_.outcome == Success(StageOk))
  def report(name: String): Option[StageReport] = reports.find(_.stage == name)
}

final class Pipeline(val name: String, stages: Seq[Stage],
    retries: Int = 1) {
  require(stages.map(_.name).distinct.size == stages.size,
    s"duplicate stage names in pipeline $name")
  private val byName = stages.map(s => s.name -> s).toMap
  stages.zipWithIndex.foreach { case (s, i) =>
    val earlier = stages.take(i).map(_.name).toSet
    s.deps.foreach(d => require(earlier.contains(d),
      s"stage ${s.name} depends on $d, which is not an earlier stage"))
  }

  /** Run one window. A stage starts once its own dependencies finished;
    * one below a failed stage is skipped and names that stage. */
  def run(window: RunWindow): PipelineResult = {
    val done = new ConcurrentHashMap[String, StageReport]()
    // the stage that failed: a skipped upstream passes on its own cause
    def failedUpstream(s: Stage): Option[String] =
      s.deps.find(d => done.get(d).outcome != Success(StageOk))
        .map(d => failedUpstream(byName(d)).getOrElse(d))
    val reports = DriverPool.gated(stages.size, stages.map(_.name))(
        byName(_).deps) { n =>
      val s = byName(n)
      val report = failedUpstream(s).fold(runWithRetries(s, window))(d =>
        StageReport(n, 0, Failure(new IllegalStateException(
          s"skipped: upstream stage $d failed"))))
      done.put(n, report)
      report
    }
    PipelineResult(window, reports)
  }

  /** Sequential backfill over many windows (`max_active_runs=1`).
    * With a `ledgerDir`, completed windows are recorded durably and a
    * restarted backfill SKIPS them — Airflow's persisted dag-run
    * history for `catchup=True` (deftunes_api_pipeline.py:30-34).
    * Without one, idempotent writes (K6) still make a full re-run
    * correct; the ledger just stops a 100-window backfill from
    * recomputing the 99 windows that already landed. Only windows
    * actually executed appear in the returned results. */
  def backfill(windows: Seq[RunWindow],
      ledgerDir: Option[String] = None): Seq[PipelineResult] =
    windows.flatMap { w =>
      if (ledgerDir.exists(d => RunLedger.isComplete(d, name, w))) None
      else {
        val result = run(w)
        if (result.succeeded)
          ledgerDir.foreach(d => RunLedger.markComplete(d, name, w))
        Some(result)
      }
    }

  private def runWithRetries(s: Stage, w: RunWindow): StageReport = {
    val startMs = System.currentTimeMillis()
    val (attempts, outcome) = runAttempts(s, w)
    StageReport(s.name, attempts, outcome, startMs,
      System.currentTimeMillis())
  }

  private def runAttempts(s: Stage, w: RunWindow)
      : (Int, Try[StageOutcome]) = {
    var attempt = 0
    var last: Try[StageOutcome] = Failure(new IllegalStateException("not run"))
    while (attempt <= retries &&
        (attempt == 0 || last.isFailure)) {
      attempt += 1
      last = Try(s.run(w))
      last match {
        case Success(GateFailed(_)) =>
          // a DQ verdict is final — do not retry a deterministic gate
          return (attempt, Failure(new IllegalStateException(
            s"quality gate failed: ${last.get}")))
        case _ => ()
      }
    }
    (attempt, last)
  }
}

/** Durable per-window completion markers for [[Pipeline.backfill]] —
  * one zero-byte-ish JSON file per (pipeline, window) under a ledger
  * directory, written ATOMICALLY (temp file + rename) only after every
  * stage of the window succeeded. A crashed backfill leaves no marker
  * for the in-flight window, so resume re-runs exactly the incomplete
  * suffix. Goes through the Hadoop FileSystem API, so the ledger can
  * live next to the lake (file://, hdfs://, s3a://...) — the moral
  * equivalent of Airflow's dag-run table, kept in the lake instead of
  * a metadata database. */
object RunLedger {
  private def fileSystem(dir: String): org.apache.hadoop.fs.FileSystem =
    new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(new org.apache.hadoop.conf.Configuration())

  private def marker(dir: String, pipeline: String,
      w: RunWindow): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(dir,
      s"${pipeline}_${w.start}_${w.endExclusive}.done.json")

  def isComplete(dir: String, pipeline: String, w: RunWindow): Boolean =
    fileSystem(dir).exists(marker(dir, pipeline, w))

  def markComplete(dir: String, pipeline: String, w: RunWindow): Unit = {
    val fs = fileSystem(dir)
    val target = marker(dir, pipeline, w)
    val tmp = new org.apache.hadoop.fs.Path(dir,
      s".${target.getName}.tmp")
    val out = fs.create(tmp, true)
    try out.write(
      (s"""{"pipeline":"$pipeline","window_start":"${w.start}",""" +
        s""""window_end_exclusive":"${w.endExclusive}"}""" + "\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    if (!fs.rename(tmp, target)) {
      fs.delete(tmp, false)
      // a concurrent writer winning the rename left the marker we
      // wanted anyway; anything else is a real failure
      require(fs.exists(target), s"could not commit ledger marker $target")
    }
  }

  /** Completed windows recorded for `pipeline`, for observability. */
  def completed(dir: String, pipeline: String): Seq[String] = {
    val fs = fileSystem(dir)
    val p = new org.apache.hadoop.fs.Path(dir)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq.map(_.getPath.getName)
      .filter(n => n.startsWith(s"${pipeline}_") && n.endsWith(".done.json"))
      .sorted
  }
}
