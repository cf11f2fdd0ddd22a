package graft.util

import scala.collection.mutable

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, GraftSqlShims, SparkSession}
import org.apache.spark.sql.execution.{FormattedMode, SQLExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Per-query layer record: where one query's time and bytes went.
  * [[measure]] times building the DataFrame (eager jobs the builder
  * starts included), Catalyst planning and execution on the frame's own
  * `QueryExecution`, with a `SparkListener` registered around the call
  * for the jobs, stages, tasks and task metrics. Shuffle, spill, CPU and
  * task counts cover the whole measured window (build and execution);
  * `jobs` counts execution jobs only, `buildJobs` the ones before it.
  * `codegenCompiles` is JVM-wide: every class Spark's code generator
  * compiled during the call, this query's or another thread's.
  */
object Telemetry {

  /** One Spark job of a measured query. `startS` is seconds from the
    * start of the measurement; `gapS` is the driver time before the job
    * that no earlier job of the query covers. */
  final case class Job(id: Int, build: Boolean, startS: Double,
      durS: Double, gapS: Double, stages: Int, tasks: Int, site: String)

  final case class Record(
      buildS: Double, planS: Double, execS: Double,
      /** execution time that no job covers: driver-side work */
      gapS: Double,
      buildJobs: Int, jobs: Int, stages: Int, tasks: Int,
      taskRunS: Double, taskCpuS: Double,
      shuffleWriteBytes: Long, shuffleWriteRecords: Long,
      shuffleReadBytes: Long, spillBytes: Long,
      rowsOut: Long, reusedExchanges: Int,
      /** generated classes compiled in the JVM over the measurement
        * (cache misses of Spark's code generator, any thread's) */
      codegenCompiles: Long,
      jobList: Seq[Job],
      /** the executed (final, when adaptive) plan, formatted */
      plan: String) {
    def wallS: Double = buildS + planS + execS

    /** How many bytes move per output row: the number that decides
      * whether a query survives a 100× scale-up. */
    def shuffleBytesPerOutputRow: Double =
      if (rowsOut == 0) 0.0 else shuffleWriteBytes.toDouble / rowsOut

    /** The record as one JSON object, without the plan text. */
    def json: String = {
      def obj(kv: (String, Any)*) =
        kv.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
      def num(d: Double) = f"$d%.3f"
      obj("build_s" -> num(buildS), "plan_s" -> num(planS),
        "exec_s" -> num(execS), "gap_s" -> num(gapS),
        "build_jobs" -> buildJobs, "jobs" -> jobs, "stages" -> stages,
        "tasks" -> tasks, "task_run_s" -> num(taskRunS),
        "task_cpu_s" -> num(taskCpuS),
        "shuffle_write_bytes" -> shuffleWriteBytes,
        "shuffle_write_records" -> shuffleWriteRecords,
        "shuffle_read_bytes" -> shuffleReadBytes,
        "spill_bytes" -> spillBytes, "rows_out" -> rowsOut,
        "reused_exchanges" -> reusedExchanges,
        "codegen_compiles" -> codegenCompiles,
        "job_list" -> jobList.map(j => obj("id" -> j.id,
          "build" -> j.build, "start_s" -> num(j.startS),
          "dur_s" -> num(j.durS), "gap_s" -> num(j.gapS),
          "stages" -> j.stages, "tasks" -> j.tasks,
          "site" -> quote(j.site))).mkString("[", ",", "]"))
    }
  }

  private def quote(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")

  /** Jobs, stages and task metrics as the listener bus delivers them.
    * Tasks count only for stages of a job seen starting here, so events
    * of jobs begun before the measurement are ignored. SQL executions
    * are recorded with their call site: adaptive execution starts its
    * query-stage jobs from a stage-materialization thread, whose own
    * call site names a `CompletableFuture` frame, not the query. */
  private final class Recorder extends SparkListener {
    final class J(val start: SparkListenerJobStart) {
      var end = -1L
      var stages, tasks = 0
    }
    val jobs = mutable.ArrayBuffer.empty[J]
    val stageJob = mutable.Map.empty[Int, J]
    val executionSite = mutable.Map.empty[String, String]
    var runMs, cpuNs, shufW, shufWRec, shufR, spill = 0L

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val j = new J(e)
      jobs += j
      e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = j)
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart => synchronized {
        executionSite(x.executionId.toString) = x.description
      }
      case _ =>
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.find(_.start.jobId == e.jobId).foreach(_.end = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        stageJob.get(e.stageInfo.stageId).foreach(_.stages += 1)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      stageJob.get(e.stageId).foreach { j =>
        j.tasks += 1
        Option(e.taskMetrics).foreach { m =>
          runMs += m.executorRunTime
          cpuNs += m.executorCpuTime
          shufW += m.shuffleWriteMetrics.bytesWritten
          shufWRec += m.shuffleWriteMetrics.recordsWritten
          shufR += m.shuffleReadMetrics.totalBytesRead
          spill += m.diskBytesSpilled
        }
      }
    }
  }

  /** ReusedExchange nodes in the executed plan, through adaptive stages
    * and subqueries. Both ReusedExchange and ReusedSubquery are leaves,
    * so nothing reused is walked twice. */
  private def reusedExchanges(p: SparkPlan): Int = {
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case _ => p.children
    }
    (if (p.isInstanceOf[ReusedExchangeExec]) 1 else 0) +
      (kids ++ p.subqueries).map(reusedExchanges).sum
  }

  /** Build the frame, plan it and execute it on its OWN QueryExecution
    * (`toRdd.count()` in a new SQL execution: nothing collected, no
    * separate count plan), then drain the listener bus and return the
    * record. The session must be active before the call: the listener
    * is registered on it before `build` runs. */
  def measure(build: => DataFrame): Record = {
    val spark = SparkSession.active
    // earlier queries' events must not reach this query's recorder
    GraftSqlShims.waitForListeners(spark)
    val rec = new Recorder
    spark.sparkContext.addSparkListener(rec)
    val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    try {
      val t0Ms = System.currentTimeMillis
      val t0 = System.nanoTime()
      val qe = build.queryExecution
      val t1 = System.nanoTime()
      qe.executedPlan
      val t2 = System.nanoTime()
      val execMs = System.currentTimeMillis
      // inside an SQL execution, as every action runs, so that the
      // query-stage jobs adaptive execution starts carry its call site
      val rows = SQLExecution.withNewExecutionId(qe)(qe.toRdd.count())
      val t3 = System.nanoTime()
      val endMs = System.currentTimeMillis
      GraftSqlShims.waitForListeners(spark)
      val compiles =
        CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
      rec.synchronized {
        // walk the jobs in start order: the gap before each job, and the
        // union of the execution jobs' intervals within execution
        var lastEnd = t0Ms
        var covered = 0L
        val jobList = rec.jobs.sortBy(_.start.time).toSeq.map { j =>
          val start = j.start.time
          val end = if (j.end >= start) j.end else endMs
          val inBuild = start < execMs
          if (!inBuild)
            covered += math.max(0L,
              math.min(end, endMs) - math.max(start, lastEnd))
          val gap = math.max(0L, start - lastEnd)
          lastEnd = math.max(lastEnd, end)
          val props = Option(j.start.properties)
          def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
          val site = prop("spark.sql.execution.id")
            .flatMap(rec.executionSite.get)
            .orElse(prop("spark.job.description"))
            .orElse(j.start.stageInfos.sortBy(_.stageId).lastOption.map(_.name))
            .getOrElse("")
          Job(j.start.jobId, inBuild, (start - t0Ms) / 1e3,
            (end - start) / 1e3, gap / 1e3, j.stages, j.tasks, site)
        }
        val execS = (t3 - t2) / 1e9
        Record(
          buildS = (t1 - t0) / 1e9, planS = (t2 - t1) / 1e9, execS = execS,
          gapS = math.min(execS, math.max(0.0, execS - covered / 1e3)),
          buildJobs = jobList.count(_.build),
          jobs = jobList.count(!_.build),
          stages = jobList.map(_.stages).sum,
          tasks = jobList.map(_.tasks).sum,
          taskRunS = rec.runMs / 1e3, taskCpuS = rec.cpuNs / 1e9,
          shuffleWriteBytes = rec.shufW, shuffleWriteRecords = rec.shufWRec,
          shuffleReadBytes = rec.shufR, spillBytes = rec.spill,
          rowsOut = rows, reusedExchanges = reusedExchanges(qe.executedPlan),
          codegenCompiles = compiles,
          jobList = jobList, plan = qe.explainString(FormattedMode))
      }
    } finally spark.sparkContext.removeSparkListener(rec)
  }
}
