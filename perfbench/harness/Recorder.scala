package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Listener that keeps every job, stage and task event of a pass, and
  * turns them into per-layer figures once the pass is over. A job is
  * attributed to the program module named by the first `graft.` frame of
  * its call site; a job started by the benchmark's own collect has no
  * such frame and is attributed to the module of the operation. */
final class Recorder extends SparkListener {
  import Recorder._

  private val jobs = mutable.ArrayBuffer.empty[Job]
  private val tasks = mutable.ArrayBuffer.empty[Task]
  private var stagesDone = 0

  // call site of each SQL execution, captured on the thread that started
  // it; adaptive execution submits most jobs from its own threads, whose
  // stacks hold no program frames
  private val execSites = mutable.Map.empty[String, String]

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      synchronized { execSites(s.executionId.toString) = s.details }
    case _ => ()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val site = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(execSites.get)
      .getOrElse(e.stageInfos.headOption.map(_.details).getOrElse(""))
    jobs += Job(e.jobId, e.time, -1L, e.stageIds, site)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.end = e.time)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { stagesDone += 1 }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = Option(e.taskMetrics)
    tasks += Task(e.stageId,
      m.map(_.executorRunTime).getOrElse(0L),
      m.map(_.executorCpuTime).getOrElse(0L),
      m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
      m.map(t => t.shuffleReadMetrics.remoteBytesRead +
        t.shuffleReadMetrics.localBytesRead).getOrElse(0L),
      m.map(_.diskBytesSpilled).getOrElse(0L),
      e.reason != org.apache.spark.Success)
  }

  def clear(): Unit = synchronized {
    jobs.clear(); tasks.clear(); execSites.clear(); stagesDone = 0
  }

  /** The module a job's work belongs to, from its call site. */
  private def module(j: Job, fallback: String): String = {
    val frames = j.site.split("\n").map(_.trim)
    if (frames.exists(_.startsWith("graft.lake.Lake$.overwritePartitions")))
      "transform"
    else if (frames.exists(_.startsWith("graft.pipeline.Deftunes$.modelingRun")))
      "model"
    else frames.collectFirst {
      case f if f.startsWith("graft.") && !f.startsWith("graft.pipeline.") =>
        f.stripPrefix("graft.").takeWhile(_ != '.') match {
          case "queries" | "util" | "SparkEntry$" => "queries"
          case pkg => pkg
        }
    }.getOrElse(fallback)
  }

  def layers(ops: Seq[Harness.OpResult], pt0: Long, pt1: Long)
      : Map[String, Double] = synchronized {
    val inPass = jobs.filter(j => j.start >= pt0 && j.start <= pt1).toSeq
    val stageJob = inPass.flatMap(j => j.stages.map(_ -> j)).toMap
    val ts = tasks.filter(t => stageJob.contains(t.stage)).toSeq
    def opOf(j: Job) = ops.find(r => j.start >= r.t0 && j.start <= r.t1)
    def dur(j: Job) = (if (j.end < 0) j.start else j.end) - j.start
    val byModule = inPass.groupBy(j =>
      module(j, opOf(j).map(_.op.module).getOrElse("none")))
    def modSecs(m: String) = byModule.getOrElse(m, Nil).map(dur).sum / 1e3
    def siteHas(j: Job, prefix: String) =
      j.site.split("\n").exists(_.trim.startsWith(prefix))
    val lakeJobs = inPass.filter(siteHas(_, "graft.lake.Lake$"))
    val sourceJobs = inPass.filter(siteHas(_, "graft.sources."))
    val buildJobs = inPass.count(j =>
      ops.exists(r => j.start >= r.t0 && j.start < r.tBuilt))
    // operation time during which no job runs: op wall minus the union
    // of its jobs' intervals
    val idleMs = ops.map { r =>
      val iv = inPass.filter(j => j.start >= r.t0 && j.start <= r.t1)
        .map(j => (j.start, math.min(math.max(j.end, j.start), r.t1)))
        .sortBy(_._1)
      var covered = 0L; var upTo = r.t0
      iv.foreach { case (s, e) =>
        val from = math.max(s, upTo)
        if (e > from) { covered += e - from; upTo = e }
      }
      (r.t1 - r.t0) - covered
    }.sum
    val execS = ops.map(r => r.t1 - r.tPlanned).sum / 1e3
    val runS = ts.map(_.runMs).sum / 1e3
    val mb = 1e6
    Map(
      "queries.build_s" -> ops.map(r => r.tBuilt - r.t0).sum / 1e3,
      "queries.build_jobs" -> buildJobs.toDouble,
      "plans.plan_s" -> ops.map(r => r.tPlanned - r.tBuilt).sum / 1e3,
      "spark.exec_s" -> execS,
      "spark.jobs" -> inPass.size.toDouble,
      "spark.stages" -> stagesDone.toDouble,
      "spark.tasks" -> ts.size.toDouble,
      "spark.tasks_failed" -> ts.count(_.failed).toDouble,
      "spark.idle_s" -> idleMs / 1e3,
      "spark.task_run_s" -> runS,
      "spark.task_cpu_s" -> ts.map(_.cpuNs).sum / 1e9,
      "spark.slot_busy" -> (if (execS > 0) runS / (execS * 4) else 0.0),
      "spark.shuffle_write_mb" -> ts.map(_.shuffleWrite).sum / mb,
      "spark.shuffle_read_mb" -> ts.map(_.shuffleRead).sum / mb,
      "spark.spill_mb" -> ts.map(_.spill).sum / mb,
      "dedup.exec_s" -> modSecs("dedup"),
      "operators.exec_s" -> modSecs("operators"),
      "similarity.exec_s" -> modSecs("similarity"),
      "text.exec_s" -> modSecs("text"),
      "transform.exec_s" -> modSecs("transform"),
      "sources.extract_s" -> sourceJobs.map(dur).sum / 1e3,
      "sources.infer_jobs" -> sourceJobs.size.toDouble,
      "lake.write_s" -> lakeJobs.map(dur).sum / 1e3,
      "dq.exec_s" -> modSecs("dq"),
      "dq.jobs" -> byModule.getOrElse("dq", Nil).size.toDouble,
      "model.exec_s" -> modSecs("model"),
      "model.jobs" -> byModule.getOrElse("model", Nil).size.toDouble)
  }
}

object Recorder {
  final case class Job(id: Int, start: Long, var end: Long, stages: Seq[Int],
      site: String)
  final case class Task(stage: Int, runMs: Long, cpuNs: Long,
      shuffleWrite: Long, shuffleRead: Long, spill: Long, failed: Boolean)
}

/** JVM-wide counters over one pass: GC, JIT and heap peak. */
final class JvmMeter private () {
  private val gc0 = JvmMeter.gcMs
  private val jit0 = JvmMeter.jitMs
  var layers = Map.empty[String, Double]

  def stop(): JvmMeter = {
    layers = Map(
      "jvm.gc_s" -> (JvmMeter.gcMs - gc0) / 1e3,
      "jvm.jit_s" -> (JvmMeter.jitMs - jit0) / 1e3,
      "jvm.heap_peak_mb" -> JvmMeter.heapPools.map(_.getPeakUsage.getUsed)
        .sum / 1e6)
    this
  }
}

object JvmMeter {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** Process CPU time (user + system) so far, in ns. */
  def cpuNs: Long = os.getProcessCpuTime
  /** CPU time the hypervisor gave to other guests while this machine's
    * CPUs wanted to run (steal, summed over CPUs), so far, in s; the
    * kernel counts it in USER_HZ ticks of 1/100 s. */
  def stealS: Double = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().next().trim.split("\\s+").lift(8)
      .fold(0.0)(_.toDouble / 100.0)
    finally src.close()
  }
  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
  private def gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).sum
  private def jitMs = ManagementFactory.getCompilationMXBean
    .getTotalCompilationTime

  def start(): JvmMeter = {
    heapPools.foreach(_.resetPeakUsage())
    new JvmMeter
  }

  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb: Double = scala.io.Source.fromFile("/proc/self/status")
    .getLines().collectFirst { case l if l.startsWith("VmHWM:") =>
      l.split("\\s+")(1).toDouble / 1e3 }.getOrElse(0.0)
}

/** Minimal JSON writer for the result line. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
