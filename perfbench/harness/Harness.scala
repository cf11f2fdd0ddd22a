package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** JVM side of the benchmark. One process runs one workload: it sets up
  * a session, runs a cold pass, a fixed number of untimed warm-up passes,
  * a fixed number of warm passes and, where the workload has one, a
  * re-run pass, and prints one `PB_RESULT {json}` line.
  *
  * Every operation is timed on its full result: a query's rows are
  * collected into the JVM; a pipeline window leaves its tables in the
  * lake. The cold pass's outputs are written under `<work>/results` for
  * the independent check made in Python; every later pass must reproduce
  * them exactly (order-insensitive row digest), else the operation counts
  * as failed.
  *
  * Only public entry points of the program are called. Per-layer figures
  * (trace = 1) come from timing those calls and from a SparkListener
  * registered here; with trace = 0 no listener is registered.
  *
  * Every operation, and the set-up, also records the process CPU time it
  * used and the steal time of the machine's CPUs meanwhile (time the
  * hypervisor ran other guests while these CPUs wanted to run), so the
  * Python side can tell a busy host from a slow program.
  *
  * Args: workload inputDir workDir warmups warmPasses trace(0|1) queries,
  * where queries lists `name:module` pairs for a query workload; the
  * module is the program package whose code the query exercises. The
  * system property `perfbench.steal0` holds the machine's steal seconds
  * read just before the JVM was launched.
  */
object Harness {
  private val launchMs = ManagementFactory.getRuntimeMXBean.getStartTime

  /** One unit of work. `build` returns the DataFrame to materialize, or
    * None when the operation materializes its own output (a pipeline
    * window writes the lake). */
  final case class Op(name: String, module: String,
      build: () => Option[DataFrame])

  final case class OpResult(op: Op, t0: Long, tBuilt: Long, tPlanned: Long,
      t1: Long, error: String, cpuS: Double = 0.0, stealS: Double = 0.0) {
    def seconds: Double = (t1 - t0) / 1e3
  }

  type Output = Option[(StructType, Array[Row])]

  def main(args: Array[String]): Unit = {
    val Array(workload, inputDir, workDir, warmups, warmPasses, traceS,
      querySpec) = args
    val trace = traceS == "1"
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .config("spark.local.dir", s"$workDir/spark-local")
      .withExtensions(new graft.functions.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sql("SELECT 1").collect()
    val setupS = (System.currentTimeMillis() - launchMs) / 1e3
    val setupCpuS = JvmMeter.cpuNs / 1e9
    val setupStealS = JvmMeter.stealS -
      sys.props.get("perfbench.steal0").fold(JvmMeter.stealS)(_.toDouble)

    val rec = new Recorder
    if (trace) spark.sparkContext.addSparkListener(rec)
    val w: Workload =
      if (workload == "deftunes_backfill")
        new BackfillWorkload(spark, inputDir, workDir)
      else new QueryWorkload(spark, inputDir, workDir,
        querySpec.split(",").toSeq.map { q =>
          val Array(name, module) = q.split(":"); name -> module })

    val passes = mutable.ArrayBuffer.empty[String]
    def runPass(kind: String, ops: Seq[Op]): Unit = {
      w.beforePass(kind)
      val meter = JvmMeter.start()
      val pt0 = System.currentTimeMillis()
      val results = ops.map { op =>
        val c0 = JvmMeter.cpuNs
        val s0 = JvmMeter.stealS
        val (r0, out) = runOp(op)
        val r = r0.copy(cpuS = (JvmMeter.cpuNs - c0) / 1e9,
          stealS = JvmMeter.stealS - s0)
        val bad = if (r.error.nonEmpty) None else w.check(kind, r, out)
        graft.dedup.Dedup.releaseCaches()
        bad.fold(r)(e => r.copy(error = e))
      }
      val pt1 = System.currentTimeMillis()
      val jvm = meter.stop()
      val bad = w.afterPass(kind)
      val checked = if (bad.isEmpty || results.isEmpty) results
        else results.init :+ results.last.copy(error = bad.get)
      val layers =
        if (!trace) Map.empty[String, Double]
        else {
          org.apache.spark.PerfbenchAccess.drainListeners(spark.sparkContext)
          rec.layers(checked, pt0, pt1) ++ jvm.layers ++ w.layers
        }
      rec.clear()
      passes += Json.obj(
        "kind" -> Json.str(kind),
        "wall_s" -> Json.num(checked.map(_.seconds).sum),
        "cpu_s" -> Json.num(checked.map(_.cpuS).sum),
        "steal_s" -> Json.num(checked.map(_.stealS).sum),
        "ops" -> Json.arr(checked.map(r => Json.obj(
          "name" -> Json.str(r.op.name),
          "s" -> Json.num(r.seconds),
          "cpu_s" -> Json.num(r.cpuS),
          "steal_s" -> Json.num(r.stealS),
          "error" -> Json.str(r.error)))),
        "layers" -> Json.obj(layers.toSeq.sortBy(_._1)
          .map { case (k, v) => k -> Json.num(v) }: _*))
    }

    // every run makes the same number of warm-up and warm passes; a
    // workload with a re-run pass makes it once, after the last warm pass
    runPass("cold", w.ops)
    for (_ <- 1 to warmups.toInt) runPass("warmup", w.ops)
    for (_ <- 1 to warmPasses.toInt) runPass("warm", w.ops)
    w.rerunOps.foreach(runPass("rerun", _))
    val lake = w.lakeSizes
    w.close()
    spark.stop()
    println("PB_RESULT " + Json.obj(
      "setup_s" -> Json.num(setupS),
      "setup_cpu_s" -> Json.num(setupCpuS),
      "setup_steal_s" -> Json.num(setupStealS),
      "peak_rss_mb" -> Json.num(JvmMeter.peakRssMb),
      "lake_mb" -> Json.obj(lake.toSeq.map { case (k, v) =>
        k -> Json.num(v) }: _*),
      "passes" -> Json.arr(passes.toSeq)))
  }

  /** Build, plan and materialize one operation. Never throws: an
    * exception becomes the result's error. */
  def runOp(op: Op): (OpResult, Output) = {
    val t0 = System.currentTimeMillis()
    try {
      op.build() match {
        case None => // the operation materialized its own output
          (OpResult(op, t0, t0, t0, System.currentTimeMillis(), ""), None)
        case Some(df) =>
          val tBuilt = System.currentTimeMillis()
          df.queryExecution.executedPlan
          val tPlanned = System.currentTimeMillis()
          val rows = df.collect()
          val t1 = System.currentTimeMillis()
          (OpResult(op, t0, tBuilt, tPlanned, t1, ""),
            Some((df.schema, rows)))
      }
    } catch { case e: Throwable =>
      val t1 = System.currentTimeMillis()
      (OpResult(op, t0, t1, t1, t1,
        s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage)}"
          .take(300).replace('\n', ' ')), None)
    }
  }
}

trait Workload {
  def ops: Seq[Harness.Op]
  /** Operations of a re-run pass after the last warm pass, if any. */
  def rerunOps: Option[Seq[Harness.Op]] = None
  def beforePass(kind: String): Unit = ()
  /** Why an operation's output is wrong, if it is. Runs untimed, right
    * after the operation. */
  def check(kind: String, r: Harness.OpResult, out: Harness.Output)
    : Option[String] = None
  /** Why the state a pass leaves is wrong, if it is; charged to the
    * pass's last operation. */
  def afterPass(kind: String): Option[String] = None
  /** Workload-specific per-layer figures of the last pass. */
  def layers: Map[String, Double] = Map.empty
  /** MB by zone that one pass leaves on disk. */
  def lakeSizes: Map[String, Double] = Map.empty
  def close(): Unit = ()
}

object Digest {
  /** Order-insensitive digest of a row multiset. */
  def of(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(_.toString).sorted.foreach { s =>
      md.update(s.getBytes("UTF-8")); md.update(0.toByte)
    }
    md.digest().map("%02x".format(_)).mkString
  }

  def write(spark: SparkSession, dir: String, schema: StructType,
      rows: Array[Row]): Unit =
    spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1).write
      .mode("overwrite").parquet(dir)
}

/** A closed loop over slate queries: each operation is one
  * `SparkEntry.queries` builder over the workload's input directory. A
  * query's module attributes the jobs of the benchmark's own collect. */
final class QueryWorkload(spark: SparkSession, inputDir: String,
    workDir: String, names: Seq[(String, String)]) extends Workload {
  private val slate = graft.SparkEntry.queries
  private val digests = mutable.Map.empty[String, String]

  val ops: Seq[Harness.Op] = names.map { case (name, module) =>
    val fn = slate.getOrElse(name, sys.error(s"no slate query $name"))
    Harness.Op(name, module, () => Some(fn(spark, inputDir)))
  }

  override def check(kind: String, r: Harness.OpResult,
      out: Harness.Output): Option[String] = out.flatMap {
    case (schema, rows) =>
      val name = r.op.name
      val d = Digest.of(rows)
      if (!digests.contains(name)) {
        digests(name) = d
        Digest.write(spark, s"$workDir/results/$name", schema, rows)
        None
      } else if (digests(name) != d)
        Some(s"result differs from the first pass (${rows.length} rows)")
      else None
  }
}

/** Writes `SparkEntry.oracleSql` as one JSON object to the given path. */
object OracleSql {
  def main(args: Array[String]): Unit = java.nio.file.Files.writeString(
    java.nio.file.Paths.get(args(0)),
    Json.obj(graft.SparkEntry.oracleSql.toSeq.sortBy(_._1)
      .map { case (k, v) => k -> Json.str(v) }: _*))
}
