package graft.tools

import java.nio.file.{Files, Paths}

import graft.util.Telemetry

/** Layer records and executed plans of named slate queries, through
  * [[graft.util.Telemetry.measure]]. Each query runs twice in the
  * session Verify and Bench use ([[graft.GraftSession]]); the second,
  * warm run is recorded. Its executed plan goes to a file: an adaptive
  * plan shows both the `== Final Plan ==` (runtime stage reuse,
  * AQEShuffleRead coalescing, join-strategy rewrites) and the
  * `== Initial Plan ==`. Its record is printed as one JSON line.
  *
  *   sbt "runMain graft.tools.PlanDump <outDir> <suffix> <q1,q2,...>"
  *
  * writes <outDir>/<query><suffix>.txt for each query name (suffix
  * e.g. `_before` / `_after`). SPARK_GRAFT_SF_DIR picks the data dir.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: PlanDump <outDir> <suffix> <q1,q2,...>")
    val Array(outDir, suffix, qcsv) = args
    val names = qcsv.split(",").map(_.trim).filter(_.nonEmpty)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // optional session confs ("k=v;k=v") — used to dump the size-gated
    // plan variants (e.g. the incremental-dedup bucket prune, which
    // engages from measured index stats at scale) at local SF
    val planConf = sys.env.get("SPARK_GRAFT_PLAN_CONF").toSeq
      .flatMap(_.split(";")).map(_.trim).filter(_.contains("="))
      .map { kv => val Array(k, v) = kv.split("=", 2); k -> v }
    val spark = graft.GraftSession(planConf: _*)
    Files.createDirectories(Paths.get(outDir))
    val slate = graft.SparkEntry.queries
    names.foreach { name =>
      val file = Paths.get(outDir, s"$name$suffix.txt")
      def run() =
        try Telemetry.measure(slate(name)(spark, sfDir))
        finally graft.dedup.Dedup.releaseCaches()
      val (plan, fields) =
        try {
          run()
          val r = run()
          (r.plan, s""""record":${r.json}""")
        } catch {
          case e: Throwable =>
            (s"PLAN FAILED: $e", s""""error":"${e.getClass.getSimpleName}"""")
        }
      Files.write(file, plan.getBytes("UTF-8"))
      println(s"""{"query":"$name","plan_file":"$file",$fields}""")
    }
    spark.stop()
  }
}
