package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.catalyst.plans.logical.OverwriteByExpression
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener

/** Dump the formatted explain of named slate queries' EXECUTED plans to
  * files — the plan evidence the optimization rounds commit under
  * plans/rNN/. Each query runs once with a noop write; the plan written
  * is the one that write executed, so its adaptive plan shows both the
  * `== Final Plan ==` (runtime stage reuse, AQEShuffleRead coalescing,
  * join-strategy rewrites) and the `== Initial Plan ==`. The session is
  * the one Verify and Bench run ([[graft.GraftSession]]).
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
    // the QueryExecution the noop write actually ran (df.queryExecution
    // is a different, never-executed one, isFinalPlan=false); a query's
    // own internal writes are v1 commands and are skipped
    @volatile var executed: Option[QueryExecution] = None
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit =
        if (qe.logical.isInstanceOf[OverwriteByExpression]) executed = Some(qe)
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    })
    Files.createDirectories(Paths.get(outDir))
    val slate = graft.SparkEntry.queries
    names.foreach { name =>
      executed = None
      val plan =
        try {
          slate(name)(spark, sfDir).write.format("noop")
            .mode("overwrite").save()
          // listener delivery is asynchronous; poll briefly for it
          var waited = 0
          while (executed.isEmpty && waited < 5000) {
            Thread.sleep(100); waited += 100
          }
          executed.map(_.explainString(FormattedMode))
            .getOrElse("PLAN FAILED: no executed plan reported")
        } catch { case e: Throwable => s"PLAN FAILED: $e" }
      Files.write(Paths.get(outDir, s"$name$suffix.txt"),
        plan.getBytes("UTF-8"))
      println(s"wrote $outDir/$name$suffix.txt (${plan.length} chars)")
      graft.dedup.Dedup.releaseCaches()
    }
    spark.stop()
  }
}
