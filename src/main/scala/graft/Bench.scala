package graft

import java.lang.management.ManagementFactory

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Times every slate query on the production session ([[GraftSession]])
  * and prints two JSON lines: per-query maps, then a compact totals line.
  *
  *   SPARK_GRAFT_SF_DIR=<scale-factor dir> sbt "runMain graft.Bench"
  *
  * Each query is run once cold, then `SPARK_GRAFT_BENCH_RUNS` (default 3)
  * warm times, and its median warm run is reported together with the
  * process CPU seconds that run used (`cpu`): a run whose CPU/wall ratio
  * falls well below the host's usual is one the host starved, which the
  * reader sees without any contention heuristic. Every run writes the
  * query's full result to the `noop` sink, so no output column is pruned
  * away from the timing. `SPARK_GRAFT_BENCH_ONLY=q_a,q_b` restricts the
  * run to the named queries (same-session A/B).
  */
object Bench {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** (wall s, process CPU s, error) of one run; a query that THROWS is
    * reported as an error marker, not as a fast-looking time-to-crash. */
  private def timed(spark: SparkSession, sfDir: String,
      fn: (SparkSession, String) => DataFrame)
      : (Double, Double, Option[String]) = {
    val c0 = os.getProcessCpuTime
    val t0 = System.nanoTime()
    val err =
      try {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        None
      } catch { case e: Throwable => Some(e.getClass.getSimpleName) }
      finally graft.dedup.Dedup.releaseCaches()
    ((System.nanoTime() - t0) / 1e9, (os.getProcessCpuTime - c0) / 1e9, err)
  }

  /** A JSON object of already-rendered values, and a JSON string. */
  private def obj(m: Seq[(String, Any)]): String =
    m.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
  private def str(s: String): String = "\"" + s + "\""

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val runsPerQuery =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt.max(1)
    val spark = GraftSession()
    // warm up the session once (codegen compiler, parquet footer reader,
    // shuffle machinery) so the first timed query isn't charged ~3 s of
    // one-time JVM setup
    spark.range(1000).selectExpr("sum(id)").collect()
    try graft.util.Tables.nation(spark, sfDir).count()
    catch { case _: Throwable => () }
    val slate = SparkEntry.queries.toSeq
      .filter { case (n, _) => only.forall(_.contains(n)) }

    // COLD pass: each query's first run in this JVM, codegen compilation
    // included; it doubles as the per-query warmup for the warm pass
    val cold = slate.map { case (name, fn) =>
      (name, fn, timed(spark, sfDir, fn))
    }
    // drop leftover cached blocks and let the old generation collect, so
    // warm queries aren't charged the cold pass's garbage
    spark.catalog.clearCache()
    System.gc()

    // WARM pass: median of N runs (the LOWER median for even N); the
    // spread (max - min wall) shows how noisy the session was
    val warm = cold.map { case (name, fn, (_, _, coldErr)) =>
      val samples =
        (1 to runsPerQuery).map(_ => timed(spark, sfDir, fn)).sortBy(_._1)
      val (wall, cpu, _) = samples((samples.size - 1) / 2)
      val err = (coldErr.toSeq ++ samples.flatMap(_._3)).headOption
      (name, wall, cpu, samples.last._1 - samples.head._1, err)
    }
    val total = warm.map(_._2).sum
    val cpuTotal = warm.map(_._3).sum
    val coldTotal = cold.map(_._3._1).sum
    // err carries ONLY failing queries (usually {}): exception class per
    // query, from whichever of its cold/warm runs failed first
    val errs = warm.flatMap { case (n, _, _, _, e) => e.map(x => n -> str(x)) }
    // the per-query maps go first and the headline numbers last, and the
    // totals line stands alone, so a reader keeping only the tail of
    // stdout still has the totals
    val sf = str(sfDir)
    println(obj(Seq("metric" -> str("total"), "unit" -> str("sec"), "sf" -> sf,
      "runs_per_query" -> runsPerQuery,
      "queries" -> obj(warm.map(w => w._1 -> w._2)),
      "spread" -> obj(warm.map(w => w._1 -> w._4)),
      "cpu" -> obj(warm.map(w => w._1 -> w._3)),
      "cold" -> obj(cold.map { case (n, _, c) => n -> c._1 }),
      "value" -> total, "normalized_warm" -> total,
      "cold_total" -> coldTotal, "err" -> obj(errs))))
    println(obj(Seq("metric" -> str("totals"), "warm" -> total,
      "normalized_warm" -> total, "cold" -> coldTotal, "cpu" -> cpuTotal,
      "err_count" -> errs.size, "n_queries" -> warm.size, "sf" -> sf)))
    spark.stop()
  }
}
