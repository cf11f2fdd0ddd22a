package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart}

/** Job-timeline profiler for driver-orchestration-heavy queries
  * (q_model_runner and friends): prints, for one warm run, every
  * Spark job's duration AND the driver-side gap before it — the
  * serialized DDL/catalog/commit time between jobs that stage-level
  * profilers can't see. Run:
  *
  *   SPARK_GRAFT_SF_DIR=<scale-factor dir> \
  *     sbt "runMain graft.tools.ModelProfile q_model_runner"
  */
object ModelProfile {
  def main(args: Array[String]): Unit = {
    val name = if (args.nonEmpty) args(0) else "q_model_runner"
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession()
    val fn = graft.SparkEntry.queries.toMap.apply(name)
    // cold run: codegen + fixture builds
    fn(spark, sfDir).count()
    graft.dedup.Dedup.releaseCaches()

    case class J(id: Int, start: Long, var end: Long = -1L,
      var desc: String = "")
    val jobs = scala.collection.mutable.ArrayBuffer.empty[J]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.synchronized {
          jobs += J(e.jobId, e.time,
            desc = Option(e.properties)
              .flatMap(p => Option(p.getProperty("spark.job.description")))
              .orElse(e.stageInfos.lastOption.map(_.name)).getOrElse("")
              .take(90))
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.synchronized {
          jobs.find(_.id == e.jobId).foreach(_.end = e.time)
        }
    }
    spark.sparkContext.addSparkListener(listener)
    val t0 = System.nanoTime()
    fn(spark, sfDir).count()
    val wall = (System.nanoTime() - t0) / 1e9
    graft.dedup.Dedup.releaseCaches()
    Thread.sleep(500)
    spark.sparkContext.removeSparkListener(listener)

    val t0ms = jobs.headOption.map(_.start).getOrElse(0L)
    var lastEnd = t0ms
    var gapSum = 0L; var jobSum = 0L
    jobs.sortBy(_.start).foreach { j =>
      val gap = math.max(0L, j.start - lastEnd)
      val dur = if (j.end > 0) j.end - j.start else -1L
      gapSum += gap; if (dur > 0) jobSum += dur
      println(f"JOB ${j.id}%4d +${(j.start - t0ms) / 1000.0}%7.3f " +
        f"gap=${gap / 1000.0}%6.3f dur=${dur / 1000.0}%6.3f  ${j.desc}")
      lastEnd = math.max(lastEnd, if (j.end > 0) j.end else j.start)
    }
    println(f"WALL $wall%.3f s  jobs=${jobs.size} " +
      f"jobSum=${jobSum / 1000.0}%.3f gapSum=${gapSum / 1000.0}%.3f " +
      "(gaps = serialized driver-side work between jobs)")
    spark.stop()
  }
}
