package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.util.Tables

/** Stage-level profiler for the dedup hot path: times each pipeline
  * stage in isolation (tokenize, shingle-hash, signature, banding,
  * bucket join, verification) so optimization targets measurements,
  * not guesses. Run:
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt "runMain graft.tools.StageProfile"
  */
object StageProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession()

    def time(name: String)(mk: => DataFrame): Unit = {
      // codegen warmup, then two timed runs (report the best)
      mk.queryExecution // force planning
      mk.foreach(_ => ())
      val times = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        mk.foreach(_ => ())
        (System.nanoTime() - t0) / 1e9
      }
      println(f"STAGE $name%-28s ${times.min}%8.3f s")
    }

    val docs = Tables.documents(spark, sfDir).cache()
    println(s"docs: ${docs.count()}")
    val text = col("text")

    time("read_only")(docs.select(col("doc_id")))
    time("lower_trim")(docs.select(lower(trim(text)).as("t")))
    time("regex_split")(docs.select(
      split(lower(trim(text)), "\\s+").as("w")))
    time("split_size_only")(docs.select(
      size(split(lower(trim(text)), "\\s+")).as("n")))
    time("shingle_hashes")(docs.select(
      Dedup.shingleHashes(text, 3).as("sh")))
    time("sig_k64")(docs.select(
      Dedup.minHashSignature(Dedup.shingleHashes(text, 3), 64).as("sig")))
    time("minhash_pairs_full")(
      Dedup.minHashPairs(docs, "doc_id", "text"))
    Dedup.releaseCaches()
    time("ngram_pairs_full")(
      Dedup.ngramJaccardPairs(docs, "doc_id", "text"))
    Dedup.releaseCaches()

    // fresh-plan decomposition: planning time vs per-stage execution
    def freshTime(name: String)(mk: => DataFrame): Unit = {
      val stages = scala.collection.mutable.ArrayBuffer.empty[String]
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          val si = sc.stageInfo
          val dur = for { s <- si.submissionTime; c <- si.completionTime }
            yield c - s
          stages += f"    stage=${si.stageId}%4d tasks=${si.numTasks}%3d " +
            f"dur=${dur.getOrElse(-1L)}%5d ms ${si.name.take(50)}"
        }
      }
      val t0 = System.nanoTime()
      val df = mk
      val qe = df.queryExecution
      qe.executedPlan // analysis + optimization + physical planning
      val tPlan = System.nanoTime()
      spark.sparkContext.addSparkListener(listener)
      df.foreach(_ => ())
      val tExec = System.nanoTime()
      Thread.sleep(500)
      spark.sparkContext.removeSparkListener(listener)
      println(f"FRESH $name%-24s plan=${(tPlan - t0) / 1e9}%6.3f s " +
        f"exec=${(tExec - tPlan) / 1e9}%6.3f s stages=${stages.size}")
      stages.foreach(println)
    }
    freshTime("minhash_pairs")(Dedup.minHashPairs(docs, "doc_id", "text"))
    Dedup.releaseCaches()
    spark.stop()
  }
}
