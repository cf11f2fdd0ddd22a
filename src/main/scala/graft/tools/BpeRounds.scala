package graft.tools

/** Measures what BPE batching buys: count passes (Spark job rounds)
  * and wall for a large-vocabulary training run, batched vs the
  * sequential fold on the same corpus. Usage:
  *   runMain graft.tools.BpeRounds <sfDir|synth:N> [nMerges] [maxBatch]
  * `synth:N` trains over a deterministic syllable-structured Zipf
  * vocabulary of ~N distinct words (the sf* documents corpora share
  * ONE generator template and saturate at 89 merges — too shallow to
  * exercise a 1k-merge vocabulary; the synthetic words keep natural-
  * language-like letter concentration so the batch-stopping hazards
  * stay realistic). The batched result is asserted equal to the
  * sequential one — this is a measurement harness, not the
  * correctness pin (BpeSpec property-tests equivalence); the assert
  * just keeps the numbers honest. */
object BpeRounds {
  def main(args: Array[String]): Unit = {
    val source = args.headOption.getOrElse("/root/testdata/sf0.01")
    val nMerges = args.lift(1).map(_.toInt).getOrElse(1000)
    val maxBatch = args.lift(2).map(_.toInt).getOrElse(32)
    val spark = graft.GraftSession()
    import org.apache.spark.sql.functions._
    val words =
      if (source.startsWith("synth:")) {
        val n = source.stripPrefix("synth:").toLong
        val syllWord = udf { id: Long =>
          val rnd = new scala.util.Random(id * 0x9E3779B97F4A7C15L + 17)
          val cons = "tnsrhldcmpbgfwkvjz" // roughly English-ranked
          val vow = "eaoiu"
          // rank-skewed letter picks keep (·,a)/(b,·) concentration
          def pick(s: String) = s(math.min(s.length - 1,
            (math.pow(rnd.nextDouble(), 1.8) * s.length).toInt))
          (1 to 2 + rnd.nextInt(4))
            .map(_ => s"${pick(cons)}${pick(vow)}").mkString
        }
        spark.range(n)
          .select(syllWord(col("id")).as("word"),
            (lit(n) / (col("id") + 1) + 1).cast("long").as("w"))
          .groupBy("word").agg(sum("w").as("w"))
      } else {
        val docs = graft.util.Tables.documents(spark, source)
        docs.select(explode(graft.text.TextAnalysis
            .tokens(col("text"))).as("word"))
          .groupBy("word").agg(count(lit(1)).as("w"))
      }
    words.persist().count()
    // warm the JVM on a tiny slice through BOTH code paths (codegen
    // compilation, shuffle machinery, localCheckpoint setup) so the
    // first timed run isn't charged one-time setup: on the 20 s doc
    // corpus the comparison flipped SIGN purely on run order before
    // this — the batched run went first and absorbed ~3-5 s of cold
    // JVM that sequential then never paid
    graft.text.Bpe.learnMergesFromWordCounts(
      words.limit(50), 10, maxBatch = maxBatch)
    graft.text.Bpe.learnMergesFromWordCounts(
      words.limit(50), 10, maxBatch = 1)
    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }
    val ((batched, rB), wallB) = timed(
      graft.text.Bpe.learnMergesFromWordCounts(words, nMerges,
        maxBatch = maxBatch))
    val ((seq, rS), wallS) = timed(
      graft.text.Bpe.learnMergesFromWordCounts(words, nMerges,
        maxBatch = 1))
    require(batched.merges == seq.merges,
      "batched merges diverged from sequential")
    println(f"""{"metric":"bpe_rounds","source":"$source",""" +
      f""""n_merges":${seq.merges.length},""" +
      f""""max_batch":$maxBatch,"rounds_batched":$rB,""" +
      f""""rounds_sequential":$rS,"wall_batched_s":$wallB%.1f,""" +
      f""""wall_sequential_s":$wallS%.1f}""")
    spark.stop()
  }
}
