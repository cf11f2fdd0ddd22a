package graft.tools

import graft.plans.BandJoinRewrite
import graft.util.Tables

/** A/B harness for [[graft.plans.BandJoinRewrite]]: the same naive
  * range-join SQL timed with the rule ON vs OFF (excluded from the
  * optimizer through `spark.sql.optimizer.excludedRules`), one process
  * per mode so the sessions are clean. Two shapes over the `events`
  * table of `SPARK_GRAFT_SF_DIR` (a testdata directory, or one that
  * [[ScaleGen]] generated at a multiple of it):
  *
  *  - `keyed`: per-user click→purchase attribution — without the
  *    rewrite every (user)-equal pair across ALL time is matched then
  *    range-filtered;
  *  - `keyless`: the same range predicate with no equi-key over an
  *    `nKeyless`-row slice — without the rewrite this is a
  *    BroadcastNestedLoopJoin cross product, so the slice is kept
  *    small enough to terminate.
  *
  * Usage: `SPARK_GRAFT_BAND_EXT=1|0 SPARK_GRAFT_SF_DIR=<dir> sbt
  * "runMain graft.tools.BandJoinBench [nKeyless]"`.
  */
object BandJoinBench {
  def main(args: Array[String]): Unit = {
    val withExt = sys.env.getOrElse("SPARK_GRAFT_BAND_EXT", "1") == "1"
    val nKeyless = args.headOption.map(_.toLong).getOrElse(20000L)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.1")
    val spark = graft.GraftSession((if (withExt) Nil
      else Seq("spark.sql.optimizer.excludedRules" ->
        BandJoinRewrite.ruleName)): _*)

    val ev = Tables.events(spark, sfDir)
    ev.createOrReplaceTempView("ev")
    val n = ev.count()
    spark.range(10).selectExpr("sum(id)").collect() // session warmup
    // keyed rewriting is opt-in (see BandJoinRewrite.KeyedConf); the
    // A/B here measures exactly that opt-in against the plain plan
    if (withExt)
      spark.conf.set(BandJoinRewrite.KeyedConf, "true")

    def time(label: String, sql: String): Unit = {
      val t0 = System.nanoTime()
      val rows = spark.sql(sql).count()
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"BANDBENCH ext=$withExt $label rows=$rows wall=$sec%.2f s")
    }

    time(s"keyed(n=$n)",
      """SELECT a.event_id, b.event_id FROM ev a JOIN ev b
        |ON a.user_id = b.user_id AND a.event_type = 'click'
        |AND b.event_type = 'purchase' AND b.ts >= a.ts
        |AND b.ts <= a.ts + INTERVAL 6 HOUR""".stripMargin)

    // stride ≥1 guards modulo-by-zero when nKeyless > n; the actual
    // slice size is then ~n/stride, which drifts from the request on
    // non-divisible sizes — the printed label reports the request
    require(nKeyless > 0, s"nKeyless must be positive, got $nKeyless")
    val stride = math.max(1L, n / nKeyless)
    spark.sql(s"SELECT * FROM ev WHERE event_id % $stride = 0")
      .createOrReplaceTempView("ev_small")
    time(s"keyless_n$nKeyless",
      """SELECT a.event_id, b.event_id FROM ev_small a JOIN ev_small b
        |ON b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 10 MINUTE
        |""".stripMargin)
    spark.stop()
  }
}
