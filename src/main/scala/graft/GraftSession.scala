package graft

import org.apache.spark.sql.SparkSession

/** The one place a session is built, so every main and the shared test
  * session run the same engine: `local[cpus]` with one shuffle partition
  * per core, UTC session time zone (events carry TIMESTAMP_NTZ-cast
  * values, so results and band-join selectivity must not depend on the
  * host's zone), no UI, the engine's [[graft.functions.GraftExtensions]]
  * and WARN logging. `cpus` comes from `SPARK_GRAFT_CPUS` and defaults
  * to the host's processors. */
object GraftSession {
  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** Builds (or returns) the session; `conf` pairs are applied after the
    * defaults above, so they may override them. */
  def apply(conf: (String, String)*): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.functions.GraftExtensions)
      .config(conf.toMap)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
