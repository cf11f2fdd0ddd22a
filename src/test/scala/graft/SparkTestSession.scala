package graft

import org.apache.spark.sql.SparkSession

/** One shared session for the whole test run (suites share the JVM
  * under sbt's forked test runner) — the production session from
  * [[GraftSession]], so every suite tests the engine that ships. */
object SparkTestSession {
  lazy val spark: SparkSession = GraftSession("spark.sql.warehouse.dir" ->
    util.TempDirs.create("graft-warehouse").toString)
}
