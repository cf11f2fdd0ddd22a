package graft

import java.nio.file.{Files, Path}
import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.model.{ModelRunner, Scd2}
import graft.util.TempDirs

/** SCD2: one-pass historize from a change log, snapshot-merge
  * advancement (dbt `timestamp` strategy), and the ModelRunner
  * `snapshot` materialization end-to-end over three runs. */
class Scd2Spec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("historize collapses unchanged runs and intervals chain") {
    val log = Seq(
      (1L, ts("2024-01-01 00:00:00"), 1L, "bronze"),
      (1L, ts("2024-01-02 00:00:00"), 2L, "bronze"), // no change → collapse
      (1L, ts("2024-01-03 00:00:00"), 3L, "silver"),
      (1L, ts("2024-01-04 00:00:00"), 4L, "gold"),
      (2L, ts("2024-01-05 00:00:00"), 5L, "silver")
    ).toDF("user_id", "ts", "event_id", "status")
    val h = Scd2.historize(log, Seq("user_id"), Seq("status"), "ts",
        Seq("event_id"))
      .orderBy("user_id", "version").collect()
    assert(h.length == 4) // 3 versions for user 1, 1 for user 2
    val u1 = h.filter(_.getLong(0) == 1L)
    assert(u1.map(_.getString(2)).toSeq == Seq("bronze", "silver", "gold"))
    // intervals chain: each valid_to equals the next valid_from
    assert(u1(0).getTimestamp(4) == u1(1).getTimestamp(3))
    assert(u1(1).getTimestamp(4) == u1(2).getTimestamp(3))
    assert(u1(2).isNullAt(4) && u1(2).getBoolean(5))
    assert(!u1(0).getBoolean(5) && !u1(1).getBoolean(5))
    // versions are 1-based per key
    assert(u1.map(_.getInt(1)).toSeq == Seq(1, 2, 3))
    assert(h.filter(_.getLong(0) == 2L).head.getInt(1) == 1)
  }

  test("historize null-state handling: first null row opens a version") {
    val log = Seq(
      (1L, ts("2024-01-01 00:00:00"), 1L, null),
      (1L, ts("2024-01-02 00:00:00"), 2L, null), // unchanged null
      (1L, ts("2024-01-03 00:00:00"), 3L, "a")
    ).toDF("user_id", "ts", "event_id", "status")
    val h = Scd2.historize(log, Seq("user_id"), Seq("status"), "ts",
      Seq("event_id")).orderBy("version").collect()
    assert(h.length == 2)
    assert(h(0).isNullAt(2) && h(1).getString(2) == "a")
  }

  test("snapshotMerge covers all four branches") {
    // current: key 1 closed history + open, key 2 open, key 3 open
    val current = Seq(
      (1L, "bronze", ts("2024-01-01 00:00:00"),
        ts("2024-01-01 00:00:00"), ts("2024-01-05 00:00:00")),
      (1L, "silver", ts("2024-01-05 00:00:00"),
        ts("2024-01-05 00:00:00"), null.asInstanceOf[Timestamp]),
      (2L, "gold", ts("2024-01-02 00:00:00"),
        ts("2024-01-02 00:00:00"), null.asInstanceOf[Timestamp]),
      (3L, "bronze", ts("2024-01-03 00:00:00"),
        ts("2024-01-03 00:00:00"), null.asInstanceOf[Timestamp])
    ).toDF("user_id", "status", "updated_at", "dbt_valid_from",
      "dbt_valid_to")
    // updates: key 1 superseded, key 2 stale (not newer), key 3 absent
    // (stays open), key 4 brand new
    val updates = Seq(
      (1L, "gold", ts("2024-01-10 00:00:00")),
      (2L, "gold", ts("2024-01-02 00:00:00")),
      (4L, "bronze", ts("2024-01-09 00:00:00"))
    ).toDF("user_id", "status", "updated_at")
    val m = Scd2.snapshotMerge(current, updates, "user_id", "updated_at")
      .orderBy("user_id", "dbt_valid_from").collect()
    assert(m.length == 6)
    val open = m.filter(_.isNullAt(4)).map(r =>
      r.getLong(0) -> r.getString(1)).toMap
    assert(open == Map(1L -> "gold", 2L -> "gold", 3L -> "bronze",
      4L -> "bronze"))
    // key 1's silver row closed at the update timestamp; bronze row
    // passed through untouched
    val k1 = m.filter(_.getLong(0) == 1L)
    assert(k1.length == 3)
    assert(k1.find(_.getString(1) == "silver").get.getTimestamp(4) ==
      ts("2024-01-10 00:00:00"))
    assert(k1.find(_.getString(1) == "bronze").get.getTimestamp(4) ==
      ts("2024-01-05 00:00:00"))
    // stale update (key 2) did NOT spawn a version
    assert(m.count(_.getLong(0) == 2L) == 1)
  }

  test("snapshotMerge rejects duplicate keys and column drift") {
    val current = Seq((1L, "a", ts("2024-01-01 00:00:00"),
      ts("2024-01-01 00:00:00"), null.asInstanceOf[Timestamp]))
      .toDF("user_id", "status", "updated_at", "dbt_valid_from",
        "dbt_valid_to")
    val dup = Seq((1L, "a", ts("2024-01-02 00:00:00")),
      (1L, "b", ts("2024-01-03 00:00:00")))
      .toDF("user_id", "status", "updated_at")
    intercept[IllegalArgumentException] {
      Scd2.snapshotMerge(current, dup, "user_id", "updated_at")
    }
    val drift = Seq((1L, ts("2024-01-02 00:00:00")))
      .toDF("user_id", "updated_at")
    intercept[IllegalArgumentException] {
      Scd2.snapshotMerge(current, drift, "user_id", "updated_at")
    }
  }

  private def writeProject(files: Seq[(String, String)]): Path = {
    val root = TempDirs.create("scd2-spec")
    files.foreach { case (rel, content) =>
      val p = root.resolve(rel)
      Files.createDirectories(p.getParent)
      Files.writeString(p, content)
    }
    root
  }

  test("ModelRunner snapshot materialization: three runs build a " +
      "three-version chain") {
    spark.sql("CREATE DATABASE IF NOT EXISTS scd2_src")
    spark.sql("DROP TABLE IF EXISTS scd2_out.acct")
    val root = writeProject(Seq(
      "dbt_project.yml" ->
        """name: 'scd2_proj'
          |vars:
          |  source_schema: scd2_src
          |  target_schema: scd2_out
          |""".stripMargin,
      "models/core/acct.sql" ->
        """{{ config(materialized='snapshot', strategy='timestamp',
          |   unique_key='id', updated_at='upd') }}
          |SELECT id, tier, upd FROM {{ var("source_schema") }}.acct_src
          |""".stripMargin))
    val project = ModelRunner.loadProject(root)
    def seed(rows: Seq[(Long, String, Timestamp)]): Unit =
      rows.toDF("id", "tier", "upd").write.mode("overwrite")
        .saveAsTable("scd2_src.acct_src")

    seed(Seq((1L, "bronze", ts("2024-01-01 00:00:00"))))
    ModelRunner.run(spark, project)
    seed(Seq((1L, "silver", ts("2024-02-01 00:00:00")),
      (2L, "bronze", ts("2024-02-01 00:00:00"))))
    ModelRunner.run(spark, project)
    seed(Seq((1L, "gold", ts("2024-03-01 00:00:00")),
      (2L, "bronze", ts("2024-02-01 00:00:00")))) // key 2 unchanged
    val runs = ModelRunner.run(spark, project)
    assert(runs.head.materialized == "snapshot")

    val t = spark.table("scd2_out.acct")
    assert(t.count() == 4) // 3 versions of key 1, 1 of key 2
    val k1 = t.filter($"id" === 1L).orderBy("dbt_valid_from").collect()
    assert(k1.map(_.getString(1)).toSeq == Seq("bronze", "silver", "gold"))
    assert(k1(0).getTimestamp(4) == ts("2024-02-01 00:00:00"))
    assert(k1(1).getTimestamp(4) == ts("2024-03-01 00:00:00"))
    assert(k1(2).isNullAt(4))
    // key 2's single row stayed open across the no-op third run
    val k2 = t.filter($"id" === 2L).collect()
    assert(k2.length == 1 && k2.head.isNullAt(4))
  }

  test("snapshot-only config keys on other materializations are a " +
      "loud error, not a silent downgrade") {
    val root = writeProject(Seq(
      "dbt_project.yml" ->
        """name: 'scd2_stray'
          |vars:
          |  target_schema: scd2_out
          |""".stripMargin,
      "models/core/stray.sql" ->
        """{{ config(materialized='incremental', unique_key='id') }}
          |SELECT 1 AS id
          |""".stripMargin))
    val e = intercept[IllegalArgumentException] {
      ModelRunner.loadProject(root)
    }
    assert(e.getMessage.contains("unique_key") &&
      e.getMessage.contains("incremental"), e.getMessage)
  }

  test("snapshot model demands unique_key and updated_at config") {
    val root = writeProject(Seq(
      "dbt_project.yml" ->
        """name: 'scd2_bad'
          |vars:
          |  target_schema: scd2_out
          |""".stripMargin,
      "models/core/bad.sql" ->
        """{{ config(materialized='snapshot') }}
          |SELECT 1 AS id
          |""".stripMargin))
    val e = intercept[IllegalArgumentException] {
      ModelRunner.run(spark, ModelRunner.loadProject(root))
    }
    assert(e.getMessage.contains("unique_key"))
  }
}
