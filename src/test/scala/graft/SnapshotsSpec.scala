package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.lake.Snapshots
import graft.util.TempDirs

class SnapshotsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def freshRoot(): String =
    TempDirs.create("graft-snap").toString

  private def table(ids: Range) =
    ids.map(i => (i.toLong, s"row_$i")).toDF("id", "payload")

  test("append references prior data without rewriting it") {
    val root = freshRoot()
    Snapshots.createOrReplace(table(1 to 100), root)
    val baseFiles = Files.list(java.nio.file.Paths.get(s"$root/data-0"))
      .toArray.map(_.toString).filter(_.endsWith(".parquet")).sorted
    val baseTimes = baseFiles.map(f =>
      Files.getLastModifiedTime(java.nio.file.Paths.get(f)))
    Snapshots.append(table(101 to 150), root)
    assert(Snapshots.read(spark, root).count() == 150)
    // the v0 base files were not touched by the append
    val after = baseFiles.map(f =>
      Files.getLastModifiedTime(java.nio.file.Paths.get(f)))
    assert(baseTimes.toSeq == after.toSeq)
  }

  test("deleteWhere is merge-on-read: keys only, base untouched") {
    val root = freshRoot()
    Snapshots.createOrReplace(table(1 to 100), root)
    Snapshots.deleteWhere(spark, root, "id", col("id") <= 10)
    val cur = Snapshots.read(spark, root)
    assert(cur.count() == 90)
    assert(cur.agg(min("id")).head.getLong(0) == 11L)
    // the delete file holds ONLY the 10 keys — not a rewritten table
    val delRows = spark.read.parquet(s"$root/delete-1")
    assert(delRows.count() == 10)
    assert(delRows.columns.toSeq == Seq("id"))
    // base data dir still holds all 100 rows
    assert(spark.read.parquet(s"$root/data-0").count() == 100)
  }

  test("time travel reads every version; rollback restores one") {
    val root = freshRoot()
    Snapshots.createOrReplace(table(1 to 50), root)           // v0
    Snapshots.append(table(51 to 80), root)                   // v1
    Snapshots.deleteWhere(spark, root, "id", col("id") > 70)  // v2
    assert(Snapshots.readVersion(spark, root, 0).count() == 50)
    assert(Snapshots.readVersion(spark, root, 1).count() == 80)
    assert(Snapshots.readVersion(spark, root, 2).count() == 70)
    val v2Ts = Snapshots.log(root).find(_.version == 2).get.timestampMs
    assert(Snapshots.readAsOf(spark, root, v2Ts).count() == 70)
    Snapshots.rollback(root, 1)                               // v3 = v1
    assert(Snapshots.read(spark, root).count() == 80)
    // history preserved: v2 still time-travels after the rollback
    assert(Snapshots.readVersion(spark, root, 2).count() == 70)
    assert(Snapshots.history(spark, root).count() == 4)
  }

  test("compact folds deletes into a fresh base; old versions survive") {
    val root = freshRoot()
    Snapshots.createOrReplace(table(1 to 100), root)
    Snapshots.append(table(101 to 120), root)
    Snapshots.deleteWhere(spark, root, "id", col("id") % 2 === 0)
    val before = Snapshots.read(spark, root).orderBy("id")
      .collect().map(_.getLong(0)).toSeq
    val snap = Snapshots.compact(spark, root)
    assert(snap.deleteDirs.isEmpty && snap.dataDirs.size == 1)
    val after = Snapshots.read(spark, root).orderBy("id")
      .collect().map(_.getLong(0)).toSeq
    assert(before == after)
    // merge-on-read is gone from the compacted read plan
    val plan = Snapshots.read(spark, root)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), plan)
    // pre-compaction version still reads with its delete mask
    assert(Snapshots.readVersion(spark, root, 2).count() == 60)
  }

  test("auto-compaction folds the mask once delete dirs hit the " +
      "threshold; reads lose the anti-join chain") {
    val root = freshRoot()
    Snapshots.createOrReplace(table(1 to 100), root)
    Snapshots.deleteWhere(spark, root, "id", col("id") === 1,
      autoCompactDeleteDirs = 3)
    val d2 = Snapshots.deleteWhere(spark, root, "id", col("id") === 2,
      autoCompactDeleteDirs = 3)
    // below the threshold: the mask rides the read
    assert(Snapshots.log(root).last == d2)
    val planBefore = Snapshots.read(spark, root)
      .queryExecution.executedPlan.toString
    assert(planBefore.contains("LeftAnti"), planBefore)
    // third delete crosses the threshold → a compact snapshot lands
    // right after it; the returned snapshot is still the delete's
    val d3 = Snapshots.deleteWhere(spark, root, "id", col("id") === 3,
      autoCompactDeleteDirs = 3)
    assert(d3.op == "delete" && d3.deleteDirs.size == 3)
    val tip = Snapshots.log(root).last
    assert(tip.op == "compact" && tip.deleteDirs.isEmpty &&
      tip.dataDirs.size == 1)
    // post-compaction read is ONE scan — no anti-join, no union
    val planAfter = Snapshots.read(spark, root)
      .queryExecution.executedPlan.toString
    assert(!planAfter.contains("Join") && !planAfter.contains("Union"),
      planAfter)
    assert(Snapshots.read(spark, root).orderBy("id")
      .collect().map(_.getLong(0)).toSeq == (4L to 100L))
    // the delete's own version still time-travels (history intact)
    assert(Snapshots.readVersion(spark, root, d3.version).count() == 97)
    // upsert triggers the same heuristic
    val root2 = freshRoot()
    Snapshots.createOrReplace(table(1 to 10), root2)
    Snapshots.upsert(spark, root2, table(1 to 2), "id",
      autoCompactDeleteDirs = 1)
    assert(Snapshots.log(root2).last.op == "compact")
    assert(Snapshots.read(spark, root2).count() == 10)
  }

  test("appends may add columns; older rows surface them as nulls") {
    val root = freshRoot()
    Snapshots.createOrReplace(table(1 to 10), root)
    Snapshots.append(
      table(11 to 15).withColumn("score", col("id") * 2), root)
    val cur = Snapshots.read(spark, root)
    assert(cur.columns.toSet == Set("id", "payload", "score"))
    assert(cur.filter(col("score").isNull).count() == 10)
    assert(cur.filter(col("score") === 30).count() == 1)
  }

  test("append-only reads coerce numeric type evolution and keep " +
      "dataDirs column order (unmasked fast path)") {
    // int in the base dir, long in the append: parquet footer-merge
    // (mergeSchema) refuses this widening; the per-dir unionByName
    // composition must coerce it like the masked path always did
    val root = freshRoot()
    Snapshots.createOrReplace(
      Seq((1, "a"), (2, "b")).toDF("id", "payload"), root)
    Snapshots.append(
      Seq((3L, "c")).toDF("id", "payload")
        .select(col("payload"), col("id")), root) // reordered columns too
    val cur = Snapshots.read(spark, root)
    // column order follows the FIRST data dir, not footer-merge order
    assert(cur.columns.toSeq == Seq("id", "payload"))
    assert(cur.schema("id").dataType.typeName == "long")
    assert(cur.select(sum(col("id"))).head().getLong(0) == 6L)
  }

  test("merge-on-read broadcasts the delete mask, never shuffles the base") {
    val root = freshRoot()
    Snapshots.createOrReplace(table(1 to 1000), root)
    Snapshots.deleteWhere(spark, root, "id", col("id") === 5)
    val plan = Snapshots.read(spark, root)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") &&
      plan.contains("LeftAnti"), plan)
  }

  test("delete files apply only to earlier data files (v2 sequencing)") {
    val root = freshRoot()
    Snapshots.createOrReplace(table(1 to 100), root)          // v0 data
    Snapshots.deleteWhere(spark, root, "id", col("id") <= 20) // v1 delete
    // re-append half the deleted range AFTER the delete: the v2 data
    // file has a higher sequence number than the v1 delete file, so
    // these rows must survive (the round-5 read path masked them)
    Snapshots.append(table(1 to 10), root)                    // v2 data
    val cur = Snapshots.read(spark, root)
    assert(cur.count() == 90, "re-appended keys were wrongly masked")
    assert(cur.filter(col("id") <= 10).count() == 10)
    assert(cur.filter(col("id") > 10 && col("id") <= 20).count() == 0)
    // a LATER delete (v3) does mask the re-appended v2 rows
    Snapshots.deleteWhere(spark, root, "id", col("id") <= 5)  // v3 delete
    val afterSecond = Snapshots.read(spark, root)
    assert(afterSecond.count() == 85)
    assert(afterSecond.filter(col("id") <= 5).count() == 0)
    // time travel still sees the intermediate states
    assert(Snapshots.readVersion(spark, root, 1).count() == 80)
    assert(Snapshots.readVersion(spark, root, 2).count() == 90)
    // compaction folds the sequenced state into one clean base
    Snapshots.compact(spark, root)
    assert(Snapshots.read(spark, root).count() == 85)
  }

  test("delete files on DIFFERENT key columns each mask their own column") {
    val root = freshRoot()
    Snapshots.createOrReplace(table(1 to 100), root)
    Snapshots.deleteWhere(spark, root, "id", col("id") <= 10)
    // second delete keyed on payload, not id — must not be interpreted
    // as id values
    Snapshots.deleteWhere(spark, root, "payload",
      col("payload").isin("row_50", "row_51"))
    val cur = Snapshots.read(spark, root)
    assert(cur.count() == 88)
    assert(cur.filter(col("id") <= 10).count() == 0)
    assert(cur.filter(col("payload").isin("row_50", "row_51")).count() == 0)
    assert(cur.filter(col("id") === 49).count() == 1)
  }

  test("diff classifies inserts, deletes, and updates; unchanged rows stay out") {
    val root = freshRoot()
    Snapshots.createOrReplace(table(0 until 10), root) // v0
    Snapshots.deleteWhere(spark, root, "id", col("id") < 3) // v1: drop 0,1,2
    Snapshots.append(table(10 until 12), root) // v2: insert 10,11
    Snapshots.append( // v3: re-insert id 2 with a changed payload
      Seq((2L, "patched")).toDF("id", "payload"), root)
    val got = Snapshots.diff(spark, root, 0, 3, Seq("id"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((0L, "delete"), (1L, "delete"), (2L, "update"),
      (10L, "insert"), (11L, "insert")))
    // a version diffed against itself is empty
    assert(Snapshots.diff(spark, root, 3, 3, Seq("id")).count() == 0)
    // null-safe payload compare: null -> value and value -> null are updates
    val r2 = freshRoot()
    Snapshots.createOrReplace(
      Seq((1L, Option.empty[String]), (2L, Some("x"))).toDF("id", "payload"),
      r2)
    Snapshots.deleteWhere(spark, r2, "id", col("id").isin(1L, 2L))
    Snapshots.append(
      Seq((1L, Some("now")), (2L, Option.empty[String])).toDF("id", "payload"),
      r2)
    val g2 = Snapshots.diff(spark, r2, 0, 2, Seq("id"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(g2 == Set((1L, "update"), (2L, "update")))
  }

  test("diff matches null keys null-safely — no phantom insert/delete") {
    val root = freshRoot()
    Snapshots.createOrReplace(
      Seq((Option(1L), "a"), (Option.empty[Long], "b")).toDF("id", "payload"),
      root) // v0: a null-keyed row
    Snapshots.append(Seq((Option(2L), "c")).toDF("id", "payload"), root)
    val got = Snapshots.diff(spark, root, 0, 1, Seq("id"))
      .collect().map(r => (Option(r.get(0)), r.getString(1))).toSet
    // the unchanged null-keyed row must NOT surface as delete+insert
    assert(got == Set((Some(2L), "insert")))
  }

  test("diff rejects mismatched schemas loudly") {
    val root = freshRoot()
    Snapshots.createOrReplace(table(0 until 5), root)
    Snapshots.append(Seq((9L, "x", 1.0)).toDF("id", "payload", "extra"), root)
    val err = intercept[IllegalArgumentException] {
      Snapshots.diff(spark, root, 0, 1, Seq("id"))
    }
    assert(err.getMessage.contains("matching schemas"))
  }

  test("expireSnapshots drops old metadata, vacuums unreferenced dirs, " +
      "protects the current version") {
    val root = freshRoot()
    Snapshots.createOrReplace(table(0 until 10), root)  // v0 → data-0
    Snapshots.createOrReplace(table(10 until 20), root) // v1 → data-1
    Snapshots.append(table(20 until 30), root)          // v2 → data-1 + data-2
    val (expired, deleted) = Snapshots.expireSnapshots(root, keepLast = 1)
    assert(expired == Seq(0, 1))
    // data-1/data-2 stay: the surviving v2 references them; only the
    // orphaned v0 base is vacuumed
    assert(deleted == Seq("data-0"))
    assert(!Files.exists(java.nio.file.Paths.get(s"$root/data-0")))
    assert(Snapshots.read(spark, root).count() == 20)
    // time travel to an expired version fails loudly
    val err = intercept[IllegalArgumentException] {
      Snapshots.readVersion(spark, root, 0)
    }
    assert(err.getMessage.contains("not found"))
    // idempotent: a second expiry finds nothing
    assert(Snapshots.expireSnapshots(root, keepLast = 1) == ((Nil, Nil)))
  }

  test("upsert is ONE atomic commit: batch keys replace older copies, " +
      "batch survives its own delete file, time travel intact") {
    val root = freshRoot()
    Snapshots.createOrReplace(table(0 until 10), root)    // v0: ids 0-9
    val batch = spark.range(7, 13).toDF("id")
      .selectExpr("id", "'updated' AS payload")
    val snap = Snapshots.upsert(spark, root, batch, "id")
    // exactly ONE new version (not a delete version + an append version)
    assert(snap.version == 1 && snap.op == "upsert")
    assert(Snapshots.log(root).map(_.version) == Seq(0, 1))
    val now = Snapshots.read(spark, root)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(now.keySet == (0L until 13L).toSet)
    // ids 7-9: the batch copy won; 0-6 keep the original payload
    assert((7L to 12L).forall(now(_) == "updated"), now.toString)
    assert((0L to 6L).forall(now(_) != "updated"), now.toString)
    // time travel to v0 still shows the pre-upsert state
    assert(Snapshots.readVersion(spark, root, 0).count() == 10)
    // a second upsert of an already-upserted key wins again
    Snapshots.upsert(spark, root,
      spark.range(8, 9).toDF("id").selectExpr("id", "'again' AS payload"),
      "id")
    val after = Snapshots.read(spark, root)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(after(8L) == "again" && after(7L) == "updated")
    assert(after.size == 13)
    // a batch missing the key column fails loudly
    intercept[IllegalArgumentException] {
      Snapshots.upsert(spark, root,
        spark.range(1).toDF("not_key"), "id")
    }
  }

  test("a reader holding a PRE-expiry plan loses the vacuum race " +
      "LOUDLY — never a silent empty or partial result") {
    val root = freshRoot()
    Snapshots.createOrReplace(table(0 until 10), root)  // v0 → data-0
    Snapshots.createOrReplace(table(10 until 20), root) // v1 → data-1
    // the reader plans (and can even execute) against v0 BEFORE expiry
    val preExpiry = Snapshots.readVersion(spark, root, 0)
    assert(preExpiry.count() == 10)
    // maintenance expires v0 and vacuums data-0 mid-"query"
    val (expired, deleted) = Snapshots.expireSnapshots(root, keepLast = 1)
    assert(expired == Seq(0) && deleted == Seq("data-0"))
    // re-executing the pre-expiry plan must FAIL, not return 0 rows —
    // the files under its manifest are gone (refresh to drop any
    // cached file listing, as a long-running reader's executors would)
    spark.catalog.clearCache()
    preExpiry.inputFiles.foreach(_ => ()) // plan still names data-0
    val err = intercept[Exception] {
      Snapshots.readVersion(spark, root, 0)
    }
    assert(err.getMessage.contains("not found"),
      s"post-expiry time travel must name the missing version: $err")
    val race = intercept[Exception] { preExpiry.count() }
    val chain = Iterator.iterate[Throwable](race)(_.getCause)
      .takeWhile(_ != null).map(_.toString).mkString("\n")
    assert(chain.contains("FileNotFound") || chain.contains("PATH_NOT_FOUND")
      || chain.contains("does not exist"),
      s"stale reader must fail loudly, got:\n$chain")
  }

  test("expireSnapshots retention guards: keepLast floor, olderThan, " +
      "rollback keeps its target's dirs alive") {
    val root = freshRoot()
    Snapshots.createOrReplace(table(0 until 5), root) // v0 → data-0
    Snapshots.createOrReplace(table(5 until 9), root) // v1 → data-1
    Snapshots.rollback(root, 0)                       // v2 references data-0
    // the current version can never expire
    intercept[IllegalArgumentException] {
      Snapshots.expireSnapshots(root, keepLast = 0)
    }
    // an olderThan bound in the past expires nothing
    assert(Snapshots.expireSnapshots(root, olderThanMs = 0L) == ((Nil, Nil)))
    // v0 expires (only v1+v2 protected), but data-0 SURVIVES the
    // vacuum — the live rollback snapshot v2 still references it
    val (expired, deleted) = Snapshots.expireSnapshots(root, keepLast = 2)
    assert(expired == Seq(0) && deleted.isEmpty)
    assert(Snapshots.read(spark, root).count() == 5)
  }
}
