package graft.lake

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.util.Tables

/** Snapshot-versioned parquet tables: the slice of Iceberg v2 the
  * reference chose Iceberg FOR, re-built on plain parquet + a JSON
  * manifest (the reference relies on Glue/Iceberg for schema evolution
  * and incremental upserts — transform-json-job.py:158-168; Lake
  * covers those. This module adds the three capabilities a table
  * format has that partition-level tricks can't emulate: TIME TRAVEL,
  * ROW-LEVEL DELETES, and MERGE-ON-READ).
  *
  * Layout under a table root:
  * {{{
  *   root/
  *     _manifest.json      — ordered snapshot log (the table state)
  *     data-<v>/           — parquet written by snapshot v (append/overwrite)
  *     delete-<v>/         — delete-key parquet written by snapshot v
  * }}}
  *
  * A snapshot is defined by the manifest entry, never by what's on
  * disk: entry v lists which data dirs compose the version and which
  * delete dirs mask them. Readers reconstruct any version as
  * `union(data dirs) LEFT ANTI join union(delete keys)` — exactly
  * Iceberg's merge-on-read equality-delete semantics: a delete costs
  * one small key file, NO base-file rewrite, and the anti-join rides
  * the read. [[compact]] is the rewrite path (Iceberg's
  * rewrite_data_files): folds deletes into a fresh base when the
  * delete mask grows.
  *
  * Scale shape: appends write only the increment; deletes write only
  * the keys; time travel is manifest selection (no data movement);
  * the merge-on-read anti-join broadcasts the (small) delete-key side
  * and prunes to the key column. The manifest is O(snapshots), not
  * O(data).
  *
  * Commits are last-writer-wins over the manifest (temp file +
  * atomic rename; SINGLE WRITER per table, like [[Lake]]'s partition
  * writes — a lake coordinator/catalog provides the lock at cluster
  * scale). Readers always see a complete manifest.
  */
object Snapshots {

  final case class Snapshot(
      version: Int,
      op: String,                 // create | append | delete | overwrite | compact | rollback
      timestampMs: Long,
      dataDirs: Seq[String],      // dirs composing this version
      deleteDirs: Seq[String])    // delete-key dirs masking dataDirs

  // ------------------------------------------------------------ manifest

  private def manifestPath(root: String): Path =
    Paths.get(root, "_manifest.json")

  /** Hand-rolled JSON (no deps): one object per snapshot. */
  private def render(snaps: Seq[Snapshot]): String =
    snaps.map { s =>
      val dd = s.dataDirs.map("\"" + _ + "\"").mkString("[", ",", "]")
      val xd = s.deleteDirs.map("\"" + _ + "\"").mkString("[", ",", "]")
      s"""{"version":${s.version},"op":"${s.op}","ts":${s.timestampMs},""" +
        s""""data":$dd,"deletes":$xd}"""
    }.mkString("[\n", ",\n", "\n]")

  private val entryRe =
    ("""\{"version":(\d+),"op":"([a-z]+)","ts":(\d+),""" +
      """"data":\[([^\]]*)\],"deletes":\[([^\]]*)\]\}""").r

  private def parseDirs(s: String): Seq[String] =
    if (s.trim.isEmpty) Nil
    else s.split(",").map(_.trim.stripPrefix("\"").stripSuffix("\"")).toSeq

  /** The full snapshot log, oldest first; empty when no table exists. */
  def log(root: String): Seq[Snapshot] = {
    val p = manifestPath(root)
    if (!Files.exists(p)) Nil
    else entryRe.findAllMatchIn(
        new String(Files.readAllBytes(p), StandardCharsets.UTF_8))
      .map(m => Snapshot(m.group(1).toInt, m.group(2), m.group(3).toLong,
        parseDirs(m.group(4)), parseDirs(m.group(5))))
      .toSeq.sortBy(_.version)
  }

  private def commit(root: String, snap: Snapshot): Unit = {
    val snaps = log(root) :+ snap
    Files.createDirectories(Paths.get(root))
    val tmp = Paths.get(root, s"_manifest.json.tmp-${snap.version}")
    Files.write(tmp, render(snaps).getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, manifestPath(root),
      StandardCopyOption.REPLACE_EXISTING,
      StandardCopyOption.ATOMIC_MOVE)
  }

  private def latest(root: String): Snapshot = {
    val snaps = log(root)
    require(snaps.nonEmpty, s"no snapshot table at $root")
    snaps.last
  }

  private def nextVersion(root: String): Int =
    log(root).lastOption.map(_.version + 1).getOrElse(0)

  // ------------------------------------------------------------- writes

  /** Create or replace the table with `df` as snapshot contents. */
  def createOrReplace(df: DataFrame, root: String): Snapshot = {
    val v = nextVersion(root)
    val dir = s"data-$v"
    df.write.mode("overwrite").parquet(s"$root/$dir")
    val snap = Snapshot(v, if (v == 0) "create" else "overwrite",
      System.currentTimeMillis(), Seq(dir), Nil)
    commit(root, snap)
    snap
  }

  /** Append-only commit: writes ONLY the increment; prior data dirs
    * are referenced, never rewritten (Iceberg fast append). */
  def append(df: DataFrame, root: String): Snapshot = {
    val prev = latest(root)
    val v = prev.version + 1
    val dir = s"data-$v"
    df.write.mode("overwrite").parquet(s"$root/$dir")
    val snap = Snapshot(v, "append", System.currentTimeMillis(),
      prev.dataDirs :+ dir, prev.deleteDirs)
    commit(root, snap)
    snap
  }

  /** Delete-dir count past which [[deleteWhere]] and [[upsert]] fold
    * the accumulated mask into a fresh base ([[compact]]) right after
    * their commit. Merge-on-read read cost grows with every masked
    * generation — one more scan+union on the delete side, and one
    * more distinct key column means one more anti-join — so without a
    * trigger nothing ever pays the rewrite and reads decay without
    * bound (Iceberg ships the same heuristic as
    * `rewrite_data_files`' delete-file thresholds). 8 delete dirs ≈
    * the point where the mask bookkeeping rivals one base rewrite at
    * typical batch cadence; override per call, `<= 0` disables. */
  val DefaultAutoCompactDeleteDirs = 8

  private def maybeAutoCompact(spark: SparkSession, root: String,
      snap: Snapshot, threshold: Int): Unit =
    if (threshold > 0 && snap.deleteDirs.size >= threshold) {
      compact(spark, root); ()
    }

  /** Row-level delete, merge-on-read: materializes the KEYS matching
    * `predicate` into a delete file; base parquet is untouched.
    * Readers of this and later versions anti-join the keys out.
    * `keyCol` must identify rows uniquely (Iceberg equality delete).
    *
    * Returns THIS delete's snapshot; when the accumulated delete-dir
    * count reaches `autoCompactDeleteDirs` a [[compact]] snapshot is
    * committed right after it (the returned version stays readable —
    * compaction never rewrites history). */
  def deleteWhere(spark: SparkSession, root: String, keyCol: String,
      predicate: org.apache.spark.sql.Column,
      autoCompactDeleteDirs: Int = DefaultAutoCompactDeleteDirs)
      : Snapshot = {
    val prev = latest(root)
    val v = prev.version + 1
    val dir = s"delete-$v"
    readSnapshot(spark, root, prev)
      .filter(predicate).select(col(keyCol))
      .write.mode("overwrite").parquet(s"$root/$dir")
    val snap = Snapshot(v, "delete", System.currentTimeMillis(),
      prev.dataDirs, prev.deleteDirs :+ dir)
    commit(root, snap)
    maybeAutoCompact(spark, root, snap, autoCompactDeleteDirs)
    snap
  }

  /** Atomic upsert (MERGE-by-key, merge-on-read): ONE commit carrying
    * both an equality-delete of the batch's keys and the batch itself
    * — readers see either none of it (pre-commit manifest) or all of
    * it. The deleteWhere-then-append pair can't give that: its
    * intermediate version exposes the deletion without the insert,
    * and a concurrent reader (or a crash between the two commits)
    * observes rows vanished. Sequencing makes the single commit
    * correct: both dirs carry this version v, and a delete file
    * applies only to data files with a STRICTLY smaller sequence — so
    * the batch's own rows survive its own delete file while every
    * older copy of a batch key is masked (Iceberg v2 upsert shape).
    *
    * The batch must be key-unique: two batch rows sharing a key BOTH
    * survive (they also both out-sequence the delete file). Dedup
    * upstream ([[graft.dedup.Dedup.exactDedup]]) — checking here
    * would cost a full pass per commit. */
  def upsert(spark: SparkSession, root: String, df: DataFrame,
      keyCol: String,
      autoCompactDeleteDirs: Int = DefaultAutoCompactDeleteDirs)
      : Snapshot = {
    require(df.columns.contains(keyCol),
      s"upsert batch has no column '$keyCol' " +
        s"(columns: ${df.columns.mkString(", ")})")
    val prev = latest(root)
    val v = prev.version + 1
    val dataDir = s"data-$v"
    val delDir = s"delete-$v"
    df.write.mode("overwrite").parquet(s"$root/$dataDir")
    // delete keys come from the LANDED batch (not the live plan):
    // one source of truth for what was written
    Tables.parquet(spark, s"$root/$dataDir").select(col(keyCol))
      .distinct().write.mode("overwrite").parquet(s"$root/$delDir")
    val snap = Snapshot(v, "upsert", System.currentTimeMillis(),
      prev.dataDirs :+ dataDir, prev.deleteDirs :+ delDir)
    commit(root, snap)
    maybeAutoCompact(spark, root, snap, autoCompactDeleteDirs)
    snap
  }

  /** Fold accumulated deletes into a fresh single base (Iceberg
    * rewrite_data_files): the new version reads with NO anti-join;
    * older versions still time-travel (their dirs remain). */
  def compact(spark: SparkSession, root: String): Snapshot = {
    val prev = latest(root)
    val v = prev.version + 1
    val dir = s"data-$v"
    readSnapshot(spark, root, prev)
      .write.mode("overwrite").parquet(s"$root/$dir")
    val snap = Snapshot(v, "compact", System.currentTimeMillis(),
      Seq(dir), Nil)
    commit(root, snap)
    snap
  }

  /** Point the table back at version `v`'s state (a NEW snapshot that
    * references v's dirs — history is never destroyed). */
  def rollback(root: String, v: Int): Snapshot = {
    val snaps = log(root)
    val target = snaps.find(_.version == v)
      .getOrElse(throw new IllegalArgumentException(
        s"version $v not in ${snaps.map(_.version)}"))
    val snap = Snapshot(snaps.last.version + 1, "rollback",
      System.currentTimeMillis(), target.dataDirs, target.deleteDirs)
    commit(root, snap)
    snap
  }

  /** Expire old snapshot metadata and VACUUM the data/delete dirs no
    * surviving snapshot references (Iceberg's `expire_snapshots` +
    * `remove_orphan_files` maintenance pair). Without expiry the
    * manifest and the version dirs grow forever — every append keeps
    * every historical base alive. The reference never exercises this
    * (its Iceberg tables are append-only within the course window),
    * but any long-lived deployment needs it.
    *
    * Retention guard, both conditions required to expire a snapshot:
    *  - it is NOT among the `keepLast` most recent (min 1 — the
    *    current version can never expire), and
    *  - its commit timestamp is strictly older than `olderThanMs`.
    *
    * Dirs are deleted only when NO surviving snapshot references them
    * — a rollback snapshot keeps its target's dirs alive even after
    * the target version itself expires. Time travel to an expired
    * version fails loudly afterwards (`version not found`). The
    * manifest rewrite is the same temp-file + atomic-rename commit as
    * every other write; a reader never sees a partial log.
    *
    * CONCURRENCY CONTRACT (Iceberg's own expire_snapshots shape):
    *  - SINGLE WRITER. The manifest rewrite is atomic, but the data-dir
    *    vacuum that follows is not — two concurrent expiries (or an
    *    expiry racing an append that is between writing its data dir
    *    and committing its manifest entry) can delete each other's
    *    work. Run expiry from the table's one maintenance job, exactly
    *    like Iceberg.
    *  - READERS may hold a PRE-expiry manifest (a DataFrame planned
    *    before the vacuum). Such a reader races the dir deletion: if
    *    the vacuum wins, the scan fails LOUDLY mid-read
    *    (FileNotFoundException from the parquet scan — never a silent
    *    empty or partial result; SnapshotsSpec pins this). Size
    *    `keepLast`/`olderThanMs` beyond the longest-running reader —
    *    the same operational rule as Iceberg's
    *    `expire_snapshots(older_than => ...)`.
    *
    * Returns (expired version numbers, deleted dir names). */
  def expireSnapshots(root: String, keepLast: Int = 1,
      olderThanMs: Long = Long.MaxValue): (Seq[Int], Seq[String]) = {
    require(keepLast >= 1,
      s"keepLast must be >= 1 — the current version cannot expire " +
        s"(got $keepLast)")
    val snaps = log(root)
    require(snaps.nonEmpty, s"no snapshot table at $root")
    val protectedVs = snaps.takeRight(keepLast).map(_.version).toSet
    val (expired, kept) = snaps.partition(s =>
      !protectedVs.contains(s.version) && s.timestampMs < olderThanMs)
    if (expired.isEmpty) (Nil, Nil)
    else {
      val tmp = Paths.get(root, "_manifest.json.tmp-expire")
      Files.write(tmp, render(kept).getBytes(StandardCharsets.UTF_8))
      Files.move(tmp, manifestPath(root),
        StandardCopyOption.REPLACE_EXISTING,
        StandardCopyOption.ATOMIC_MOVE)
      val live = kept.flatMap(s => s.dataDirs ++ s.deleteDirs).toSet
      val deleted = Option(Paths.get(root).toFile.listFiles()).toSeq.flatten
        .filter(f => f.isDirectory &&
          (f.getName.startsWith("data-") ||
            f.getName.startsWith("delete-")) &&
          !live.contains(f.getName))
        .sortBy(_.getName)
        .map { d => deleteRec(d); d.getName }
      (expired.map(_.version), deleted)
    }
  }

  private def deleteRec(f: java.io.File): Unit = {
    Option(f.listFiles()).toSeq.flatten.foreach(deleteRec)
    f.delete(); ()
  }

  // -------------------------------------------------------------- reads

  /** A dir's commit version doubles as its Iceberg sequence number
    * (`data-3` → 3). */
  private def dirSeq(dir: String): Int = dir.split("-").last.toInt

  private def readSnapshot(spark: SparkSession, root: String,
      snap: Snapshot): DataFrame = {
    require(snap.dataDirs.nonEmpty, s"empty snapshot $snap")
    // unmasked fast path (fresh tables, append-only histories, and
    // everything after a compact): no sequencing marker, no delete
    // mask — the same per-dir unionByName(allowMissingColumns)
    // composition as the masked path (NOT a multi-path mergeSchema
    // scan: parquet footer-merge refuses the int→long type widening
    // that union's implicit coercion accepts, and its column order
    // follows footer-merge order rather than deterministic dataDirs
    // order). Unions are narrow — a single-dir snapshot is literally
    // one scan, a multi-dir history is one stage of parallel scans.
    if (snap.deleteDirs.isEmpty)
      return snap.dataDirs.map(d => Tables.parquet(spark, s"$root/$d"))
        .reduce(_.unionByName(_, allowMissingColumns = true))
    // Iceberg v2 sequencing: an equality-delete file applies ONLY to
    // data files committed before it (smaller sequence number) — a key
    // re-appended AFTER its delete must survive the older delete
    // file. Each data dir is read with its commit version attached as
    // __seq (per-dir reads instead of one multi-path scan — the dir
    // count is bounded by snapshot history and compact() folds it
    // back to one), and the delete mask matches on key AND
    // delete-seq > data-seq. unionByName(allowMissingColumns) plays
    // the old mergeSchema role: an append may carry NEW columns
    // (Iceberg add-column); older files surface them as nulls.
    val base = snap.dataDirs.map { d =>
      val df = Tables.parquet(spark, s"$root/$d")
      // fail loudly rather than silently replacing-then-dropping a
      // user column that collides with the internal sequence marker
      require(!df.columns.contains("__seq"),
        s"snapshot table $root has a column named __seq, which is " +
          "reserved for merge-on-read sequencing")
      df.withColumn("__seq", lit(dirSeq(d)))
    }.reduce(_.unionByName(_, allowMissingColumns = true))
    val delFrames = snap.deleteDirs.map { d =>
      val df = Tables.parquet(spark, s"$root/$d")
      (df.columns.head,
        df.select(col(df.columns.head).as("__delkey"),
          lit(dirSeq(d)).as("__dseq")))
    }
    // deleteWhere accepts a different key column per call — apply
    // one anti-join per DISTINCT key column, each delete file
    // joined on its own column (a single join keyed on the first
    // file's column would treat later files' keys as values of
    // that column and mask the wrong rows). Delete-key sides are
    // small by construction — broadcast, so the mask never
    // shuffles the base data however many key columns appear.
    val masked =
      delFrames.groupBy(_._1).toSeq.sortBy(_._1).foldLeft(base) {
        case (acc, (keyCol, frames)) =>
          val dels = frames.map(_._2).reduce(_ unionByName _)
          acc.join(broadcast(dels),
            acc(keyCol) === dels("__delkey") &&
              dels("__dseq") > acc("__seq"), "left_anti")
      }
    masked.drop("__seq")
  }

  /** Current table state. */
  def read(spark: SparkSession, root: String): DataFrame =
    readSnapshot(spark, root, latest(root))

  /** Time travel by version number. */
  def readVersion(spark: SparkSession, root: String, v: Int): DataFrame = {
    val snap = log(root).find(_.version == v)
      .getOrElse(throw new IllegalArgumentException(
        s"version $v not found at $root"))
    readSnapshot(spark, root, snap)
  }

  /** Time travel by timestamp: the last snapshot committed at or
    * before `tsMs` (Iceberg's FOR TIMESTAMP AS OF). */
  def readAsOf(spark: SparkSession, root: String, tsMs: Long): DataFrame = {
    val snaps = log(root).filter(_.timestampMs <= tsMs)
    require(snaps.nonEmpty, s"no snapshot at or before $tsMs in $root")
    readSnapshot(spark, root, snaps.last)
  }

  /** Snapshot history as a DataFrame (Iceberg's .snapshots metadata
    * table). */
  def history(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    log(root).map(s => (s.version, s.op, s.timestampMs,
        s.dataDirs.size, s.deleteDirs.size))
      .toDF("version", "op", "ts_ms", "data_dirs", "delete_dirs")
  }

  /** Row-level diff between two versions — the change-data-feed read
    * (Delta CDF / Iceberg changelog analog): which keys were
    * `insert`ed, `delete`d, or `update`d going from `fromV` to `toV`.
    * Unchanged rows never appear. `keyCols` must identify a row in
    * both versions (the same contract deleteWhere's key column has);
    * every non-key column is payload, compared null-safely as one
    * struct.
    *
    * Scale shape: both versions reconstruct through the usual
    * merge-on-read path, reduce to `(key, payload-struct)`, and meet
    * in ONE full-outer hash join on the key — no column-by-column
    * comparison fan-out, no collect. The output is bounded by the
    * changed-row count plus both versions' key sets (the join's own
    * cost), which is the floor for any diff that must CLASSIFY
    * changes. */
  def diff(spark: SparkSession, root: String, fromV: Int, toV: Int,
      keyCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "diff needs at least one key column")
    val a = readVersion(spark, root, fromV)
    val b = readVersion(spark, root, toV)
    require(a.columns.sorted.sameElements(b.columns.sorted),
      s"diff requires matching schemas between v$fromV and v$toV — " +
        s"got ${a.columns.mkString(",")} vs ${b.columns.mkString(",")}")
    val valCols = a.columns.filterNot(keyCols.contains).sorted.toSeq
    def keyed(df: DataFrame, payload: String, prefix: String) = df.select(
      keyCols.map(c => col(c).as(s"$prefix$c")) :+
        struct(valCols.map(col): _*).as(payload) :+
        lit(true).as(s"${payload}_present"): _*)
    val old = keyed(a, "__old", "__ka_")
    val neu = keyed(b, "__new", "__kb_")
    // NULL-SAFE key equality: a row whose key is null must still match
    // itself across versions (same reason evaluateByPartition joins
    // its side pass with <=>) — a plain equi-join would report it as a
    // phantom delete + insert every diff
    val cond = keyCols.map(c => col(s"__ka_$c") <=> col(s"__kb_$c"))
      .reduce(_ && _)
    old.join(neu, cond, "full_outer")
      .withColumn("change_type",
        when(col("__old_present").isNull, lit("insert"))
          .when(col("__new_present").isNull, lit("delete"))
          .when(!(col("__old") <=> col("__new")), lit("update")))
      .filter(col("change_type").isNotNull)
      .select(keyCols.map(c =>
        coalesce(col(s"__ka_$c"), col(s"__kb_$c")).as(c)) :+
        col("change_type"): _*)
  }
}
