package graft.lake

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.util.Tables

/** Physical-layout operators for the lake: Z-order clustering for
  * multi-column data skipping, and small-file compaction.
  *
  * Why Z-order at 100 TB: parquet readers skip row groups via min/max
  * stats, but sorting by one column destroys locality in every other.
  * Interleaving the bits of several columns' ranks (a Morton / Z curve)
  * gives each file a small bounding box in ALL clustered dimensions, so
  * selective predicates on any of them prune files. This is the same
  * technique Delta/Iceberg expose as `OPTIMIZE ZORDER BY`; here it is a
  * pure column expression + range repartition — no custom writer.
  */
object Layout {

  /** Morton (Z-curve) value of pre-scaled non-negative integer ranks:
    * bit i of column j lands at output bit `i * n + j`. Inputs must be
    * in [0, 2^bits); with the default 16 bits up to 4 columns pack into
    * one long. A pure expression tree of shifts/masks — whole-stage
    * codegen'd, no UDF. */
  def zValue(ranks: Seq[Column], bits: Int = 16): Column = {
    require(ranks.nonEmpty && ranks.size * bits <= 63,
      s"${ranks.size} cols × $bits bits must fit in a signed long")
    val n = ranks.size
    val terms = for {
      (r, j) <- ranks.zipWithIndex
      i <- 0 until bits
    } yield shiftleft(
      shiftrightunsigned(r.cast("long"), i).bitwiseAND(lit(1L)),
      i * n + j)
    terms.reduce(_.bitwiseOR(_))
  }

  /** Scale an arbitrary numeric column to an integer rank in
    * [0, 2^bits) using fixed min/max bounds (computed once from table
    * stats at 100 TB — pass them in; never per-row percent_rank, which
    * would shuffle). */
  def scaleToRank(c: Column, min: Double, max: Double,
      bits: Int = 16): Column = {
    val span = math.max(max - min, Double.MinPositiveValue)
    val maxRank = (1L << bits) - 1
    least(greatest(
      (((c.cast("double") - min) / span) * maxRank).cast("long"),
      lit(0L)), lit(maxRank))
  }

  /** Z-order-cluster a DataFrame for writing: range-repartition by the
    * Morton value of the given (column, min, max) triples, sort within
    * partitions, drop the helper column. Each output file then covers a
    * small hyper-rectangle of the clustered dimensions — min/max row
    * group stats prune on any of them. */
  def zOrderBy(df: DataFrame, dims: Seq[(String, Double, Double)],
      numFiles: Int, bits: Int = 16): DataFrame = {
    val z = zValue(dims.map { case (c, lo, hi) =>
      scaleToRank(col(c), lo, hi, bits)
    }, bits)
    df.withColumn("__z", z)
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
  }

  /** Compact a directory of small parquet files into `numFiles` bigger
    * ones (the many-small-files metadata wall is the first operational
    * failure of a streaming ingest at scale). Returns the row count so
    * callers can assert no loss. */
  def compact(spark: org.apache.spark.sql.SparkSession, inPath: String,
      outPath: String, numFiles: Int): Long = {
    val df = Tables.parquet(spark, inPath)
    df.repartition(numFiles).write.mode("overwrite").parquet(outPath)
    Tables.parquet(spark, outPath).count()
  }

  // ---------------------------------------------- file-stats skipping

  /** File-level column-statistics manifest — the Delta/Iceberg
    * data-skipping analog for a plain parquet directory: one scan
    * computes per-file min/max/row-count for the named columns
    * (`input_file_name()` as the group key, so stats aggregate
    * map-side within each file's own scan tasks). Persist the result
    * next to the data; it is O(files), not O(rows), and answers
    * "which files can contain col ∈ [lo, hi]" without touching the
    * table again. Pairs with [[zOrderBy]]: clustered files have tight
    * bounding boxes, so the manifest prunes hard on every clustered
    * dimension. */
  def collectFileStats(spark: org.apache.spark.sql.SparkSession,
      path: String, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "need at least one column to profile")
    val aggs = cols.flatMap(c => Seq(
      min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c"))) :+
      count(lit(1)).as("rows")
    Tables.parquet(spark, path)
      .groupBy(input_file_name().as("file"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** The files whose [min, max] interval for `c` intersects
    * [lo, hi] — a manifest filter, never a data scan. Files whose
    * stats are NULL (every row null in `c`) are excluded: a range
    * predicate cannot match a null value. The returned list is
    * bounded by the files that MATCH, which is exactly the set the
    * caller is about to read anyway. */
  def candidateFiles(manifest: DataFrame, c: String,
      lo: Column, hi: Column): Seq[String] =
    manifest
      .filter(col(s"max_$c") >= lo && col(s"min_$c") <= hi)
      .select(col("file")).collect().map(_.getString(0)).toSeq

  /** Data-skipping read: consult the manifest, read ONLY the files
    * that can contain `c ∈ [lo, hi]`, and re-apply the exact
    * predicate (file granularity is an over-approximation; the
    * residual filter restores exact semantics — same contract as
    * parquet row-group skipping). An empty candidate set returns an
    * empty frame with the manifest-independent schema.
    *
    * Staleness guard: a manifest is a snapshot — files added or
    * rewritten after [[collectFileStats]] would be silently DROPPED
    * by pruning (a wrong answer, not a slow one), so by default the
    * directory listing is checked against the manifest's file set and
    * an unknown data file raises. `verifyFresh = false` skips the
    * O(files) driver listing for callers that own the write path and
    * re-collect the manifest on every commit (the Iceberg-snapshot
    * discipline). */
  def prunedRead(spark: org.apache.spark.sql.SparkSession, path: String,
      manifest: DataFrame, c: String, lo: Column,
      hi: Column, verifyFresh: Boolean = true): DataFrame = {
    if (verifyFresh) requireManifestFresh(spark, path, manifest)
    val files = candidateFiles(manifest, c, lo, hi)
    val base =
      if (files.isEmpty)
        Tables.parquet(spark, path).limit(0)
      else Tables.parquet(spark, files: _*)
    base.filter(col(c) >= lo && col(c) <= hi)
  }

  /** Raise unless every data file currently under `path` appears in
    * the manifest. Compares by basename (parquet part names carry a
    * per-job UUID; `input_file_name()` and Hadoop listings disagree
    * only on scheme prefixes, which basenames sidestep). One driver
    * listing, O(files) — never touches file contents. */
  def requireManifestFresh(spark: org.apache.spark.sql.SparkSession,
      path: String, manifest: DataFrame): Unit = {
    val known = manifest.select(col("file")).collect()
      .map(r => r.getString(0).split('/').last).toSet
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val listed = fs.listStatus(new org.apache.hadoop.fs.Path(path))
      .map(_.getPath.getName)
      .filter(n => n.endsWith(".parquet") && !n.startsWith("_")
        && !n.startsWith("."))
    val unknown = listed.filterNot(known.contains)
    require(unknown.isEmpty,
      s"stale manifest for $path: ${unknown.length} data file(s) not " +
        s"in the manifest (e.g. ${unknown.take(3).mkString(", ")}) — " +
        "re-run collectFileStats or pass verifyFresh = false")
  }

  /** Pruned read for file counts where a driver-side path list is
    * hostile (a million-file table): the matched-file set stays a
    * DataFrame end to end and prunes via a semi join on the hidden
    * `_metadata.file_path` column — the driver never materializes
    * file paths. The trade, stated plainly: unlike [[prunedRead]],
    * every file is still OPENED (the pushed-down residual range
    * predicate skips its row groups via footer stats — usually the
    * bulk of the win on [[zOrderBy]]-clustered data), and rows of
    * unmatched files drop at the join instead of never being
    * scheduled. Below `maxDriverFiles` matched files it delegates to
    * [[prunedRead]]'s true file skipping, so callers get the stronger
    * form whenever the driver can afford it. No broadcast hint on the
    * matched set: at the scale this path exists for it can exceed the
    * broadcast limit, and AQE picks broadcast itself when it fits. */
  def prunedReadDistributed(spark: org.apache.spark.sql.SparkSession,
      path: String, manifest: DataFrame, c: String, lo: Column,
      hi: Column, maxDriverFiles: Int = 100000): DataFrame = {
    val cand = manifest
      .filter(col(s"max_$c") >= lo && col(s"min_$c") <= hi)
      .select(regexp_extract(col("file"), "([^/]+)$", 1).as("__mf"))
    if (cand.count() <= maxDriverFiles)
      prunedRead(spark, path, manifest, c, lo, hi, verifyFresh = false)
    else {
      val base = Tables.parquet(spark, path)
        .withColumn("__bf",
          regexp_extract(col("_metadata.file_path"), "([^/]+)$", 1))
        .filter(col(c) >= lo && col(c) <= hi)
      base.join(cand, base("__bf") === cand("__mf"), "left_semi")
        .drop("__bf")
    }
  }
}
