package graft.lake

import scala.util.chaining._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit}

import graft.util.{Checkpointing, Tables}

/** Medallion-lake write layer: landing-zone raw writes plus the silver
  * layer's partitioned append-or-create tables.
  *
  * Reference provenance:
  *  - landing JSON overwrite write under `ingest_on=<d>/`:
  *    de-c4w4a2-api-extract-job.py:66-72
  *  - landing CSV write: de-c4w4a2-extract-songs-job.py:44-50
  *  - Iceberg `writeTo(...).partitionedBy("ingest_on").append()` /
  *    `.createOrReplace()` with a tableExists branch:
  *    de-c4w4a2-transform-json-job.py:147-187,
  *    de-c4w4a2-transform-songs-job.py:102-118
  *  - dynamic partition overwrite for idempotent backfills:
  *    transform-json-job.py:57
  *
  * No Iceberg jars ship offline, so the silver layer is partitioned
  * Parquet in the session catalog — identical append / create-or-replace
  * / dynamic-overwrite semantics for everything the reference exercises
  * (it never uses row-level deletes). At cluster scale the partition
  * column (`ingest_on`) keeps every incremental run confined to its own
  * partition directory: reruns rewrite one date, readers prune to one
  * date, and appends never rewrite history.
  */
object Lake {

  /** The conf the reference sets so re-runs replace only the partitions
    * they touch (idempotent backfill). */
  def enableDynamicPartitionOverwrite(spark: SparkSession): Unit =
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")

  /** Landing write: raw JSON, compacted to one file per ingest date
    * (small increments; the reference coalesces to 1 — api-extract-job
    * .py:66). For large increments pass a higher fileCount. */
  def writeLandingJson(df: DataFrame, basePath: String, ingestOn: String,
      fileCount: Int = 1): Unit =
    df.coalesce(fileCount).write.mode("overwrite")
      .json(s"$basePath/ingest_on=$ingestOn/")

  /** Landing write: raw CSV with header (extract-songs-job.py:44-50). */
  def writeLandingCsv(df: DataFrame, basePath: String, ingestOn: String): Unit =
    df.write.mode("overwrite").option("header", "true")
      .csv(s"$basePath/ingest_on=$ingestOn/")

  /** Catalog tables keep partition columns at the end of the schema;
    * align a frame to the table's column order before a positional
    * `insertInto`. */
  private[graft] def alignTo(spark: SparkSession, df: DataFrame,
      table: String): DataFrame =
    df.select(spark.table(table).columns.map(col).toIndexedSeq: _*)

  /** Silver-layer upsert-by-partition: append when the table exists,
    * create otherwise — the reference's K3/K4/K5 branch. (The V1
    * session catalog has no REPLACE TABLE AS SELECT, so this is the V1
    * writer; against an Iceberg/Delta catalog the same calls would go
    * through `writeTo(...).append()/createOrReplace()`.) */
  def appendOrCreate(spark: SparkSession, df: DataFrame, table: String,
      partitionCol: String = "ingest_on"): Unit =
    if (spark.catalog.tableExists(table))
      alignTo(spark, df, table).write.mode("append").format("parquet")
        .partitionBy(partitionCol).saveAsTable(table)
    else df.write.format("parquet").partitionBy(partitionCol)
      .saveAsTable(table)

  /** Idempotent incremental load: replace exactly the partitions present
    * in `df` (create the table on first run). Overwrite + dynamic
    * partition-overwrite mode rewrites only the `ingest_on` values in
    * `df` — what K1's overwrite + K6's dynamic mode jointly guarantee
    * in the reference. */
  def overwritePartitions(spark: SparkSession, df: DataFrame, table: String,
      partitionCol: String = "ingest_on"): Unit =
    if (spark.catalog.tableExists(table)) {
      enableDynamicPartitionOverwrite(spark)
      alignTo(spark, df, table).write.mode("overwrite").insertInto(table)
    } else df.write.format("parquet").partitionBy(partitionCol)
      .saveAsTable(table)

  /** True when reading existing `from`-typed parquet data under a
    * `to`-typed table column is a SAFE widening Spark 4's parquet
    * readers support natively (SPARK-40876): integral up-casts,
    * float→double, and decimal growth that loses neither integer
    * digits nor scale. Everything else (narrowing, string↔numeric,
    * nested changes) needs a real table format's rewrite machinery. */
  private def widens(from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    (from, to) match {
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType) => true
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      case (f: DecimalType, t: DecimalType) =>
        t.scale >= f.scale &&
          t.precision - t.scale >= f.precision - f.scale
      case _ => false
    }
  }

  /** Schema-evolving append — the parquet-table equivalent of the
    * Iceberg v2 schema evolution the reference chose its format for
    * (transform-json-job.py:158-168, README.md:24):
    *
    *  - NEW columns: ALTER TABLE ADD COLUMNS (metadata-only, no data
    *    rewrite; history rows read them as null).
    *  - WIDENED columns (incoming int where the table has... long,
    *    float→double, decimal growth): the table type is widened in
    *    the catalog — metadata-only, because Spark 4's parquet readers
    *    read old narrow files under the wider column (SPARK-40876).
    *  - NARROWER incoming columns up-cast into the table type on
    *    append (the table never narrows).
    *  - Incompatible type changes, dropped non-nullable columns, and
    *    partition-column changes are rejected loudly rather than
    *    guessed. Renames are a data rewrite on parquet — see
    *    [[renameColumns]]. */
  def appendEvolved(spark: SparkSession, df: DataFrame, table: String,
      partitionCol: String = "ingest_on"): Unit = {
    if (!spark.catalog.tableExists(table)) {
      df.write.format("parquet").partitionBy(partitionCol)
        .saveAsTable(table)
      return
    }
    val existing = spark.table(table).schema
    val incoming = df.schema
    // name comparison mirrors Spark's default case-INsensitive
    // resolution: a case-variant of an existing column must append to
    // it, not trigger a doomed ALTER TABLE ADD COLUMNS
    val existingByLower = existing.map(f => f.name.toLowerCase -> f).toMap
    val incomingNames = incoming.fieldNames.map(_.toLowerCase).toSet
    val added = incoming.filterNot(f =>
      existingByLower.contains(f.name.toLowerCase))
    val missingOk = existing.filterNot(f =>
      incomingNames.contains(f.name.toLowerCase)).forall(_.nullable)
    require(missingOk, s"append to $table drops non-nullable columns")
    // classify type drift on columns present in both
    val widened = incoming.flatMap { f =>
      existingByLower.get(f.name.toLowerCase).collect {
        case ex if ex.dataType != f.dataType =>
          if (widens(ex.dataType, f.dataType)) {
            require(!ex.name.equalsIgnoreCase(partitionCol),
              s"cannot widen partition column ${ex.name} of $table")
            Some(ex.name -> f.dataType)
          } else if (widens(f.dataType, ex.dataType)) None // up-cast below
          else throw new IllegalArgumentException(
            s"append to $table: incompatible type change for ${ex.name} " +
              s"(${ex.dataType.simpleString} -> ${f.dataType.simpleString})")
      }.flatten
    }.toMap
    if (widened.nonEmpty) {
      val newData = org.apache.spark.sql.types.StructType(
        spark.table(table).schema
          .filterNot(_.name.equalsIgnoreCase(partitionCol))
          .map(f => widened.get(f.name)
            .fold(f)(t => f.copy(dataType = t))))
      org.apache.spark.sql.GraftSqlShims
        .alterTableDataSchema(spark, table, newData)
      spark.catalog.refreshTable(table)
    }
    if (added.nonEmpty) {
      val colsDdl = added.map(f => s"${f.name} ${f.dataType.sql}")
        .mkString(", ")
      spark.sql(s"ALTER TABLE $table ADD COLUMNS ($colsDdl)")
    }
    val target = spark.table(table).schema
    val aligned = df.select(target.map(f =>
      if (incomingNames.contains(f.name.toLowerCase))
        col(f.name).cast(f.dataType) // narrower incoming up-casts here
      else org.apache.spark.sql.functions.lit(null)
        .cast(f.dataType).as(f.name)).toIndexedSeq: _*)
    aligned.write.mode("append").format("parquet")
      .partitionBy(partitionCol).saveAsTable(table)
  }

  /** Rename columns on a partitioned parquet table. Without Iceberg's
    * field-id metadata this CANNOT be metadata-only: parquet resolves
    * columns by name, so old data files would read a renamed column as
    * null. The honest parquet cost is a full-table rewrite, staged to a
    * DURABLE parquet path under the warehouse before the managed table
    * is dropped — a crash or write failure between the drop and the
    * recreate leaves the staged copy on disk, never the only copy in
    * volatile executor blocks (that rename-without-rewrite pain is
    * exactly why the reference picked Iceberg, README.md:24).
    * Partition columns can't be renamed. */
  def renameColumns(spark: SparkSession, table: String,
      renames: Map[String, String],
      partitionCol: String = "ingest_on"): Unit = {
    require(renames.nonEmpty, "no renames given")
    require(!renames.keys.exists(_.equalsIgnoreCase(partitionCol)),
      s"cannot rename partition column $partitionCol")
    val cols = spark.table(table).columns.map(_.toLowerCase).toSet
    renames.keys.foreach(c => require(cols.contains(c.toLowerCase),
      s"rename source column $c not in $table"))
    renames.values.foreach(c => require(!cols.contains(c.toLowerCase),
      s"rename target column $c already exists in $table"))
    // duplicate targets would survive the per-target check, produce a
    // frame with two same-named columns, and fail AFTER the managed
    // table is dropped — destroying the only durable copy of the data
    val targets = renames.values.map(_.toLowerCase).toSeq
    require(targets.distinct.size == targets.size,
      s"rename targets collide: ${renames.values.mkString(", ")}")
    val renamed = renames.foldLeft(spark.table(table)) {
      case (acc, (from, to)) => acc.withColumnRenamed(from, to)
    }
    val stagePath = spark.conf.get("spark.sql.warehouse.dir") +
      s"/_staging_rename_${table.replace('.', '_')}"
    renamed.write.mode("overwrite").format("parquet")
      .partitionBy(partitionCol).save(stagePath)
    val staged = Tables.parquet(spark, stagePath)
    spark.sql(s"DROP TABLE $table")
    staged.write.format("parquet").partitionBy(partitionCol)
      .saveAsTable(table)
    val p = new org.apache.hadoop.fs.Path(stagePath)
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
  }

  /** Keyed upsert (MERGE emulation on a partitioned parquet table):
    * apply `updates` so the latest `versionCol` wins per `keyCols`.
    * Without Iceberg/Delta row-level ops, the scale-correct rewrite
    * unit is the PARTITION: only partitions present in `updates` are
    * read back (partition pruning via an IN filter on collected
    * partition values — small by construction: an incremental batch
    * touches few partitions), merged with a window-latest per key, and
    * rewritten under dynamic partition overwrite. Untouched partitions
    * are never read or written.
    *
    * Contract: a key's partition value is stable (updates arrive with
    * the same `partitionCol` value as the original row) — the usual
    * ingest-date model. Cross-partition key moves would need a full
    * key-index read, i.e. a real table format. The pre-write
    * materialization goes through [[graft.util.Checkpointing]]: set a
    * session checkpoint dir (setCheckpointDir) to make it a RELIABLE
    * checkpoint on a production cluster; executor-local blocks
    * otherwise. */
  def upsertByKey(spark: SparkSession, updates: DataFrame, table: String,
      keyCols: Seq[String], versionCol: String,
      partitionCol: String = "ingest_on"): Unit = {
    if (!spark.catalog.tableExists(table)) {
      updates.write.format("parquet").partitionBy(partitionCol)
        .saveAsTable(table)
      return
    }
    val touched = updates.select(col(partitionCol)).distinct()
      .collect().map(_.get(0))
    val existing = spark.table(table)
      .filter(col(partitionCol).isin(touched.toIndexedSeq: _*))
    // deterministic tie-break: on EQUAL versions the incoming update
    // wins — producers that re-emit corrections without bumping the
    // version get reproducible "last writer wins" instead of an
    // arbitrary row_number pick that differs across retries
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(col): _*)
      .orderBy(col(versionCol).desc, col("__is_update").desc)
    val lit1 = org.apache.spark.sql.functions.lit(1)
    val lit0 = org.apache.spark.sql.functions.lit(0)
    val merged = alignTo(spark, updates, table).withColumn("__is_update", lit1)
      .unionByName(existing.withColumn("__is_update", lit0))
      .withColumn("__rn",
        org.apache.spark.sql.functions.row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn", "__is_update")
    enableDynamicPartitionOverwrite(spark)
    // materialize before overwriting: the merged plan reads the very
    // partitions the write replaces
    val staged = merged.pipe(Checkpointing.materialize)
    alignTo(spark, staged, table).write.mode("overwrite").insertInto(table)
  }

  /** Bucketed catalog table: co-locates rows by hash of `bucketCol`
    * across `numBuckets` files per partition, so equi-joins and
    * aggregations on the bucket key read pre-shuffled data — at 100 TB
    * this converts every fact⋈fact join on the bucket key from a full
    * shuffle into a zero-exchange sort-merge join (see LakeSpec's plan
    * assertion). Sorting within buckets makes the merge side cheap. */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
      numBuckets: Int, sortCol: Option[String] = None): Unit = {
    val w = df.write.mode("overwrite").format("parquet")
      .bucketBy(numBuckets, bucketCol)
    sortCol.fold(w)(s => w.sortBy(s)).saveAsTable(table)
  }

  /** Persist per-partition KMV sketch columns beside a silver table:
    * one row per (partitionCol ++ groupCols) carrying the k-minimum-
    * values sketch of `hashCol` ([[graft.functions.KMinValuesSketch]])
    * plus the exact row count. Idempotent with the silver load itself:
    * re-running a partition replaces exactly that partition's sketch
    * rows (dynamic partition overwrite), so the sketch table tracks
    * the data commit for commit.
    *
    * The 100 TB property this buys: cross-partition cardinality and
    * overlap questions — "distinct documents across all of May",
    * "how much does day N overlap day N+1" — are answered from this
    * O(partitions · k) table ALONE, by pure sketch algebra (union =
    * k smallest of the exploded stored arrays; estimates/Jaccard via
    * [[graft.functions.KmvFunctions]]), never by re-scanning corpus
    * bytes. All downstream arithmetic is integer-exact over the
    * portable hash, so stored-sketch answers replay bit-identically
    * in any engine.
    *
    * `sampleValueCol` additionally lands a bottom-k ORDER SAMPLE of
    * that (numeric) column keyed by the same hash
    * ([[graft.functions.KMinValuesSample]], stored as `sample`) —
    * the distribution sibling: cross-partition quantile questions
    * ("May's median document length") are then answered from the
    * stored samples alone too, since bottom-k samples union
    * losslessly ([[graft.functions.KmvFunctions.kmv_sample_union]]).
    * For the sample to be a uniform row sample, `hashCol` must hash a
    * unique row id. */
  def writePartitionSketches(spark: SparkSession, df: DataFrame,
      table: String, hashCol: String, k: Int,
      partitionCol: String = "ingest_on",
      groupCols: Seq[String] = Nil,
      sampleValueCol: Option[String] = None): Unit = {
    val keys = (groupCols :+ partitionCol).map(col)
    // build_k rides beside every sketch row: it is the ONLY way a
    // later reader can assert the k <= build-k union/estimate
    // contract at runtime (a bare array cannot distinguish "full at
    // build-k" from "under-filled") — kmv_union_checked /
    // kmv_join_size_checked consume it and raise on truncated-tail
    // reads instead of biasing low.
    val aggs = Seq(
      graft.functions.KmvFunctions.kmv_sketch(col(hashCol), k)
        .as("sketch"),
      lit(k).as("build_k"),
      count(lit(1)).as("row_count")) ++
      sampleValueCol.map(v => graft.functions.KmvFunctions
        .kmv_sample(col(hashCol), col(v).cast("double"), k).as("sample"))
    val sk = df.groupBy(keys: _*).agg(aggs.head, aggs.tail: _*)
    overwritePartitions(spark, sk, table, partitionCol)
  }

  /** Serving-layer table materialization (dbt `table` → CTAS; K7). */
  def materializeTable(spark: SparkSession, df: DataFrame, table: String): Unit =
    df.write.mode("overwrite").format("parquet").saveAsTable(table)

  /** Serving-layer view materialization (dbt `view`; K8). */
  def materializeView(df: DataFrame, viewName: String): Unit =
    df.createOrReplaceTempView(viewName)

  /** Register lake files as a PERSISTENT catalog table at an external
    * LOCATION — the literal `CREATE EXTERNAL TABLE … LOCATION` shape
    * (Redshift Spectrum, reference serving/redshift.tf:9-21): the
    * catalog records only metadata, queries scan the files in place
    * (query-without-load), and dropping the table never deletes data
    * (Spark marks any explicit-LOCATION table EXTERNAL). Registration
    * is idempotent create-or-replace — re-pointing a name at a new
    * path is a metadata-only operation, exactly how a Spectrum DDL
    * migration works — and therefore only ever replaces an EXTERNAL
    * table: a MANAGED one refuses (dropping it deletes its data,
    * silently breaking the "drop never deletes" contract), and so do
    * views and anything else the name may resolve to (fail closed;
    * migrate or rename explicitly instead). The schema
    * comes from the files (parquet/orc self-describe); partition
    * columns in the path layout are discovered by the file index as
    * usual. Identifiers are schema-validated before interpolation
    * (Spark has no parameterized DDL), and locations containing a
    * single quote are rejected rather than escaped — Spark SQL string
    * literals are backslash-escaped, not doubled-quote-escaped, so no
    * portable in-literal escape exists. */
  def registerExternalTable(spark: SparkSession, table: String,
      location: String, format: String = "parquet"): Unit = {
    require(format.matches("[a-zA-Z0-9]+"), s"bad format: $format")
    require(table.matches("[a-zA-Z0-9_]+(\\.[a-zA-Z0-9_]+)?"),
      s"bad table identifier: $table")
    require(!location.contains("'"),
      s"location must not contain single quotes: $location")
    if (spark.catalog.tableExists(table)) {
      val kind = spark.sql(s"DESCRIBE TABLE EXTENDED $table")
        .filter(col("col_name") === "Type")
        .collect().headOption.map(_.getString(1)).getOrElse("")
      // only an EXTERNAL table is re-pointable: a MANAGED table's
      // DROP deletes its data, a VIEW (or a same-name temp view,
      // which reports no Type row) would hit DROP TABLE with a
      // confusing resolution — an allowlist fails closed on every
      // kind this DDL wasn't written for
      require(kind.equalsIgnoreCase("EXTERNAL"),
        s"refusing to replace $table (catalog type " +
          s"'${if (kind.isEmpty) "view/unknown" else kind}'): only " +
          "EXTERNAL tables are re-pointable; drop or rename it " +
          "explicitly first")
      spark.sql(s"DROP TABLE IF EXISTS $table")
    }
    spark.sql(s"CREATE TABLE $table USING $format LOCATION '$location'")
    ()
  }

  /** Compute table (and optionally column) statistics so Catalyst's
    * cost-based decisions — auto-broadcast thresholds, CBO join
    * reordering, AQE's initial estimates — work from measured sizes
    * and NDVs instead of file-size guesses. At 100 TB the difference
    * is a dim table that broadcasts because the catalog KNOWS it is
    * 40 MB after filters, versus a 100-GB-estimate shuffle. Run after
    * large writes, like a warehouse's post-load ANALYZE step.
    * Identifiers are schema-validated before interpolation (Spark has
    * no parameterized DDL). */
  def analyze(spark: SparkSession, table: String,
      columns: Seq[String] = Nil): Unit = {
    // resolving the table first turns an injection-shaped or simply
    // wrong name into a fast, clear failure
    val resolved = spark.table(table)
    val missing = columns.filterNot(resolved.columns.contains)
    require(missing.isEmpty, s"analyze: no such columns $missing in $table")
    spark.sql(s"ANALYZE TABLE $table COMPUTE STATISTICS")
    if (columns.nonEmpty)
      spark.sql(s"ANALYZE TABLE $table COMPUTE STATISTICS FOR COLUMNS " +
        columns.mkString(", "))
  }
}
