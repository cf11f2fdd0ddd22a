package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.dq.{Dqdl, IsComplete, RowCount, Ruleset, UniqueKey}
import graft.operators.Sampling
import graft.text.TextAnalysis
import graft.util.Tables

/** End-to-end training-data curation as a [[Pipeline]] DAG — the
  * north-star operators (quality scoring, PII redaction, opt-in
  * line-level cleanup (C4 frequent-line strip + Gopher duplicate-line
  * gate), exact + near dedup, benchmark decontamination,
  * deterministic splitting) wired through the same runner that
  * executes the reference's ETL DAGs, with a blocking DQ gate before
  * the final split.
  *
  * Stages hand off through parquet staging dirs (the lake pattern —
  * each stage is independently rerunnable and inspectable; at 100 TB
  * the staging dirs are the recovery points). Linear deps except the
  * gate, which mirrors the reference's `wait_for_completion=True` DQ
  * blocking.
  */
object Curation {

  /** Near-dup survivor policy: [[KeepMinId]] drops any row matching a
    * smaller id (one anti-join — the cheap default); [[KeepBest]]
    * clusters the pair graph and keeps the highest-quality doc per
    * cluster (connectedComponents + the argmax aggregation — one extra
    * clustering pass, survivors chosen by content quality instead of
    * id order). */
  sealed trait KeepPolicy
  case object KeepMinId extends KeepPolicy
  case object KeepBest extends KeepPolicy

  final case class Config(
      inPath: String,        // documents parquet
      benchPath: String,     // benchmark/eval documents parquet
      workDir: String,       // staging root
      minQuality: Double = 0.3,
      nearDupThreshold: Double = 0.5,
      trainPct: Int = 90,
      keepPolicy: KeepPolicy = KeepMinId,
      // opt-in line-level filters (the C4/Gopher cleanup pass between
      // quality scoring and dedup); None/None keeps the stage out of
      // the DAG entirely
      boilerplateMinDocs: Option[Int] = None, // strip corpus-frequent lines
      maxDupLineFrac: Option[Double] = None,  // drop line-repetitive docs
      lineDelim: String = "\n")

  /** Incremental corpus ingestion: append to `table` only documents
    * whose content fingerprint has NEVER been seen — not in the
    * table's full history, not earlier in this same batch (smallest
    * id wins within a batch). Returns the number of rows appended.
    *
    * This is the daily-ingest face of exact dedup: the corpus table
    * grows monotonically and every arriving batch is checked against
    * all of history. Scale shape: within-batch dedup is one hash
    * aggregation on the fingerprint; the against-history check is a
    * LEFT ANTI join that reads ONE column (`fpCol`) of the corpus —
    * column pruning means the 100 TB of text is never touched — and
    * shuffles only (fingerprint, id) pairs. The appended count rides
    * an `Observation` on the write, costing no extra pass.
    *
    * Idempotence for free: re-ingesting a batch finds all its
    * fingerprints already in the table and appends nothing — no
    * ledger needed, the dedup IS the exactly-once mechanism.
    *
    * SINGLE WRITER per table: the anti-join reads a snapshot of the
    * table, so two concurrent callers could both see a fingerprint as
    * novel and double-append it. In-JVM concurrency is serialized here
    * by a per-table lock; across JVMs the caller must ensure one
    * writer per table (the streaming `ingestNovel` path satisfies this
    * by construction — one query, serial microbatches). */
  private val appendLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  def appendNovel(spark: SparkSession, incoming: DataFrame, table: String,
      idCol: String = "doc_id", textCol: String = "text",
      partitionCol: String = "ingest_on",
      fpCol: String = "fp"): Long =
    appendLocks.computeIfAbsent(table, _ => new Object).synchronized {
      appendNovelUnsynchronized(spark, incoming, table, idCol, textCol,
        partitionCol, fpCol)
    }

  private def appendNovelUnsynchronized(spark: SparkSession,
      incoming: DataFrame, table: String, idCol: String, textCol: String,
      partitionCol: String, fpCol: String): Long = {
    // null text fingerprints as empty text: every row gets a NON-NULL
    // fingerprint (a null fp would never match the anti-join and the
    // same junk doc would re-append on every replay), and null/empty
    // documents — identical content — correctly collapse to one
    val fped = incoming.withColumn(fpCol,
      TextAnalysis.contentFingerprint(coalesce(col(textCol), lit(""))))
    // within-batch: exactly one physical row per fingerprint, smallest
    // id wins — a window over fp (one shuffle), NOT a groupBy +
    // join-back on id, which would resurrect both copies of an
    // identically-redelivered row (same id, same text)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(fpCol)).orderBy(col(idCol).asc)
    val batchUnique = fped.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
    val novel =
      if (!spark.catalog.tableExists(table)) batchUnique
      else batchUnique.join(spark.table(table).select(col(fpCol)),
        Seq(fpCol), "left_anti")
    val obs = org.apache.spark.sql.Observation()
    val observed = novel.observe(obs, count(lit(1)).as("appended"))
    graft.lake.Lake.appendOrCreate(spark, observed, table, partitionCol)
    obs.get("appended").asInstanceOf[Long]
  }

  def pipeline(spark: SparkSession, cfg: Config): Pipeline = {

    def stagePath(s: String) = s"${cfg.workDir}/$s"
    def read(s: String): DataFrame = Tables.parquet(spark, stagePath(s))
    def write(df: DataFrame, s: String): StageOutcome = {
      df.write.mode("overwrite").parquet(stagePath(s)); StageOk
    }
    // Stats ride the stage WRITE as an Observation (computed on the
    // exact rows written, zero extra pass) and land as one tiny
    // parquet row under stats/<stage>: later consumers — the DQ gate
    // below, audits, cross-run comparisons — answer row-count /
    // completeness / cardinality questions from the stats row, never
    // re-scanning the staged corpus (at 100 TB the re-scan the gate
    // used to do is a full extra pass over the stage). The KMV id
    // sketch can't ride the Observation (CollectMetrics takes plain
    // aggregates), so it costs one doc_id-column-pruned scan of the
    // just-written files — skinny by column pruning, and the LAST
    // time the stage's ids ever need reading for a cardinality
    // question. build_k is stamped beside it, the same contract as
    // the lake's writePartitionSketches, so stored-sketch algebra
    // (kmv_union_checked etc.) composes across pipeline runs — "how
    // much does today's curated output overlap yesterday's" is two
    // stats rows, not two corpus scans.
    def writeWithStats(df: DataFrame, s: String): StageOutcome = {
      import spark.implicits._
      val obs = org.apache.spark.sql.Observation()
      df.observe(obs,
          count(lit(1)).as("row_count"),
          count(when(col("doc_id").isNull, 1)).as("null_doc_id"),
          count(when(col("text").isNull, 1)).as("null_text"))
        .write.mode("overwrite").parquet(stagePath(s))
      val m = obs.get
      val statsRow = Seq((m("row_count").asInstanceOf[Long],
          m("null_doc_id").asInstanceOf[Long],
          m("null_text").asInstanceOf[Long]))
        .toDF("row_count", "null_doc_id", "null_text")
      val sketch = read(s).agg(
        graft.functions.KmvFunctions.kmv_sketch(
          graft.functions.KmvFunctions.kmv_hash48(col("doc_id")), 1024)
          .as("id_sketch"),
        lit(1024).as("build_k"))
      statsRow.crossJoin(sketch)
        .write.mode("overwrite").parquet(stagePath(s"stats/$s"))
      StageOk
    }

    // line-level cleanup (C4 frequent-line strip, then the Gopher
    // duplicate-line gate on the STRIPPED text — removed boilerplate
    // must not count toward a document's own repetition) slots in
    // between quality scoring and dedup when configured; dedup then
    // reads whichever stage is last
    val lineFiltersEnabled =
      cfg.boilerplateMinDocs.isDefined || cfg.maxDupLineFrac.isDefined
    val dedupInput = if (lineFiltersEnabled) "line_filters" else "clean"

    val lineStage = Stage("line_filters", Seq("clean")) { _ =>
      var df = read("clean")
      cfg.boilerplateMinDocs.foreach { minDocs =>
        // left join + coalesce: docs with zero segments (no stats row)
        // keep their original text; a doc that was ALL boilerplate
        // keeps an empty text and collapses in exact dedup
        val stripped = graft.text.Boilerplate.stripBoilerplate(
          df, "doc_id", "text", cfg.lineDelim, minDocs,
          rejoinWith = cfg.lineDelim)
          .select(col("doc_id"), col("clean_text"))
        df = df.join(stripped, Seq("doc_id"), "left")
          .withColumn("text", coalesce(col("clean_text"), col("text")))
          .drop("clean_text")
        // the dup-line gate below feeds the SAME stripped frame into
        // a second corpus-wide pass — without materialization the
        // whole strip subplan (explode → df count → join → re-agg)
        // executes once per consumer
        if (cfg.maxDupLineFrac.isDefined)
          df = graft.util.Checkpointing.materialize(df)
      }
      cfg.maxDupLineFrac.foreach { maxFrac =>
        val stats = graft.text.Boilerplate.duplicateSegmentStats(
          df, "doc_id", "text", cfg.lineDelim)
          .select(col("doc_id"), col("dup_line_frac"))
        df = df.join(stats, Seq("doc_id"), "left")
          .filter(coalesce(col("dup_line_frac"), lit(0.0)) <= maxFrac)
          .drop("dup_line_frac")
      }
      write(df, "line_filters")
    }

    val stages = Seq(
      Stage("clean")(_ => write(
        Tables.parquet(spark, cfg.inPath)
          .withColumn("text", TextAnalysis.redactPii(col("text")))
          .filter(TextAnalysis.qualityScore(col("text")) >= cfg.minQuality),
        "clean"))) ++
      (if (lineFiltersEnabled) Seq(lineStage) else Seq.empty) ++ Seq(
      Stage("exact_dedup", Seq(dedupInput))(_ => write(
        Dedup.exactDedup(read(dedupInput)
          .withColumn("fp", TextAnalysis.contentFingerprint(col("text"))),
          "doc_id", Seq("fp"))
          .join(read(dedupInput), Seq("doc_id"))
          .drop("fp"),
        "exact_dedup")),
      Stage("near_dedup", Seq("exact_dedup")) { _ =>
        // scoped: the staged parquet write materializes the result, so
        // the signature caches dedupMinHash persisted are released as
        // soon as this stage ends — and ONLY this pipeline's caches,
        // even with another dedup job running in the same session
        val (result, caches) = Dedup.scoped(scala.util.Try(write(
          cfg.keepPolicy match {
            case KeepMinId =>
              Dedup.dedupMinHash(read("exact_dedup"), "doc_id", "text",
                threshold = cfg.nearDupThreshold)
            case KeepBest =>
              val in = read("exact_dedup")
              val pairs = Dedup.minHashPairs(in, "doc_id", "text",
                threshold = cfg.nearDupThreshold)
              val clusters = Dedup.connectedComponents(pairs)
              Dedup.keepBestPerCluster(
                in.withColumn("__q",
                  TextAnalysis.qualityScore(col("text"))),
                clusters, "doc_id", "__q").drop("__q")
          },
          "near_dedup")))
        caches.release()
        result.get
      },
      Stage("decontaminate", Seq("near_dedup"))(_ => writeWithStats(
        Dedup.decontaminate(read("near_dedup"),
          Tables.parquet(spark, cfg.benchPath), "doc_id", "text"),
        "decontaminate")),
      // The gate's RowCount / IsComplete rules are answered from the
      // write-observed stats row — same verdicts, no re-scan of the
      // staged corpus. UniqueKey is the one rule that genuinely needs
      // the data, and it reads ONLY the id column (column-pruned
      // skinny scan) through the same Dqdl evaluator as before. Rule
      // names in the failure report are unchanged.
      Stage("dq_gate", Seq("decontaminate")) { _ =>
        val st = read("stats/decontaminate")
          .head()
        val statRules = Map(
          "row_count_gt_0" -> (st.getAs[Long]("row_count") > 0L),
          "is_complete_doc_id" -> (st.getAs[Long]("null_doc_id") == 0L),
          "is_complete_text" -> (st.getAs[Long]("null_text") == 0L))
        val results =
          if (statRules.forall(_._2)) statRules ++ Dqdl.evaluate(
            read("decontaminate").select(col("doc_id")),
            Ruleset("curation_gate", Seq(UniqueKey("doc_id"))))
            .ruleResults
          else statRules // stats already failed: skip the data scan
        if (results.forall(_._2)) StageOk
        else GateFailed(results.filterNot(_._2).keys
          .mkString("failed rules: ", ", ", ""))
      },
      Stage("split", Seq("dq_gate"))(_ => writeWithStats(
        Sampling.splitByHash(read("decontaminate"), "doc_id",
          cfg.trainPct),
        "split")))

    new Pipeline("curation", stages)
  }

  /** The final curated output (after a successful run). */
  def result(spark: SparkSession, cfg: Config): DataFrame =
    Tables.parquet(spark, s"${cfg.workDir}/split")
}
