package graft

import java.nio.file.Files
import java.time.LocalDate

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.{Curation, RunWindow}
import graft.text.TextAnalysis
import graft.util.TempDirs

class CurationSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val window = RunWindow(
    LocalDate.parse("2020-02-01"), LocalDate.parse("2020-03-01"))

  test("appendNovel ingests only never-seen documents, idempotently") {
    val tbl = "curation_novel_t"
    def docs(ingestOn: String, rows: Seq[(Long, String)]) =
      rows.toDF("doc_id", "text")
        .withColumn("ingest_on", to_date(lit(ingestOn)))
    // batch 1: 3 rows, one within-batch duplicate text (min id wins)
    val n1 = Curation.appendNovel(spark,
      docs("2020-02-01", Seq((1L, "alpha beta"), (2L, "alpha beta"),
        (3L, "gamma delta"))), tbl)
    assert(n1 == 2)
    assert(spark.table(tbl).select("doc_id").collect()
      .map(_.getLong(0)).toSet == Set(1L, 3L))
    // batch 2: one old text (case/space-variant — fingerprint catches
    // it), one new
    val n2 = Curation.appendNovel(spark,
      docs("2020-02-02", Seq((4L, "  ALPHA   beta "),
        (5L, "epsilon zeta"))), tbl)
    assert(n2 == 1)
    assert(spark.table(tbl).count() == 3)
    // replaying batch 2 appends nothing — the dedup IS the
    // exactly-once mechanism
    val n3 = Curation.appendNovel(spark,
      docs("2020-02-02", Seq((4L, "  ALPHA   beta "),
        (5L, "epsilon zeta"))), tbl)
    assert(n3 == 0)
    assert(spark.table(tbl).count() == 3)
    // history rows keep their fingerprint column for future batches
    assert(spark.table(tbl).columns.contains("fp"))
  }

  test("appendNovel: redelivered identical rows and null text stay exact") {
    val tbl = "curation_novel_edge_t"
    def docs(rows: Seq[(Long, String)]) =
      rows.toDF("doc_id", "text")
        .withColumn("ingest_on", to_date(lit("2020-02-01")))
    // the at-least-once shape: one physical row delivered twice into
    // the same batch (same id, same text) must land ONCE
    val n1 = Curation.appendNovel(spark,
      docs(Seq((1L, "alpha"), (1L, "alpha"), (2L, "beta"))), tbl)
    assert(n1 == 2, s"duplicate redelivery landed twice: $n1")
    assert(spark.table(tbl).count() == 2)
    // null-text docs fingerprint as empty text: first lands, replays
    // and further null/empty docs dedupe against it
    val n2 = Curation.appendNovel(spark,
      docs(Seq((3L, null.asInstanceOf[String]))), tbl)
    assert(n2 == 1)
    val n3 = Curation.appendNovel(spark,
      docs(Seq((3L, null.asInstanceOf[String]), (4L, ""))), tbl)
    assert(n3 == 0, s"null-text doc re-appended on replay: $n3")
    assert(spark.table(tbl).count() == 3)
  }

  test("redactPii masks emails and phone runs, leaves prose alone") {
    val out = Seq(
      "contact me at jane.doe+x@example.org today",
      "call +1 (555) 123-4567 now",
      "no pii here at all").toDF("t")
      .select(TextAnalysis.redactPii($"t")).collect().map(_.getString(0))
    assert(out(0) == "contact me at <EMAIL> today")
    assert(out(1) == "call <PHONE> now")
    assert(out(2) == "no pii here at all")
  }

  test("curation pipeline runs end-to-end: dedup, decontaminate, split") {
    val work = TempDirs.create("curation").toString
    val docs = graft.util.Tables.documents(spark, "/root/testdata/sf0.001")
    val in = s"$work/in"; val bench = s"$work/bench"
    docs.filter($"doc_id" >= 5).write.parquet(in)
    docs.filter($"doc_id" < 5).write.parquet(bench)
    val cfg = Curation.Config(in, bench, s"$work/stages")
    val res = Curation.pipeline(spark, cfg).run(window)
    assert(res.succeeded, res.reports.filterNot(
      _.outcome.isSuccess).mkString("; "))
    val out = Curation.result(spark, cfg)
    assert(out.count() > 0)
    // every surviving row has a split, ids unique, no bench overlap ids
    assert(out.select("split").distinct().collect()
      .map(_.getString(0)).toSet.subsetOf(Set("train", "eval")))
    assert(out.select("doc_id").distinct().count() == out.count())
    assert(out.filter($"doc_id" < 5).count() == 0)
  }

  test("line filters stage: boilerplate stripped, repetitive docs " +
      "dropped, and the stage stays out of the DAG by default") {
    val work = TempDirs.create("curation_lines").toString
    val boiler = "the quick brown fox is a common phrase for testing"
    def doc(i: Long, lines: String*) = (i, lines.mkString("\n"))
    // 12 docs carry the same boilerplate line; doc 100 is 80%
    // duplicate lines (beyond the 0.5 gate); bodies are unique prose
    val rows = (1L to 12L).map(i =>
      doc(i, boiler, s"unique body text number $i with the usual words",
        s"and a second line of its own for document $i")) ++ Seq(
      doc(100L, Seq.fill(8)("the same line is repeated again here") :+
        "one single distinct line of text to end": _*),
      doc(101L, "a fully unique document with the plain text body",
        "nothing is repeated in the whole of this one"))
    val in = s"$work/in"; val bench = s"$work/bench"
    rows.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.parquet(in)
    Seq((999L, "benchmark doc of unrelated words entirely elsewhere"))
      .toDF("doc_id", "text").write.parquet(bench)
    val cfg = Curation.Config(in, bench, s"$work/stages",
      boilerplateMinDocs = Some(10), maxDupLineFrac = Some(0.5))
    val res = Curation.pipeline(spark, cfg).run(window)
    assert(res.succeeded, res.reports.filterNot(
      _.outcome.isSuccess).mkString("; "))
    val filtered = spark.read.parquet(s"${cfg.workDir}/line_filters")
    val texts = filtered.collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    // the df>=10 line is gone from every survivor, bodies intact
    assert(!texts.values.exists(_.contains(boiler)))
    assert(texts(1L).contains("unique body text number 1"))
    // the 80%-duplicate-line doc fell to the Gopher gate
    assert(!texts.contains(100L))
    assert(texts.contains(101L))
    // default config: no line_filters stage, texts pass through
    val cfgOff = Curation.Config(in, bench, s"$work/stages_off")
    assert(Curation.pipeline(spark, cfgOff).run(window).succeeded)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$work/stages_off/line_filters")))
    val cleanOff = spark.read.parquet(s"$work/stages_off/exact_dedup")
    assert(cleanOff.filter($"text".contains(boiler)).count() > 0)
  }

  test("KeepBest policy keeps the highest-quality doc of each cluster") {
    val work = TempDirs.create("curation-best").toString
    val docs = graft.util.Tables.documents(spark, "/root/testdata/sf0.001")
    val in = s"$work/in"; val bench = s"$work/bench"
    docs.filter($"doc_id" >= 5).write.parquet(in)
    docs.filter($"doc_id" < 5).write.parquet(bench)
    val cfg = Curation.Config(in, bench, s"$work/stages",
      keepPolicy = Curation.KeepBest)
    val res = Curation.pipeline(spark, cfg).run(window)
    assert(res.succeeded, res.reports.filterNot(
      _.outcome.isSuccess).mkString("; "))
    val out = Curation.result(spark, cfg)
    assert(out.count() > 0)
    assert(out.select("doc_id").distinct().count() == out.count())
    // KeepBest keeps exactly one survivor per connected component;
    // min-id keep can keep MORE (a star component a-c, b-c with no a-b
    // pair keeps both a and b), so cluster-level survival is at most
    // the min-id count — never above it
    val cfgMin = Curation.Config(in, bench, s"$work/stages_min")
    assert(Curation.pipeline(spark, cfgMin).run(window).succeeded)
    assert(out.count() <= Curation.result(spark, cfgMin).count())
  }

  test("stage stats ride the writes: the gate's count/completeness " +
      "verdicts come from the persisted stats row, and the split " +
      "stage's KMV id sketch answers cardinality without a re-scan") {
    val work = TempDirs.create("curation_stats").toString
    val docs = graft.util.Tables.documents(spark, "/root/testdata/sf0.001")
    val in = s"$work/in"; val bench = s"$work/bench"
    docs.filter($"doc_id" >= 5).write.parquet(in)
    docs.filter($"doc_id" < 5).write.parquet(bench)
    val cfg = Curation.Config(in, bench, s"$work/stages")
    assert(Curation.pipeline(spark, cfg).run(window).succeeded)
    val out = Curation.result(spark, cfg)
    // the decontaminate stats row matches the staged data exactly —
    // the gate consumed THESE numbers, not a re-scan
    val st = spark.read.parquet(s"$work/stages/stats/decontaminate").head()
    val staged = spark.read.parquet(s"$work/stages/decontaminate")
    assert(st.getAs[Long]("row_count") == staged.count())
    assert(st.getAs[Long]("null_doc_id") == 0L)
    assert(st.getAs[Long]("null_text") == 0L)
    // the split stats row's build_k-stamped KMV sketch answers the
    // output's distinct-id count FROM THE STATS ROW ALONE (exact
    // while under-filled at this scale) — the corpus is not touched
    val sp = spark.read.parquet(s"$work/stages/stats/split")
    val est = sp.select(graft.functions.KmvFunctions.kmv_estimate(
      col("id_sketch"), 1024)).head().getLong(0)
    assert(sp.head().getAs[Int]("build_k") == 1024)
    assert(est == out.select("doc_id").distinct().count(),
      s"sketch estimate $est vs exact")
  }

  test("DQ gate failure halts the split stage") {
    val work = TempDirs.create("curation-fail").toString
    val docs = graft.util.Tables.documents(spark, "/root/testdata/sf0.001")
    val in = s"$work/in"; val bench = s"$work/bench"
    // benchmark == corpus → decontamination removes every doc →
    // RowCount > 0 gate fails → split must be skipped
    docs.write.parquet(in)
    docs.write.parquet(bench)
    val cfg = Curation.Config(in, bench, s"$work/stages")
    val res = Curation.pipeline(spark, cfg).run(window)
    assert(!res.succeeded)
    val gate = res.report("dq_gate").get
    assert(gate.outcome.isFailure)
    val split = res.report("split").get
    assert(split.outcome.isFailure)
    assert(!new java.io.File(s"$work/stages/split").exists())
  }
}
