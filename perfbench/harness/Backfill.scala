package perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import java.time.LocalDate
import java.util.concurrent.Executors

import scala.collection.mutable
import scala.concurrent.ExecutionContext

import org.apache.spark.sql.SparkSession

import graft.pipeline.{Deftunes, LakePaths, Pipeline, RunWindow}
import graft.sources.CsvSource

/** The reference's two DAGs over generated monthly payloads. A warm pass
  * backfills every window into an empty lake (one operation per pipeline
  * and window, through `Pipeline.backfill`); the re-run pass after the
  * last warm pass runs the same windows over the populated lake. Every pass
  * must leave the lake exactly as the cold pass left it. */
final class BackfillWorkload(spark: SparkSession, inputDir: String,
    workDir: String) extends Workload {
  private val pool = Executors.newFixedThreadPool(4)
  private implicit val ec: ExecutionContext =
    ExecutionContext.fromExecutorService(pool)

  private val windows: Seq[RunWindow] =
    """\d{4}-\d{2}-\d{2}""".r
      .findAllIn(read(s"$inputDir/manifest.json")).toSeq
      .map { d => val s = LocalDate.parse(d); RunWindow(s, s.plusMonths(1)) }

  val silver = Seq("transform_users", "transform_sessions", "transform_songs")
  val serving = Seq("serving_dim_songs", "serving_dim_artists",
    "serving_dim_users", "serving_fact_session")
  val views = Seq("sales_per_artist_vw", "sales_per_country_vw")

  private var passNo = 0
  private var lakeBase = ""
  private var api: Pipeline = _
  private var songs: Pipeline = _
  private val expected = mutable.Map.empty[String, String]
  private var sizes = Map.empty[String, Double]

  private def read(path: String): String =
    new String(Files.readAllBytes(Paths.get(path)), "UTF-8")

  private def payload(kind: String)(start: LocalDate, end: LocalDate) =
    read(s"$inputDir/$kind/${start.toString.take(7)}.json")

  val ops: Seq[Harness.Op] = windows.flatMap { w =>
    Seq(Harness.Op(s"api:${w.start}", "pipeline", () => run(api, w)),
      Harness.Op(s"songs:${w.start}", "pipeline", () => run(songs, w)))
  }

  override def rerunOps: Option[Seq[Harness.Op]] = Some(ops)

  private def run(p: Pipeline, w: RunWindow) = {
    val res = p.backfill(Seq(w))
    val failed = res.flatMap(_.reports).filter(_.outcome.isFailure)
    if (res.isEmpty || failed.nonEmpty)
      throw new IllegalStateException(s"${p.name} ${w.start}: " +
        failed.map(r => s"${r.stage} ${r.outcome}").mkString("; "))
    None
  }

  /** A fresh, empty lake and catalog for every pass except a re-run. */
  override def beforePass(kind: String): Unit = if (kind != "rerun") {
    (silver ++ serving).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    views.foreach(v => spark.catalog.dropTempView(v))
    if (lakeBase.nonEmpty) Files.delete(deleteTree(new File(lakeBase)))
    passNo += 1
    lakeBase = s"$workDir/lake/pass-$passNo"
    val paths = LakePaths(lakeBase)
    api = Deftunes.apiPipeline(spark, paths, payload("users"),
      payload("sessions"))
    songs = Deftunes.songsPipeline(spark, paths,
      CsvSource(s"$inputDir/songs.csv"))
  }

  private def deleteTree(f: File): java.nio.file.Path = {
    Option(f.listFiles).foreach(_.foreach { c =>
      if (c.isDirectory) Files.delete(deleteTree(c)) else Files.delete(c.toPath)
    })
    f.toPath
  }

  /** Every table and view must hold exactly the rows the cold pass left;
    * the cold pass's serving tables and views go to disk for the check
    * against the independent computation. */
  override def afterPass(kind: String): Option[String] = {
    val bad = (silver ++ serving ++ views).flatMap { t =>
      val df = spark.table(t)
      val rows = df.collect()
      val d = Digest.of(rows)
      if (!expected.contains(t)) {
        expected(t) = d
        if (!silver.contains(t))
          Digest.write(spark, s"$workDir/results/$t", df.schema, rows)
        None
      } else if (expected(t) != d) Some(s"$t differs after the $kind pass")
      else None
    }
    if (kind == "warm" || kind == "cold") sizes = measure()
    if (bad.isEmpty) None else Some(bad.mkString("; "))
  }

  private def measure(): Map[String, Double] = {
    def files(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(files)
      else Seq(f)
    val wh = s"$workDir/warehouse"
    val zones = Map(
      "landing" -> files(new File(lakeBase)),
      "silver" -> silver.flatMap(t => files(new File(s"$wh/$t"))),
      "serving" -> serving.flatMap(t => files(new File(s"$wh/$t"))))
    zones.map { case (z, fs) => z -> fs.map(_.length).sum / 1e6 } +
      ("files" -> zones.values.flatten.count(_.getName.startsWith("part-"))
        .toDouble)
  }

  override def layers: Map[String, Double] = Map(
    "lake.landing_mb" -> sizes.getOrElse("landing", 0.0),
    "lake.silver_mb" -> sizes.getOrElse("silver", 0.0),
    "lake.serving_mb" -> sizes.getOrElse("serving", 0.0),
    "lake.files_written" -> sizes.getOrElse("files", 0.0),
    "dq.rules" -> windows.size.toDouble * Seq(graft.dq.Dqdl.usersRuleset,
      graft.dq.Dqdl.sessionsRuleset, graft.dq.Dqdl.songsRuleset)
      .map(_.rules.size).sum)

  override def lakeSizes: Map[String, Double] = sizes

  override def close(): Unit = pool.shutdown()
}
