package graft

import java.time.LocalDate

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline._
import graft.sources.Source
import graft.util.TempDirs

/** Golden end-to-end test: both reference DAGs over two consecutive
  * monthly windows on fixture data — landing → silver (partitioned) →
  * DQ gates → star schema + BI views — then a rerun of window 1 to
  * prove idempotence (SURVEY.md §5.2). */
class PipelineIntegrationSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def fetch(kind: String)(start: LocalDate, end: LocalDate): String = {
    val month = start.getMonthValue
    val lines = kind match {
      case "users"    => Fixtures.usersJson(month)
      case "sessions" => Fixtures.sessionsJson(month)
    }
    // the API returns one JSON-array document (api-extract-job.py:63)
    lines.mkString("[", ",", "]")
  }

  test("api + songs pipelines over two windows, then idempotent rerun") {
    val paths = LakePaths(TempDirs.create("lake").toString)
    val windows = RunWindow.monthly(LocalDate.parse("2020-01-01"),
      LocalDate.parse("2020-03-01"))
    assert(windows.length == 2)

    val api = Deftunes.apiPipeline(spark, paths,
      fetch("users"), fetch("sessions"))
    val songsSource = new Source {
      def read(s: org.apache.spark.sql.SparkSession) = Fixtures.songsDf(s)
    }
    val songs = Deftunes.songsPipeline(spark, paths, songsSource)

    val apiResults = api.backfill(windows)
    assert(apiResults.forall(_.succeeded),
      apiResults.flatMap(_.reports).mkString("\n"))
    val songsResults = songs.backfill(windows)
    assert(songsResults.forall(_.succeeded),
      songsResults.flatMap(_.reports).mkString("\n"))

    // silver layer: one partition per window
    val sessionsSilver = spark.table("transform_sessions")
    assert(sessionsSilver.select("ingest_on").distinct().count() == 2)
    val perWindow = 5 * 2 // 5 sessions × 2 items
    assert(sessionsSilver.count() == 2L * perWindow)

    // star schema
    val fact = spark.table("serving_fact_session")
    assert(fact.count() == 2L * perWindow)
    assert(spark.table("serving_dim_users").count() == 10) // 5 per window
    // dim_songs is a plain projection (no DISTINCT in dim_songs.sql):
    // two monthly full-table extracts → 2 partitions × 5 songs
    assert(spark.table("serving_dim_songs").count() == 10)
    // dim_artists distinct-built: 3 artist names in fixture
    assert(spark.table("serving_dim_artists")
      .select("artist_id").distinct().count() ==
      spark.table("serving_dim_artists").count())

    // BI views exist and aggregate the fact
    val perArtist = spark.table("sales_per_artist_vw")
    val totalSales = perArtist.agg(sum("total_sales"))
      .collect().head.getDouble(0)
    val factTotal = fact.agg(sum("price")).collect().head.getDouble(0)
    assert(math.abs(totalSales - factTotal) < 1e-9)
    assert(spark.table("sales_per_country_vw").count() > 0)

    // dbt-style data tests on the serving layer
    import graft.dq._
    assert(Dqdl.evaluate(fact,
      Ruleset("fact", Seq(NotNull("session_id")))).passed)
    assert(Dqdl.evaluate(spark.table("serving_dim_users"),
      Ruleset("du", Seq(UniqueKey("user_id"), NotNull("user_id")))).passed)
    assert(Dqdl.evaluate(spark.table("serving_dim_artists"),
      Ruleset("da", Seq(UniqueKey("artist_id"), NotNull("artist_id")))).passed)

    // idempotent rerun of window 1: counts unchanged
    val before = spark.table("transform_sessions").count()
    assert(api.run(windows.head).succeeded)
    assert(spark.table("transform_sessions").count() == before)
    assert(spark.table("serving_fact_session").count() == before)
  }
}
