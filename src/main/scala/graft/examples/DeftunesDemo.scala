package graft.examples

import java.time.LocalDate

import org.apache.spark.sql.SparkSession

import graft.GraftSession
import graft.pipeline.{Deftunes, LakePaths, PipelineResult, RunWindow}
import graft.sources.Source
import graft.util.TempDirs

/** Runnable end-to-end example of the engine's medallion pipelines:
  * two monthly windows of API + songs ingestion through landing →
  * silver → DQ gates → star schema + BI views, then an idempotent
  * rerun. Mirrors the reference's two Airflow DAGs over synthetic
  * inline payloads.
  */
object DeftunesDemo {

  private def usersPayload(month: Int): String =
    (1 to 5).map { i =>
      s"""{"user_id":"00000000-0000-0000-000$month-${"%012d".format(i)}",
         |"user_lastname":"Last$i","user_name":"User$i",
         |"user_since":"2019-0$month-0$i",
         |"user_location":["40.7$i","-74.0$i","City$i","C$i","UTC"]}"""
        .stripMargin.replaceAll("\n", "")
    }.mkString("[", ",", "]")

  private def sessionsPayload(month: Int): String =
    (1 to 5).map { i =>
      val items = (1 to 2).map { j =>
        s"""{"song_id":"SO${"%016d".format(j)}",
           |"song_name":"Song$j","artist_id":"AR${"%016d".format(j)}",
           |"artist_name":"Artist${j % 3}","price":1.${j}9,"currency":"USD",
           |"liked":${j % 2 == 0},"liked_since":"2020-0$month-0$j"}"""
          .stripMargin.replaceAll("\n", "")
      }.mkString(",")
      s"""{"user_id":"00000000-0000-0000-000$month-${"%012d".format(i)}",
         |"session_id":"10000000-0000-0000-000$month-${"%012d".format(i)}",
         |"session_start_time":"2020-0$month-0${i}T10:15:3$i",
         |"user_agent":"Mozilla/5.0 (Demo)","session_items":[$items]}"""
        .stripMargin.replaceAll("\n", "")
    }.mkString("[", ",", "]")

  def main(args: Array[String]): Unit = {
    val spark = GraftSession("spark.sql.warehouse.dir" ->
      TempDirs.create("demo-warehouse").toString)

    val paths = LakePaths(TempDirs.create("demo-lake").toString)
    val windows = RunWindow.monthly(LocalDate.parse("2020-01-01"),
      LocalDate.parse("2020-03-01"))

    val api = Deftunes.apiPipeline(spark, paths,
      (s, _) => usersPayload(s.getMonthValue),
      (s, _) => sessionsPayload(s.getMonthValue))
    val songsSource = new Source {
      def read(s: SparkSession) = {
        import s.implicits._
        (1 to 5).map(i => (f"SO$i%016d", f"TR$i%016d", s"Title$i",
            s"Release$i", (1990 + i).toString, f"AR$i%016d", s"mbid$i",
            s"Artist${i % 3}", (180.5 + i).toString, s"0.${i}5", s"0.${i}2",
            (1000 + i).toString, i.toString, (i * 2).toString))
          .toDF("song_id", "track_id", "title", "release", "year",
            "artist_id", "artist_mbid", "artist_name", "duration",
            "artist_familiarity", "artist_hotttnesss", "track_7digitalid",
            "shs_perf", "shs_work")
      }
    }
    val songs = Deftunes.songsPipeline(spark, paths, songsSource)

    def show(r: PipelineResult): Unit = {
      println(s"  window ${r.window.start} succeeded=${r.succeeded}")
      r.reports.foreach(s =>
        println(f"    ${s.stage}%-18s ${s.seconds}%6.2f s"))
    }
    println("== backfill: api pipeline ==")
    api.backfill(windows).foreach(show)
    println("== backfill: songs pipeline ==")
    songs.backfill(windows).foreach(show)

    println("== rerun window 1 (idempotence) ==")
    val before = spark.table("transform_sessions").count()
    val rerun = api.run(windows.head)
    val after = spark.table("transform_sessions").count()
    println(s"  rerun succeeded=${rerun.succeeded} rows $before -> $after")

    Seq("transform_users", "transform_sessions", "transform_songs",
      "serving_dim_songs", "serving_dim_artists", "serving_dim_users",
      "serving_fact_session").foreach(t =>
      println(f"  $t%-24s ${spark.table(t).count()}%6d rows"))
    println("== sales_per_artist_vw ==")
    spark.table("sales_per_artist_vw").orderBy("artist_name").show(false)
    spark.stop()
  }
}
