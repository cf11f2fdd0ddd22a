package graft.pipeline

import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dq.Dqdl
import graft.lake.Lake
import graft.model.{BiViews, StarSchema}
import graft.sources.{ApiSource, CsvSource, JsonDirSource, Source}
import graft.transform.Transforms
import graft.util.DriverPool

/** The reference's two DAGs, re-expressed as engine-native pipelines.
  *
  * Reference provenance: dags/deftunes_api_pipeline.py:27-189 (users ∥
  * sessions extract → json transform → dq_users ∥ dq_sessions → dbt)
  * and dags/deftunes_songs_pipeline.py:28-174 (rds extract → songs
  * transform → dq → dbt).
  *
  * Each monthly [[RunWindow]] is one incremental run: landing writes go
  * under `ingest_on=<date>`, silver tables get exactly that partition
  * replaced ([[Lake.overwritePartitions]]) so backfills and reruns are
  * idempotent, and downstream reads prune to single partitions.
  */
final case class LakePaths(landingBase: String) {
  def usersLanding: String = s"$landingBase/api/users"
  def sessionsLanding: String = s"$landingBase/api/sessions"
  def songsLanding: String = s"$landingBase/db_songs"
}

object Deftunes {

  /** users ∥ sessions API extract → flatten/explode transform → DQ
    * gates → star schema + BI views. `fetchUsers`/`fetchSessions`
    * return the raw JSON payload for a date window (pluggable: HTTP in
    * production, fixtures offline). */
  def apiPipeline(spark: SparkSession, paths: LakePaths,
      fetchUsers: (LocalDate, LocalDate) => String,
      fetchSessions: (LocalDate, LocalDate) => String): Pipeline = {
    Lake.enableDynamicPartitionOverwrite(spark)

    def landingTag(w: RunWindow): String =
      w.ingestDate.toString.replace("-", "_")

    val usersExtract = Stage("users_extract") { w =>
      val df = ApiSource(fetchUsers, w.start, w.endInclusive).read(spark)
      Lake.writeLandingJson(df, paths.usersLanding, landingTag(w))
      StageOk
    }
    val sessionsExtract = Stage("sessions_extract") { w =>
      val df = ApiSource(fetchSessions, w.start, w.endInclusive).read(spark)
      Lake.writeLandingJson(df, paths.sessionsLanding, landingTag(w))
      StageOk
    }
    val jsonTransform =
      Stage("json_transform", Seq("users_extract", "sessions_extract")) { w =>
        val stamp = w.ingestDate.atStartOfDay().toString
        val users = Transforms.withIngestMetadata(
          Transforms.flattenUserLocation(
            JsonDirSource(paths.usersLanding, Some(landingTag(w))).read(spark)),
          w.ingestDate, "api", stamp)
        val sessions = Transforms.withIngestMetadata(
          Transforms.explodeSessions(
            JsonDirSource(paths.sessionsLanding, Some(landingTag(w)))
              .read(spark))
            .withColumn("session_start_time",
              Transforms.isoToTimestamp(col("session_start_time"))),
          w.ingestDate, "api", stamp)
        DriverPool.all(2)(
          () => Lake.overwritePartitions(spark, users, "transform_users"),
          () => Lake.overwritePartitions(spark, sessions,
            "transform_sessions"))
        StageOk
      }
    val dqUsers = Stage("dq_users", Seq("json_transform")) { _ =>
      val v = Dqdl.evaluate(spark.table("transform_users"), Dqdl.usersRuleset)
      if (v.passed) StageOk else GateFailed(v.toString)
    }
    val dqSessions = Stage("dq_sessions", Seq("json_transform")) { _ =>
      val v = Dqdl.evaluate(spark.table("transform_sessions"),
        Dqdl.sessionsRuleset)
      if (v.passed) StageOk else GateFailed(v.toString)
    }
    val dbt = Stage("dbt", Seq("dq_users", "dq_sessions")) { _ =>
      modelingRun(spark)
      StageOk
    }
    new Pipeline("deftunes_api_pipeline", Seq(usersExtract, sessionsExtract,
      jsonTransform, dqUsers, dqSessions, dbt))
  }

  /** JDBC/fixture songs extract → CSV landing → schema-enforce
    * transform → DQ gate → dbt. */
  def songsPipeline(spark: SparkSession, paths: LakePaths,
      songsSource: Source): Pipeline = {
    Lake.enableDynamicPartitionOverwrite(spark)
    def landingTag(w: RunWindow): String =
      w.ingestDate.toString.replace("-", "_")

    val rdsExtract = Stage("rds_extract") { w =>
      Lake.writeLandingCsv(songsSource.read(spark), paths.songsLanding,
        landingTag(w))
      StageOk
    }
    val songsTransform = Stage("songs_transform", Seq("rds_extract")) { w =>
      val raw = CsvSource(s"${paths.songsLanding}/ingest_on=${landingTag(w)}")
        .read(spark)
      val songs = Transforms.withIngestMetadata(
        Transforms.enforceSongsSchema(raw),
        w.ingestDate, "postgres_rds", w.ingestDate.atStartOfDay().toString)
      Lake.overwritePartitions(spark, songs, "transform_songs")
      StageOk
    }
    val dqSongs = Stage("dq_songs", Seq("songs_transform")) { _ =>
      val v = Dqdl.evaluate(spark.table("transform_songs"), Dqdl.songsRuleset)
      if (v.passed) StageOk else GateFailed(v.toString)
    }
    val dbt = Stage("dbt", Seq("dq_songs")) { _ =>
      modelingRun(spark)
      StageOk
    }
    new Pipeline("deftunes_songs_pipeline",
      Seq(rdsExtract, songsTransform, dqSongs, dbt))
  }

  /** The dbt-run equivalent: materialize every serving model whose
    * silver inputs exist, then the BI views (dbt_project.yml:35-42).
    * Serving tables are full CTAS (dbt `table` materialization). No
    * serving table reads another, so they are written concurrently
    * (dbt's `threads`); the views are registered only after every
    * table succeeded. */
  def modelingRun(spark: SparkSession): Unit = {
    val hasSongs = spark.catalog.tableExists("transform_songs")
    val hasSessions = spark.catalog.tableExists("transform_sessions")
    val hasUsers = spark.catalog.tableExists("transform_users")
    val serving: Seq[(Boolean, String, () => DataFrame)] = Seq(
      (hasSongs, "serving_dim_songs",
        () => StarSchema.dimSongs(spark.table("transform_songs"))),
      (hasSongs, "serving_dim_artists",
        () => StarSchema.dimArtists(spark.table("transform_songs"))),
      (hasUsers, "serving_dim_users",
        () => StarSchema.dimUsers(spark.table("transform_users"))),
      (hasSessions, "serving_fact_session",
        () => StarSchema.factSession(spark.table("transform_sessions"))))
    val writes = serving.collect { case (true, table, model) =>
      () => Lake.materializeTable(spark, model(), table)
    }
    DriverPool.all(writes.size)(writes: _*)
    // bi_views read the serving layer (sales_per_artist_vw.sql:5-7)
    if (hasSessions) {
      val fact = spark.table("serving_fact_session")
      val artistDim =
        if (hasSongs) spark.table("serving_dim_artists")
        else spark.table("transform_sessions")
          .select(col("artist_id"), col("artist_name")).distinct()
      Lake.materializeView(BiViews.salesPerArtist(fact, artistDim),
        "sales_per_artist_vw")
      if (hasUsers)
        Lake.materializeView(
          BiViews.salesPerCountry(fact, spark.table("serving_dim_users")),
          "sales_per_country_vw")
    }
  }
}
