package graft.model

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Serving-layer star schema — the dbt `serving_layer` models as
  * DataFrame transforms over the silver tables.
  *
  * Reference provenance: dbt_modeling/models/serving_layer/
  * dim_songs.sql:1-7, dim_artists.sql:1-5, dim_users.sql:1-8,
  * fact_session.sql:1-10.
  *
  * Scale notes: the three dims are projections (narrow, no shuffle);
  * `dimArtists` is the only shuffle (DISTINCT over three low-cardinality
  * columns — partial hash-agg collapses it map-side before exchange).
  * The fact table is a pure projection of the exploded sessions table,
  * so it inherits the silver layer's `ingest_on` partitioning.
  */
object StarSchema {

  /** dim_songs(song_id, track_id, title, release, year) — a plain
    * projection of every `transform_songs` row, as in the reference
    * (dim_songs.sql:1-7 has no DISTINCT; only dim_artists.sql does).
    * The songs DAG lands the full extract in each window, so after n
    * windows every song appears n times and `song_id` is not unique
    * here; PipelineIntegrationSpec pins 2 windows × 5 songs = 10 rows. */
  def dimSongs(songs: DataFrame): DataFrame =
    songs.select(col("song_id"), col("track_id"), col("title"),
      col("release"), col("year"))

  /** dim_artists via SELECT DISTINCT over the denormalized songs table
    * (dim_artists.sql:1-5). */
  def dimArtists(songs: DataFrame): DataFrame =
    songs.select(col("artist_id"), col("artist_mbid"), col("artist_name"))
      .distinct()

  /** dim_users(user_id, user_lastname, user_name, user_since,
    * place_name, country_code) over the flattened users table. */
  def dimUsers(users: DataFrame): DataFrame =
    users.select(col("user_id"), col("user_lastname"), col("user_name"),
      col("user_since"), col("place_name"), col("country_code"))

  /** fact_session — one row per purchased item (the exploded sessions
    * grain), keyed by session_id (fact_session.sql:1-10). */
  def factSession(sessions: DataFrame): DataFrame =
    sessions.select(col("session_id"), col("user_id"), col("song_id"),
      col("artist_id"), col("price"), col("liked"), col("liked_since"),
      col("session_start_time"))
}
