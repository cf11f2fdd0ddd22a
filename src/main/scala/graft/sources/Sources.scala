package graft.sources

import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.types.StructType
import graft.util.Tables

/** Source abstraction covering the reference's three ingest kinds —
  * REST API (JSON payload), JDBC table, and landing-zone files — behind
  * one trait so pipelines are wired against `Source`, never a concrete
  * endpoint.
  *
  * Reference provenance: API extract
  * de-c4w4a2-api-extract-job.py:34-63, JDBC extract
  * de-c4w4a2-extract-songs-job.py:30-38, landing CSV/JSON scans
  * de-c4w4a2-transform-songs-job.py:62-78 /
  * de-c4w4a2-transform-json-job.py:66-75.
  */
trait Source {
  def read(spark: SparkSession): DataFrame
}

/** One JSON document (e.g. an API response body) → DataFrame with
  * inferred schema. Mirrors the reference's
  * `spark.read.json(sc.parallelize([payload]))` (api-extract-job.py:63).
  */
final case class JsonStringSource(payload: String) extends Source {
  def read(spark: SparkSession): DataFrame =
    spark.read.json(spark.createDataset(Seq(payload))(Encoders.STRING))
}

/** Date-window-parameterized API source. `fetch` is pluggable: tests
  * and the offline engine supply a local fixture with the same
  * `?start_date=&end_date=` window semantics the reference passes to
  * its HTTP GET (api-extract-job.py:34-60); production wiring is
  * `ApiSource(HttpFetch(url), start, end)` — a driver-side
  * `java.net.http.HttpClient` call, because the payload is one
  * document and never belongs on executors.
  */
final case class ApiSource(fetch: (LocalDate, LocalDate) => String,
    startDate: LocalDate, endDate: LocalDate) extends Source {
  def read(spark: SparkSession): DataFrame =
    JsonStringSource(fetch(startDate, endDate)).read(spark)
}

/** Production HTTP implementation of [[ApiSource]]'s `fetch`: a
  * driver-side `java.net.http.HttpClient` GET of
  * `baseUrl?start_date=<s>&end_date=<e>` that raises on any non-200
  * status (the reference's contract — api-extract-job.py:41-49 checks
  * `response.status_code == 200` and fails the job otherwise) and
  * retries transient failures (connect/read errors, 429, 5xx) with
  * bounded exponential backoff. Client (4xx) errors never retry —
  * a bad request stays bad, and hammering the endpoint just burns the
  * rate limit. One client instance per fetch function: connection
  * pooling across the windowed calls an orchestrated backfill makes.
  */
object HttpFetch {
  def apply(baseUrl: String,
      startParam: String = "start_date", endParam: String = "end_date",
      headers: Map[String, String] = Map.empty,
      maxRetries: Int = 3, retryDelayMillis: Long = 200L,
      timeout: java.time.Duration = java.time.Duration.ofSeconds(30))
      : (LocalDate, LocalDate) => String = {
    val client = java.net.http.HttpClient.newBuilder()
      .connectTimeout(timeout)
      .followRedirects(java.net.http.HttpClient.Redirect.NORMAL)
      .build()
    (start: LocalDate, end: LocalDate) => {
      val sep = if (baseUrl.contains("?")) "&" else "?"
      val uri = java.net.URI.create(
        s"$baseUrl$sep$startParam=$start&$endParam=$end")
      val reqB = java.net.http.HttpRequest.newBuilder(uri)
        .timeout(timeout).GET()
      headers.foreach { case (k, v) => reqB.header(k, v) }
      val req = reqB.build()
      @annotation.tailrec
      def go(attempt: Int): String = {
        val outcome: Either[Throwable, Either[Int, String]] =
          try {
            val resp = client.send(req,
              java.net.http.HttpResponse.BodyHandlers.ofString())
            if (resp.statusCode() == 200) Right(Right(resp.body()))
            else Right(Left(resp.statusCode()))
          } catch { case e: java.io.IOException => Left(e) }
        outcome match {
          case Right(Right(body)) => body
          case Right(Left(code)) if code != 429 && code < 500 =>
            throw new java.io.IOException(
              s"HTTP $code from $uri (client error — not retried)")
          case transient =>
            val err = transient match {
              case Left(e) => e
              case Right(Left(code)) => new java.io.IOException(
                s"HTTP $code from $uri")
              case Right(Right(_)) => throw new IllegalStateException(
                "unreachable: success handled above")
            }
            if (attempt >= maxRetries) throw new java.io.IOException(
              s"fetch failed after ${attempt + 1} attempts: " +
                err.getMessage, err)
            Thread.sleep(retryDelayMillis << attempt)
            go(attempt + 1)
        }
      }
      go(0)
    }
  }
}

/** JDBC table scan (reference: Postgres `deftunes.songs`,
  * extract-songs-job.py:30-38). `partitionOn`/`numPartitions` enable
  * parallel reads at scale — a single-threaded JDBC scan is the classic
  * 100 TB-pipeline bottleneck, so callers with a numeric key should
  * always pass them (Spark then issues one range query per partition).
  */
final case class JdbcSource(url: String, table: String,
    options: Map[String, String] = Map.empty,
    partitionOn: Option[String] = None,
    lowerBound: Long = 0L, upperBound: Long = 0L,
    numPartitions: Int = 1) extends Source {
  def read(spark: SparkSession): DataFrame = {
    val base = spark.read.format("jdbc")
      .option("url", url).option("dbtable", table).options(options)
    val reader = partitionOn match {
      case Some(colName) => base
        .option("partitionColumn", colName)
        .option("lowerBound", lowerBound.toString)
        .option("upperBound", upperBound.toString)
        .option("numPartitions", numPartitions.toString)
      case None => base
    }
    reader.load()
  }
}

/** CSV landing scan with the reference's options (header, quote,
  * recursive lookup; transform-songs-job.py:62-78). All columns arrive
  * as strings unless `schema` is supplied — matching the reference's
  * header-driven string-typed contract, with casts applied downstream
  * by `Transforms.enforceSongsSchema`. */
final case class CsvSource(path: String, schema: Option[StructType] = None,
    header: Boolean = true, quote: String = "\"", sep: String = ",")
    extends Source {
  def read(spark: SparkSession): DataFrame = {
    val r = spark.read
      .option("header", header.toString)
      .option("quote", quote)
      .option("sep", sep)
      .option("recursiveFileLookup", "true")
    schema.fold(r)(s => r.schema(s)).csv(path)
  }
}

/** JSON landing-zone directory scan, optionally partition-selected by
  * ingestion date (the reference constructs `ingest_on=<d>` paths —
  * transform-json-job.py:66-75). Prefer passing the base path of a
  * partitioned table plus `ingestOn` so Spark's file index prunes to the
  * single date partition instead of listing everything. */
final case class JsonDirSource(basePath: String,
    ingestOn: Option[String] = None,
    schema: Option[StructType] = None) extends Source {
  def read(spark: SparkSession): DataFrame = {
    val path = ingestOn.fold(basePath)(d => s"$basePath/ingest_on=$d")
    val r = spark.read
    schema.fold(r)(s => r.schema(s)).json(path)
  }
}

/** Parquet table source (the engine's catalog/external-table scan — the
  * Spectrum-external-scan analog, serving/redshift.tf:9-21). */
final case class ParquetSource(path: String) extends Source {
  def read(spark: SparkSession): DataFrame = Tables.parquet(spark, path)
}

/** ORC table source — the other columnar lake format Spark reads
  * natively (predicate pushdown + column pruning work the same as
  * parquet). Beyond-reference: interop with ORC-based warehouses. */
final case class OrcSource(path: String) extends Source {
  def read(spark: SparkSession): DataFrame = spark.read.orc(path)
}

/** CSV scan that TOLERATES malformed rows instead of failing the job:
  * PERMISSIVE mode routes each unparseable line into a corrupt-record
  * column for quarantine instead of poisoning a 100 TB ingest. The
  * schema must be supplied (a corrupt-record column can't be inferred).
  * Split the result with [[BadRecordSplit.partition]]. */
final case class CsvWithQuarantineSource(path: String, schema: StructType,
    header: Boolean = true,
    corruptCol: String = "_corrupt_record") extends Source {
  def read(spark: SparkSession): DataFrame =
    spark.read
      .option("header", header.toString)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", corruptCol)
      .schema(schema.add(corruptCol,
        org.apache.spark.sql.types.StringType, nullable = true))
      .csv(path)
}

object BadRecordSplit {
  /** Split of a PERMISSIVE-mode read into good and quarantined rows.
    * The split pins the parsed input in the block cache (required by
    * Spark's corrupt-record semantics — see [[partition]]); callers
    * MUST call [[release]] once both sides have been consumed, or the
    * cached blocks stay pinned for the life of the session. */
  final case class Split(good: DataFrame, quarantined: DataFrame,
      private val cached: DataFrame) {
    /** Unpersist the shared cached input. Do not run further queries
      * on `good`/`quarantined` afterwards: without the cache Spark
      * re-plans against the raw scan, and queries that prune down to
      * only the corrupt-record column are disallowed
      * (QUERY_ONLY_CORRUPT_RECORD_COLUMN). Consume both sides, then
      * release. */
    def release(): Unit = { cached.unpersist(); () }
  }

  /** Good rows (without the corrupt column) vs quarantined raw lines.
    * Caching is required by Spark's corrupt-record semantics: filtering
    * on the corrupt column alone over a pushed-down scan is disallowed,
    * and both sides share one parse of the input. The cache is scoped
    * to the returned [[Split]] — call `release()` when done (e.g. after
    * landing both sides), mirroring the Ivf.train try/finally pattern. */
  def partition(df: DataFrame,
      corruptCol: String = "_corrupt_record"): Split = {
    import org.apache.spark.sql.functions.col
    val cached = df.cache()
    Split(
      cached.filter(col(corruptCol).isNull).drop(corruptCol),
      cached.filter(col(corruptCol).isNotNull).select(col(corruptCol)),
      cached)
  }
}
