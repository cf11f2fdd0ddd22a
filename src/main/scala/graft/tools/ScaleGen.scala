package graft.tools

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.util.{Tables, TempDirs}

/** A generated scale factor: all ten testdata tables of `baseSfDir`
  * at ×m, each written as one plain parquet file `<outDir>/<name>.parquet`
  * — the layout [[graft.util.Tables.load]], TESTDATA.md and
  * `tools/compare_oracle.py` read, so every slate query,
  * [[PlanDump]] and the oracle run on it unchanged.
  *
  *   sbt "runMain graft.tools.ScaleGen <baseSfDir> <m> <outDir>"
  *
  * Every base row becomes m replicas r ∈ [0, m). The rules:
  *  - One key map for every table: a key k becomes k·m + r. The keys
  *    are `c_custkey`, `o_orderkey`/`o_custkey`,
  *    `l_orderkey`/`l_partkey`/`l_suppkey`, `p_partkey`, `s_suppkey`,
  *    `doc_id`, `vec_id`, `event_id`/`user_id`. Every key equality of
  *    the base holds within a replica and replicas are disjoint.
  *    `nation` and `region` are copied byte for byte.
  *  - Replica 0 is the base row unchanged, in every table, and comes
  *    first in file order (base file order within a replica), so ×1
  *    equals the base.
  *  - Each table keeps its schema exactly (`events.ts` stays
  *    TIMESTAMP_NTZ, `embedding` stays array<float>, `props` is kept).
  *  - Replicas r > 0 of documents, embeddings and events vary, each by
  *    a pure hash of (id, r) so any run at any parallelism writes the
  *    same rows:
  *    - documents, by `xxhash64(doc_id, r) mod 20`: 0 → exact
  *      duplicate text (5%); 1 → a clone of one shared 360-word
  *      boilerplate text plus a per-copy marker token (5%, the clone
  *      army that floods LSH buckets); 2–4 → near-duplicate, the text
  *      plus " variant copy <r>" (15%); the rest → every token salted
  *      with "_<r>" (new text, no shingle in common with the base).
  *      `n_chars` is recomputed for changed texts.
  *    - embeddings, per element, by `xxhash64(vec_id, r) mod 10`: < 3 →
  *      ±0.005 jitter (cosine ≈ 0.999 near-duplicates, 30%), else ±0.5.
  *    - events: `ts` moves by a jitter in [−30, +30) min.
  *
  * Distributions that change with m, beyond row counts:
  *  - the TPC-H tables change only their keys: names (`c_name`,
  *    `p_name`, `s_name`, …), prices, dates and flags repeat m times,
  *    so every group-by over a non-key column holds m× the rows with
  *    m× the sums, and top-k ties multiply;
  *  - the lineitem co-purchase graph becomes m disjoint copies, so
  *    per-node degrees and triangle counts stay those of the base;
  *  - the events user population grows ×m at constant per-user
  *    density, and per-user sessions shift by the ts jitter;
  *  - documents gain exact, boilerplate and near-duplicate families,
  *    so dedup output, shingle buckets and vocabulary no longer scale
  *    linearly, and the boilerplate clones are far longer than any
  *    base document;
  *  - key-derived slices move: a filter such as `doc_id < 300` or
  *    `doc_id % 10 = 0` selects different base rows at ×m (at ×10,
  *    `doc_id % 10 = 0` is exactly replica 0).
  */
object ScaleGen {

  private val R = "__r"
  private val Pos = "__pos"

  /** The key columns of each replicated table. */
  private val keys: Map[String, Seq[String]] = Map(
    "customer" -> Seq("c_custkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "part" -> Seq("p_partkey"),
    "supplier" -> Seq("s_suppkey"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"),
    "events" -> Seq("event_id", "user_id"))

  /** Tables copied as they are. */
  private val copied = Seq("nation", "region")

  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: ScaleGen <baseSfDir> <m> <outDir>")
    val Array(baseDir, m, outDir) = args
    val spark = graft.GraftSession()
    try generate(spark, baseDir, m.toInt, outDir) finally spark.stop()
  }

  def generate(spark: SparkSession, baseDir: String, m: Int,
      outDir: String): Unit = {
    require(m >= 1, s"m must be >= 1, got $m")
    val base = Paths.get(baseDir).toAbsolutePath.normalize
    val out = Paths.get(outDir).toAbsolutePath.normalize
    require(base != out, s"outDir must differ from baseSfDir ($base)")
    Files.createDirectories(out)
    copied.foreach(name => Files.copy(base.resolve(s"$name.parquet"),
      out.resolve(s"$name.parquet"), StandardCopyOption.REPLACE_EXISTING))
    keys.foreach { case (name, keyCols) =>
      val rows = Tables.load(spark, baseDir, name)
        .withColumn(Pos, monotonically_increasing_id())
        .withColumn(R, explode(sequence(lit(0L), lit(m - 1L))))
      val changed = keyCols.map(k => k -> (col(k) * m + col(R))).toMap ++
        variation(name, m)
      writeOne(rows.select(rows.columns.map(c =>
          changed.getOrElse(c, col(c)).as(c)): _*),
        out.resolve(s"$name.parquet"))
    }
  }

  /** Non-key columns that vary for replicas r > 0 (see the mix above). */
  private def variation(table: String, m: Int): Map[String, Column] = {
    val r = col(R)
    def mix(id: String, mod: Int) = pmod(xxhash64(col(id), r), lit(mod.toLong))
    def varied(c: String, v: Column) = c -> when(r === 0, col(c)).otherwise(v)
    table match {
      case "documents" =>
        val sel = mix("doc_id", 20)
        val boiler = Seq.fill(40)("all work and no play makes a dull corpus")
          .mkString(" ")
        val text = when(sel === 0, col("text"))
          .when(sel === 1,
            concat(lit(s"$boiler mark"), col("doc_id") * m + r))
          .when(sel <= 4, concat(col("text"), lit(" variant copy "), r))
          .otherwise(concat_ws(" ", transform(split(col("text"), " "),
            w => concat(w, lit("_"), r))))
        Map(varied("text", text),
          varied("n_chars", length(text).cast("long")))
      case "embeddings" =>
        val scale = when(mix("vec_id", 10) < 3, lit(0.005)).otherwise(lit(0.5))
        val jittered = zip_with(col("embedding").cast("array<double>"),
          sequence(lit(0), size(col("embedding")) - 1),
          (x, i) => x + scale *
            (pmod(xxhash64(col("vec_id"), r, i), lit(1000L))
              .cast("double") / 1000.0 - 0.5))
        Map(varied("embedding", jittered.cast("array<float>")))
      case "events" =>
        val jitterUs = pmod(xxhash64(col("event_id"), r),
          lit(3600000000L)) - lit(1800000000L)
        Map(varied("ts", timestamp_add("MICROSECOND", jitterUs, col("ts"))))
      case _ => Map.empty
    }
  }

  /** One parquet file at `file`: replicas in order, each in base file
    * order. Spark writes a directory, so the single part file is
    * moved out of it and the directory removed. */
  private def writeOne(df: DataFrame, file: Path): Unit = {
    val tmp = file.resolveSibling(s".${file.getFileName}.tmp")
    df.coalesce(1).sortWithinPartitions(R, Pos).drop(R, Pos)
      .write.mode("overwrite").parquet(tmp.toString)
    val part = tmp.toFile.listFiles.filter(f =>
      f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    require(part.length == 1,
      s"expected one part file in $tmp, found ${part.length}")
    Files.move(part.head.toPath, file, StandardCopyOption.REPLACE_EXISTING)
    TempDirs.deleteTree(tmp.toFile)
  }
}
