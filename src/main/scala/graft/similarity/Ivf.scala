package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions

/** IVF (inverted-file) approximate nearest neighbor: a trained coarse
  * quantizer partitions the corpus into cells; queries probe only the
  * `nprobe` nearest cells.
  *
  * Scale design: training runs as distributed aggregates (assignment is
  * a narrow map against centroid literals; the mean-update is one
  * posexplode + groupBy over (cell, dim)); only the k×dim centroid
  * matrix is ever collected to the driver. Corpus assignment is
  * computed once and can be persisted as a column (the "inverted
  * file"); query-time work is a join on cell id — the corpus is hash-
  * partitioned by cell, so each query touches nprobe partitions' worth
  * of vectors instead of the full corpus.
  *
  * Versus [[Similarity.lshTopK]]: LSH needs no training and gives
  * probabilistic recall; IVF adapts to the data's cluster structure
  * (much better recall/compute on clustered embeddings — the common
  * case for real encoder outputs).
  */
object Ivf {

  final case class IvfModel(centroids: Seq[Seq[Double]]) {
    def k: Int = centroids.size
  }

  object IvfModel {
    /** Persist the trained quantizer as a (cell, centroid) parquet —
      * train once on a corpus sample, then reuse the index across
      * sessions/jobs without retraining (the centroid matrix is k×dim
      * doubles: trivially small, but the asset that makes corpus
      * assignment a pure narrow map). Doubles round-trip parquet
      * bit-exactly, so a loaded model assigns identically. */
    def save(spark: org.apache.spark.sql.SparkSession, model: IvfModel,
        path: String): Unit = {
      import spark.implicits._
      model.centroids.zipWithIndex
        .map { case (c, i) => (i, c) }.toDF("cell", "centroid")
        .repartition(1).write.mode("overwrite").parquet(path)
    }

    def load(spark: org.apache.spark.sql.SparkSession,
        path: String): IvfModel = {
      val rows = graft.util.Tables.parquet(spark, path)
        .select(col("cell"), col("centroid").cast("array<double>"))
        .collect()
      require(rows.nonEmpty, s"no centroids at $path")
      IvfModel(rows.sortBy(_.getInt(0))
        .map(_.getSeq[Double](1).toIndexedSeq).toIndexedSeq)
    }
  }

  /** Cosine of `v` against each centroid, as (cos, idx) structs —
    * argmax via array_max's lexicographic struct ordering. */
  private def cellScores(v: Column, model: IvfModel): Column =
    array(model.centroids.zipWithIndex.map { case (c, i) =>
      struct(VectorFunctions.cosine_sim(v, typedLit(c)).as("cos"),
        lit(i).as("cell"))
    }: _*)

  /** Nearest-centroid cell id for a vector column — ONE codegen loop
    * over the centroid matrix ([[graft.functions.NearestCentroid]]),
    * bit-compatible with the `array_max(struct(cos, cell))`
    * formulation it replaces (same cosine fold, same tie-break) but
    * O(1) plan nodes instead of k cosine subtrees, so k can track the
    * corpus (k ≈ √n) without drowning the optimizer/codegen. */
  def assignCell(v: Column, model: IvfModel): Column =
    VectorFunctions.nearest_centroid(v,
      typedLit(model.centroids.map(_.toSeq)))

  /** The query side's nprobe nearest cells. */
  private[similarity] def probeCells(v: Column, model: IvfModel,
      nprobe: Int): Column =
    slice(reverse(array_sort(cellScores(v, model))), 1, nprobe)
      .getField("cell")

  /** Train centroids with Lloyd iterations (cosine assignment, mean
    * update). FULLY deterministic — partition-order-independent AND
    * engine-independent: the mean update quantizes each element onto
    * the 1e-9 integer grid with floor(x·1e9 + 0.5) — pure IEEE
    * mul/add/floor, identical everywhere — then sums exact longs
    * (associative and commutative — no float accumulation-order
    * drift); only the final unscale/count divisions happen in
    * doubles, in a fixed order. (A double→DECIMAL cast is NOT
    * engine-independent: its half-edge rounding mode is the engine's
    * choice — Spark HALF_UP, DuckDB HALF_EVEN — and dyadic floats DO
    * land exactly on scale-9 half-edges; the sf0.1 oracle pass caught
    * exactly that, SCALING.md round-13 adjudication.) The 1e-9
    * quantization is noise relative to encoder outputs and buys
    * bit-identical centroids on any cluster, any partitioning, any
    * engine (the q_ann_ivf DuckDB oracle replays this exact recipe).
    * Seeded by the first k vectors in id order. On a 100 TB corpus
    * you'd train on a sample — pass one in. */
  def train(corpus: DataFrame, idCol: String, vecCol: String,
      k: Int = 16, iters: Int = 3): IvfModel = {
    // persisted: every Lloyd iteration (and the seed read) scans the
    // vectors — without this, each of the iters+1 jobs re-reads and
    // re-decodes the parquet
    val vecs = corpus.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      var model = IvfModel(vecs.orderBy("id").limit(k)
        .collect().map(_.getSeq[Double](1).toIndexedSeq).toIndexedSeq)
      for (_ <- 0 until iters) {
        val means = vecs
          .withColumn("cell", assignCell(col("v"), model))
          .select(col("cell"), posexplode(col("v")).as(Seq("dim", "x")))
          .groupBy("cell", "dim")
          // TIE-FREE integer-grid quantization, then an exact long
          // sum: floor(x·1e9 + 0.5) is the same IEEE mul/add/floor on
          // every engine — unlike a double→DECIMAL cast, whose
          // half-edge ROUNDING MODE is engine-defined (Spark rounds
          // HALF_UP, DuckDB HALF_EVEN: a dyadic float like
          // 0.1494140625 sits EXACTLY on the scale-9 half-edge and
          // the sf0.1 oracle pass caught the two engines disagreeing
          // by one grid unit — SCALING.md round-13 adjudication).
          // The long sum is exact and order-free; the final
          // double-cast + two divisions are the same fixed-order IEEE
          // ops everywhere. Envelope: |x|·1e9 per element, < 2^63 per
          // (cell,dim) sum — same 18-digit headroom the decimal had.
          .agg((sum(floor(col("x") * lit(1e9) + lit(0.5)))
            .cast("double") / lit(1e9)
            / count(lit(1)).cast("double")).as("m"))
          .collect()
        val byCell = means.groupBy(_.getInt(0))
        model = IvfModel(model.centroids.indices.map { c =>
          byCell.get(c) match {
            case Some(rows) =>
              rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toIndexedSeq
            case None => model.centroids(c) // empty cell keeps its centroid
          }
        })
      }
      model
    } finally vecs.unpersist(false)
  }

  final case class IndexAppendStats(maxCellSize: Long, meanCellSize: Double,
      needsRetrain: Boolean)

  /** The appended inverted file, its refreshed per-cell counts (k rows
    * — store them next to the index so the next append never rescans
    * it), and the balance verdict. */
  final case class IndexAppend(index: DataFrame, cellCounts: DataFrame,
      stats: IndexAppendStats)

  /** Incremental index maintenance: assign NEW vectors to the EXISTING
    * cells of a stored inverted file — the daily-ingest shape, paying
    * only the batch's assignment cost (a narrow map against the k×dim
    * centroid literals; the stored corpus is never rescanned, never
    * reassigned). Mirrors [[graft.dedup.Dedup.incrementalMinHashPairs]]'
    * stored-artifact contract: ids already present in the index are a
    * LOUD error (a re-ingested row would silently shadow its stored
    * assignment), and the batch is assigned with the index's OWN model
    * — pass the model that built `index`, not a retrained one.
    *
    * Retrain trigger: appends shift the data distribution but never
    * the centroids, so recall decays as cells bloat. The returned
    * stats flag `needsRetrain` when the fullest cell exceeds
    * `imbalanceBound` × the mean cell size — the standard IVF health
    * bound (a balanced index probes nprobe/k of the corpus; a cell at
    * B× mean makes its probes B× more expensive and its neighbors
    * under-trained). Counts come from `baseCellCounts` (k rows, stored
    * with the index) plus the batch's own aggregation; only without
    * the stored counts does the base index get one column-pruned
    * cell-count scan. */
  def appendToIndex(index: DataFrame, newVecs: DataFrame, idCol: String,
      vecCol: String, model: IvfModel,
      baseCellCounts: Option[DataFrame] = None,
      imbalanceBound: Double = 4.0): IndexAppend = {
    val newIdx = newVecs.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("v"))
      .withColumn("cell", assignCell(col("v"), model))
    // bounded collect: at most 1 row — the overlap probe
    val overlap = newIdx.select(col("id"))
      .join(index.select(col("id")), Seq("id"), "left_semi")
      .limit(1).collect()
    require(overlap.isEmpty,
      s"batch ids already present in the index (e.g. ${overlap.headOption
        .map(_.get(0)).getOrElse("")}) — dedupe re-ingests before " +
        "calling, or rebuild the index")
    val base = baseCellCounts
      .getOrElse(index.groupBy(col("cell")).count())
      .select(col("cell"), col("count"))
    val counts = base
      .unionByName(newIdx.groupBy(col("cell")).count())
      .groupBy(col("cell")).agg(sum(col("count")).as("count"))
    // bounded collect: k cells → 1 aggregate row
    val statsRow = counts
      .agg(max(col("count")).as("mx"), avg(col("count")).as("mean"))
      .collect().head
    val stats = IndexAppendStats(statsRow.getLong(0), statsRow.getDouble(1),
      statsRow.getLong(0) > imbalanceBound * statsRow.getDouble(1))
    IndexAppend(index.unionByName(newIdx), counts, stats)
  }

  /** ANN top-k: corpus rows live in one cell each; every query probes
    * its `nprobe` nearest cells. Output shape matches
    * Similarity.bruteForceTopK.
    *
    * Join strategy adapts to the query side's size: the interactive
    * case (a handful of query vectors) broadcasts the probed queries
    * to every corpus partition — no corpus shuffle at all. When the
    * "queries" are themselves a corpus (corpus-vs-corpus retrieval)
    * the broadcast would ship GBs to every executor, so above the
    * threshold both sides shuffle-join on `cell` — parallelism is the
    * cell count, so size k to the cluster (√n cells is the usual IVF
    * recipe) for that regime. `broadcastThresholdBytes` < 0 (default)
    * defers to the session's autoBroadcastJoinThreshold. */
  def ivfTopK(corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, queryIdCol: String, queryVecCol: String,
      model: IvfModel, k: Int = 10, nprobe: Int = 2,
      broadcastThresholdBytes: Long = -1L): DataFrame = {
    // MATERIALIZED inverted file, not lineage: the cell join's
    // isnotnull(cell) null-filter otherwise rewrites into
    // isnotnull(<full k-centroid assignment>) and pushes into the
    // parquet scan as a row-by-row interpreted data filter (the same
    // pathology measured at 10-100× on the IVF-PQ search — see
    // Ivfpq.searchTopK). Materializing (id, v, cell) is the
    // deployment shape anyway: the inverted file is the stored index.
    val c = corpus.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("v"))
      .withColumn("cell", assignCell(col("v"), model))
      .localCheckpoint(true)
    searchIndex(c, queries, queryIdCol, queryVecCol, model, k, nprobe,
      broadcastThresholdBytes)
  }

  /** [[ivfTopK]] against a STORED inverted file `(id, v, cell)` — the
    * deployment shape where assignment happened at ingest
    * ([[appendToIndex]]) and search pays ZERO assignment cost for the
    * corpus. */
  def searchIndex(index: DataFrame,
      queries: DataFrame, queryIdCol: String, queryVecCol: String,
      model: IvfModel, k: Int = 10, nprobe: Int = 2,
      broadcastThresholdBytes: Long = -1L): DataFrame = {
    require(Seq("id", "v", "cell").forall(index.columns.contains),
      s"stored IVF index needs (id, v, cell) columns — got " +
        index.columns.mkString(", "))
    val c = index
    val q = queries.select(col(queryIdCol).as("query_id"),
      col(queryVecCol).cast("array<double>").as("qv"))
      .withColumn("cell",
        explode(probeCells(col("qv"), model, nprobe)))
    val threshold =
      if (broadcastThresholdBytes >= 0) BigInt(broadcastThresholdBytes)
      else BigInt(index.sparkSession.sessionState.conf
        .autoBroadcastJoinThreshold)
    val qBytes = q.queryExecution.optimizedPlan.stats.sizeInBytes
    val joined =
      if (qBytes <= threshold) c.join(broadcast(q), Seq("cell"))
      // the explicit hint matters: Catalyst's own size estimate of an
      // exploded probe list can undershoot, and a surprise broadcast
      // of a corpus-sized query side is exactly the failure this path
      // exists to prevent
      else c.hint("shuffle_hash").join(q, Seq("cell"))
    val scored = joined
      .select(col("query_id"), col("id"),
        VectorFunctions.cosine_sim(col("v"), col("qv")).as("cosine"))
      .groupBy(col("query_id"), col("id"))
      .agg(max(col("cosine")).as("cosine"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("id"), col("cosine"), col("rank"))
  }
}
