package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Product quantization (PQ) for approximate nearest neighbor — the
  * compressed-index scale path beside [[Ivf]]: split each dim-D vector
  * into `m` contiguous sub-vectors, k-means each subspace to `ksub`
  * centroids, and store per vector only the `m` nearest-centroid codes
  * (m bytes against 8·D for raw doubles — 64× compression at D=64,
  * m=8). Search is ADC (asymmetric distance computation): the QUERY
  * stays full-precision; its squared-L2 distance to a corpus vector is
  * approximated by the sum over subspaces of the distance from the
  * query's sub-vector to the CENTROID the corpus vector's code names.
  * Per query that is one m×ksub lookup table computed once, then O(m)
  * table lookups per corpus row — the corpus scan reads codes only,
  * never vectors.
  *
  * Scale design mirrors [[Ivf.train]]: training runs as distributed
  * aggregates over an exploded (id, subspace, sub-vector) table — all
  * `m` subspace k-means advance in ONE job per Lloyd iteration (the
  * subspace is a grouping column, not a driver loop) — and only the
  * m×ksub×dsub codebook matrix is ever collected. Encoding is a pure
  * narrow map against codebook literals (codegen arithmetic, no
  * join); at deployment scale the codes column is persisted once and
  * the raw vectors never travel again. ADC scoring broadcasts the
  * (tiny) query side carrying its precomputed lookup table.
  *
  * Determinism (what lets DuckDB replay the whole recipe in the
  * q_ann_pq oracle): seeds are the first `ksub` vectors in id order;
  * every mean update quantizes elements to DECIMAL(18,9) before the
  * sum (exact, order-independent) and divides as doubles; every
  * squared-L2 fold is written in the same left-associated order both
  * engines execute; argmin ties break on the lower cell; ADC sums
  * per-subspace distances as decimals. Bit-identical end to end.
  */
object Pq {

  final case class PqModel(
      codebooks: IndexedSeq[IndexedSeq[IndexedSeq[Double]]]) {
    def m: Int = codebooks.size
    def ksub: Int = codebooks.head.size
    def dsub: Int = codebooks.head.head.size
    def dim: Int = m * dsub
  }

  object PqModel {
    /** Persist the codebooks as a (sub, cell, centroid) parquet —
      * train once (on a sample at 100 TB), then encode any corpus
      * slice in any later job without retraining. Doubles round-trip
      * parquet bit-exactly, so a loaded model encodes identically —
      * the same discipline as [[Ivf.IvfModel.save]]. */
    def save(spark: org.apache.spark.sql.SparkSession, model: PqModel,
        path: String): Unit = {
      import spark.implicits._
      model.codebooks.zipWithIndex.flatMap { case (cells, s) =>
        cells.zipWithIndex.map { case (c, cell) => (s, cell, c) }
      }.toDF("sub", "cell", "centroid")
        .repartition(1).write.mode("overwrite").parquet(path)
    }

    def load(spark: org.apache.spark.sql.SparkSession,
        path: String): PqModel = {
      val rows = graft.util.Tables.parquet(spark, path)
        .select(col("sub"), col("cell"),
          col("centroid").cast("array<double>"))
        .collect()
      require(rows.nonEmpty, s"no codebooks at $path")
      val bySub = rows.groupBy(_.getInt(0))
      PqModel((0 until bySub.size).map { s =>
        val cells = bySub.getOrElse(s, throw new IllegalArgumentException(
          s"codebook parquet at $path is missing subspace $s"))
        cells.sortBy(_.getInt(1))
          .map(_.getSeq[Double](2).toIndexedSeq).toIndexedSeq
      })
    }
  }

  /** Left-associated squared-L2 fold between two plain array columns
    * (training-time, where centroids arrive via a join) — written
    * `0.0 + t1 + t2 + …` to match the oracle's fold; the encode/LUT
    * hot path uses [[graft.functions.PqEncode]]/[[graft.functions.PqLut]],
    * whose loops accumulate in the identical order. */
  private def l2sqCol(a: Column, b: Column, dsub: Int): Column =
    (0 until dsub).map { i =>
      val d = element_at(a, i + 1) - element_at(b, i + 1)
      d * d
    }.foldLeft(lit(0.0): Column)(_ + _)

  /** Train the `m` subspace codebooks with Lloyd iterations. One
    * distributed job per iteration advances ALL subspaces: the corpus
    * explodes once to (id, subspace, sub-vector) and the subspace id
    * rides the aggregation keys. Only m×ksub×dsub doubles reach the
    * driver per iteration. On a 100 TB corpus, train on a sample. */
  def train(corpus: DataFrame, idCol: String, vecCol: String,
      m: Int = 8, ksub: Int = 16, iters: Int = 2): PqModel = {
    val spark = corpus.sparkSession
    val vecs = corpus.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("v"))
    val dim = vecs.select(size(col("v"))).head().getInt(0)
    require(dim % m == 0, s"dim $dim not divisible by m=$m subspaces")
    val dsub = dim / m
    // (id, sub, sv): every subspace's slice of every vector — persisted,
    // each Lloyd iteration is one aggregation over this table
    val sub = vecs.select(col("id"),
        explode(sequence(lit(0), lit(m - 1))).as("sub"), col("v"))
      .select(col("id"), col("sub"),
        slice(col("v"), col("sub") * dsub + 1, lit(dsub)).as("sv"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // seed: the first ksub vectors in id order, sliced per subspace
      val seedRows = vecs.orderBy("id").limit(ksub).collect()
        .map(_.getSeq[Double](1).toIndexedSeq)
      var books: IndexedSeq[IndexedSeq[IndexedSeq[Double]]] =
        (0 until m).map(s => seedRows.toIndexedSeq
          .map(v => v.slice(s * dsub, (s + 1) * dsub)))
      for (_ <- 0 until iters) {
        import spark.implicits._
        val cb = books.zipWithIndex.flatMap { case (cells, s) =>
          cells.zipWithIndex.map { case (c, cell) => (s, cell, c) }
        }.toDF("sub", "cell", "c")
        val means = sub
          .join(broadcast(cb), Seq("sub"))
          .select(col("id"), col("sub"), col("sv"),
            struct(l2sqCol(col("sv"), col("c"), dsub).as("d"),
              col("cell").as("cell")).as("dc"))
          .groupBy(col("id"), col("sub"))
          // argmin with the lower cell on ties; sv is constant within
          // the group (one sub-vector joined against ksub centroids)
          .agg(min(col("dc")).getField("cell").as("cell"),
            first(col("sv")).as("sv"))
          .select(col("sub"), col("cell"),
            posexplode(col("sv")).as(Seq("d", "x")))
          .groupBy("sub", "cell", "d")
          // tie-free integer-grid mean (see Ivf.train: a double→
          // DECIMAL cast leaves half-edge rounding to the engine;
          // floor(x·1e9 + 0.5) is the same IEEE ops everywhere)
          .agg((sum(floor(col("x") * lit(1e9) + lit(0.5)))
            .cast("double") / lit(1e9)
            / count(lit(1)).cast("double")).as("mean"))
          .collect()
        val byKey = means.groupBy(r => (r.getInt(0), r.getInt(1)))
        books = books.zipWithIndex.map { case (cells, s) =>
          cells.zipWithIndex.map { case (prev, cell) =>
            byKey.get((s, cell)) match {
              case Some(rows) =>
                rows.sortBy(_.getInt(2)).map(_.getDouble(3)).toIndexedSeq
              case None => prev // empty cell keeps its centroid
            }
          }
        }
      }
      PqModel(books)
    } finally sub.unpersist(false)
  }

  /** PQ code for a vector column: `m` nearest-sub-centroid indices as
    * an array<int> — a pure narrow map against the codebook, emitted
    * as one compact codegen loop ([[graft.functions.PqEncode]]; the
    * composed-Column form inlined 2048 sub-expressions and fell out
    * of whole-stage codegen). */
  def encode(v: Column, model: PqModel): Column =
    graft.functions.PqFunctions.pq_encode(v, model.codebooks)

  /** Per-query ADC lookup table: lut[s][c] = squared L2 from the
    * query's subspace-s slice to codebook centroid c. Computed ONCE
    * per query row (projected before the broadcast join). */
  private def lut(qv: Column, model: PqModel): Column =
    graft.functions.PqFunctions.pq_lut(qv, model.codebooks)

  /** [[lut]] for composing modules ([[Ivfpq]] builds one LUT per
    * (query, probed cell) from the cell-dependent residual). */
  private[similarity] def lutColumn(qv: Column, model: PqModel): Column =
    lut(qv, model)

  /** ADC top-k: encode the corpus (codes only cross the join),
    * broadcast the queries with their lookup tables, score each
    * (query, code) pair by the decimal-exact sum of m table lookups.
    * Output (query_id, id, adc_dist, rank) — adc_dist approximates
    * squared L2, smaller is nearer. */
  def adcTopK(corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, queryIdCol: String, queryVecCol: String,
      model: PqModel, k: Int = 10): DataFrame = {
    val codes = corpus.select(col(idCol).as("id"),
      encode(col(vecCol).cast("array<double>"), model).as("code"))
    val q = queries.select(col(queryIdCol).as("query_id"),
        col(queryVecCol).cast("array<double>").as("qv"))
      .select(col("query_id"), lut(col("qv"), model).as("lut"))
    val dist = (0 until model.m).map(s =>
        element_at(element_at(col("lut"), s + 1),
          element_at(col("code"), s + 1) + 1).cast(DecimalType(18, 9)))
      .reduceLeft(_ + _).cast("double")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_dist").asc, col("id").asc)
    codes.crossJoin(broadcast(q))
      .select(col("query_id"), col("id"), dist.as("adc_dist"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("id"), col("adc_dist"), col("rank"))
  }

  /** The deployment-shaped two-stage search: ADC over codes prunes the
    * corpus to `fetch` candidates per query, then ONLY those
    * candidates are re-ranked by exact squared L2 on the raw vectors.
    * The exact pass touches `fetch` vectors per query instead of the
    * corpus — at 100 TB the codes (m bytes/vector) do the scan and
    * the full-precision column is read for ~fetch/|corpus| of rows.
    * Output (query_id, id, l2_dist, rank), smaller is nearer; the
    * exact fold accumulates in element order (`0.0 + t1 + …`), so the
    * q_ann_pq_rerank oracle replays it bit-for-bit. */
  def adcRerankTopK(corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, queryIdCol: String, queryVecCol: String,
      model: PqModel, k: Int = 10, fetch: Int = 50): DataFrame = {
    require(fetch >= k, s"fetch $fetch must be >= k $k")
    val cand = adcTopK(corpus, idCol, vecCol,
        queries, queryIdCol, queryVecCol, model, k = fetch)
      .select(col("query_id"), col("id"))
    val cv = corpus.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("v"))
    val qv = queries.select(col(queryIdCol).as("query_id"),
      col(queryVecCol).cast("array<double>").as("qv"))
    val l2 = aggregate(zip_with(col("v"), col("qv"),
      (a, b) => (a - b) * (a - b)), lit(0.0), _ + _)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("l2_dist").asc, col("id").asc)
    cand.join(cv, Seq("id"))
      .join(broadcast(qv), Seq("query_id"))
      .select(col("query_id"), col("id"), l2.as("l2_dist"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("id"), col("l2_dist"), col("rank"))
  }
}
