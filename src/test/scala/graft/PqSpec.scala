package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.similarity.Pq
import graft.util.TempDirs

/** Product quantization: training determinism, codegen/eval parity,
  * compression shape, and ADC retrieval quality against exact L2. */
class PqSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val d = "/root/testdata/sf0.01"
  private def emb = graft.util.Tables.embeddings(spark, d)

  private lazy val model =
    Pq.train(emb, "vec_id", "embedding", m = 8, ksub = 16, iters = 2)

  test("training is partition-order independent") {
    val shuffled = emb.repartition(17, col("vec_id"))
    val m2 = Pq.train(shuffled, "vec_id", "embedding",
      m = 8, ksub = 16, iters = 2)
    assert(model.codebooks == m2.codebooks,
      "codebooks must be bit-identical under any partitioning")
  }

  test("codes are m small ints (the 64x compression claim) and " +
      "near-identical vectors share codes") {
    val codes = emb.select(col("vec_id"),
      Pq.encode(col("embedding"), model).as("code"))
    val row = codes.head()
    assert(row.getSeq[Int](1).size == 8)
    assert(codes.filter(size(col("code")) =!= 8).count() == 0)
    // a vector jittered by 1e-9 is far inside its cells: same codes
    val jittered = emb.select(col("vec_id"),
      Pq.encode(transform(col("embedding").cast("array<double>"),
        x => x + lit(1e-9)), model).as("code"))
    val a = codes.orderBy("vec_id").collect().map(_.getSeq[Int](1))
    val b = jittered.orderBy("vec_id").collect().map(_.getSeq[Int](1))
    assert(a.sameElements(b))
  }

  test("model save/load round-trips bit-exactly (loaded model " +
      "encodes identically)") {
    val dir = TempDirs.create("pq-model").toString
    Pq.PqModel.save(spark, model, s"$dir/cb")
    val loaded = Pq.PqModel.load(spark, s"$dir/cb")
    assert(loaded == model)
  }

  test("codegen and interpreted eval agree on encode") {
    // the DataFrame run goes through doGenCode; re-evaluate the same
    // expression interpreted and compare
    import org.apache.spark.sql.GraftSqlShims
    val vecs = emb.select(col("embedding").cast("array<double>"))
      .limit(50).collect().map(_.getSeq[Double](0))
    val fromDf = emb.select(
        Pq.encode(col("embedding"), model).as("code"), col("vec_id"))
      .orderBy("vec_id").limit(50).collect().map(_.getSeq[Int](0))
    val expr = graft.functions.PqEncode(
      GraftSqlShims.expression(lit(null).cast("array<double>")),
      model.codebooks)
    val interp = vecs.map { v =>
      expr.nullSafeEval(
        new org.apache.spark.sql.catalyst.util.GenericArrayData(v.toArray))
        .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        .toIntArray().toSeq
    }
    assert(fromDf.map(_.toSeq).toSeq == interp.map(_.toSeq).toSeq)
  }

  test("ADC top-k recall against exact squared-L2 brute force") {
    val queries = emb.filter(col("vec_id") < 20)
    val approx = Pq.adcTopK(emb, "vec_id", "embedding",
      queries, "vec_id", "embedding", model, k = 10)
      .select("query_id", "id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet)
      .toMap
    // exact: squared L2 via cosine-free arithmetic on the same arrays
    val q = queries.select(col("vec_id").as("query_id"),
      col("embedding").cast("array<double>").as("qv"))
    val exact = emb.select(col("vec_id").as("id"),
        col("embedding").cast("array<double>").as("v"))
      .crossJoin(broadcast(q))
      .select(col("query_id"), col("id"),
        aggregate(zip_with(col("v"), col("qv"),
          (a, b) => (a - b) * (a - b)), lit(0.0), _ + _).as("l2"))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("query_id")
          .orderBy(col("l2").asc, col("id").asc)))
      .filter(col("rk") <= 10)
      .select("query_id", "id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet)
      .toMap
    val recalls = exact.map { case (qid, ex) =>
      approx.get(qid).map(ap => ex.intersect(ap).size / 10.0).getOrElse(0.0)
    }
    val mean = recalls.sum / recalls.size
    // every query must at least find ITSELF (ADC dist to its own code
    // is the minimal reconstruction error)
    approx.foreach { case (qid, ids) =>
      assert(ids.contains(qid), s"query $qid lost itself")
    }
    // this corpus is unstructured (near-uniform vectors — the hardest
    // PQ case; encoder outputs cluster and do far better): 8-byte
    // codes measured 0.38 mean recall@10 — pin a floor under it. The
    // deployment answer to this number is the rerank test below.
    assert(mean >= 0.3, f"mean recall@10 $mean%.2f below the pinned " +
      "floor for 16-cell x 8-subspace codes on this corpus")

    // two-stage ADC->exact rerank: candidates fetched by codes, true
    // distances only on fetch=50 of 2000 vectors — recall recovers
    val rr = Pq.adcRerankTopK(emb, "vec_id", "embedding",
      queries, "vec_id", "embedding", model, k = 10, fetch = 50)
      .select("query_id", "id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet)
      .toMap
    val rrRecalls = exact.map { case (qid, ex) =>
      rr.get(qid).map(ap => ex.intersect(ap).size / 10.0).getOrElse(0.0)
    }
    val rrMean = rrRecalls.sum / rrRecalls.size
    assert(rrMean >= mean,
      f"rerank must not lose recall ($rrMean%.2f vs $mean%.2f)")
    assert(rrMean >= 0.6,
      f"rerank mean recall@10 $rrMean%.2f below the pinned floor")
  }

  test("IVF-PQ: residual index is deterministic and every query " +
      "retrieves itself through its probed cells") {
    import graft.similarity.{Ivf, Ivfpq}
    val ivf = Ivf.train(emb, "vec_id", "embedding", k = 16, iters = 2)
    val pq = Ivfpq.trainResidualPq(emb, "vec_id", "embedding", ivf)
    val queries = emb.filter(col("vec_id") < 20)
    def search(corpus: org.apache.spark.sql.DataFrame) =
      Ivfpq.searchTopK(corpus, "vec_id", "embedding",
        queries, "vec_id", "embedding", ivf, pq, k = 10, nprobe = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
        .toSet
    val base = search(emb)
    // partition-order independence end to end (training already
    // pinned above; this pins routing + encoding + ADC)
    assert(base == search(emb.repartition(13, col("vec_id"))))
    // the query's own cell is its nearest probe, and ADC distance to
    // its own code is the cell's minimal reconstruction error: every
    // query must retrieve itself
    val self = base.collect { case (q, id, _) if q == id => q }
    assert(self.toSet == (0L until 20L).toSet,
      s"queries lost themselves: ${(0L until 20L).toSet -- self}")
  }

  test("residual encoding beats raw-vector PQ at the same code " +
      "budget (the reason IVF-PQ exists)") {
    import graft.similarity.{Ivf, Ivfpq}
    val queries = emb.filter(col("vec_id") < 20)
    val exact = emb.select(col("vec_id").as("id"),
        col("embedding").cast("array<double>").as("v"))
      .crossJoin(broadcast(queries.select(col("vec_id").as("query_id"),
        col("embedding").cast("array<double>").as("qv"))))
      .select(col("query_id"), col("id"),
        aggregate(zip_with(col("v"), col("qv"),
          (a, b) => (a - b) * (a - b)), lit(0.0), _ + _).as("l2"))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("query_id")
          .orderBy(col("l2").asc, col("id").asc)))
      .filter(col("rk") <= 10).select("query_id", "id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet)
      .toMap
    def recall(res: Map[Long, Set[Long]]): Double = {
      val rs = exact.map { case (k, ex) =>
        res.get(k).map(a => ex.intersect(a).size / 10.0).getOrElse(0.0) }
      rs.sum / rs.size
    }
    def collectRes(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "id").collect()
        .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet)
        .toMap
    val rawPq = recall(collectRes(Pq.adcTopK(emb, "vec_id", "embedding",
      queries, "vec_id", "embedding", model, k = 10)))
    val ivf = Ivf.train(emb, "vec_id", "embedding", k = 16, iters = 2)
    val rpq = Ivfpq.trainResidualPq(emb, "vec_id", "embedding", ivf)
    val ivfpq = recall(collectRes(Ivfpq.searchTopK(emb, "vec_id",
      "embedding", queries, "vec_id", "embedding", ivf, rpq,
      k = 10, nprobe = 4)))
    // measured 0.450 vs 0.375 on this corpus: residual codes must
    // beat raw-vector codes even while scanning only nprobe/k of the
    // cells — the whole point of the composition
    assert(ivfpq > rawPq,
      f"residual PQ ($ivfpq%.3f) must beat raw PQ ($rawPq%.3f)")
    assert(ivfpq >= 0.4, f"ivfpq recall@10 $ivfpq%.3f below floor")
  }
}
