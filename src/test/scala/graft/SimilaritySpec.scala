package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.similarity.Similarity
import graft.util.TempDirs

class SimilaritySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("cosine of known vectors") {
    val df = Seq(
      (Seq(1.0, 0.0), Seq(0.0, 1.0), 0.0),
      (Seq(1.0, 1.0), Seq(1.0, 1.0), 1.0),
      (Seq(1.0, 0.0), Seq(-1.0, 0.0), -1.0),
      (Seq(0.0, 0.0), Seq(1.0, 1.0), 0.0) // zero-norm guard
    ).toDF("a", "b", "expected")
    val rows = df.select(Similarity.cosine($"a", $"b").as("c"), $"expected")
      .collect()
    rows.foreach(r => assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-12))
  }

  private lazy val corpus = {
    val rnd = new scala.util.Random(11)
    (0L until 200L).map(i => (i, Seq.fill(64)(rnd.nextGaussian())))
      .toDF("vec_id", "embedding")
  }

  test("bruteForceTopK: rank 1 is the query itself, ranks dense 1..k") {
    val out = Similarity.bruteForceTopK(corpus, "vec_id", "embedding",
      corpus.filter($"vec_id" < 3), "vec_id", "embedding", k = 5)
    val byQuery = out.collect().groupBy(_.getLong(0))
    assert(byQuery.keySet == Set(0L, 1L, 2L))
    byQuery.foreach { case (q, rows) =>
      val sorted = rows.sortBy(_.getInt(3))
      assert(sorted.map(_.getInt(3)).toSeq == (1 to 5))
      assert(sorted.head.getLong(1) == q, "self must rank first")
      assert(math.abs(sorted.head.getDouble(2) - 1.0) < 1e-9)
      // cosine non-increasing with rank
      assert(sorted.map(_.getDouble(2)).sliding(2).forall(w =>
        w(0) >= w(1) - 1e-12))
    }
  }

  test("lshTopK finds the self-match and only emits true candidates") {
    val out = Similarity.lshTopK(corpus, "vec_id", "embedding",
      corpus.filter($"vec_id" < 3), "vec_id", "embedding", k = 5)
    val byQuery = out.collect().groupBy(_.getLong(0))
    byQuery.foreach { case (q, rows) =>
      val sorted = rows.sortBy(_.getInt(3))
      assert(sorted.head.getLong(1) == q, "self collides in every table")
    }
  }

  test("lshTopK recall against brute force on a clustered corpus") {
    // clustered data (where LSH is meant to shine): 10 centers + noise
    val rnd = new scala.util.Random(13)
    val centers = Seq.fill(10)(Seq.fill(64)(rnd.nextGaussian()))
    val clustered = (0L until 300L).map { i =>
      val c = centers((i % 10).toInt)
      (i, c.map(_ + rnd.nextGaussian() * 0.15))
    }.toDF("vec_id", "embedding")
    val queries = clustered.filter($"vec_id" < 5)
    val exact = Similarity.bruteForceTopK(clustered, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.lshTopK(clustered, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    assert(recall >= 0.8, s"recall $recall too low")
  }

  test("IVF: training converges and recall beats LSH on clustered data") {
    import graft.similarity.Ivf
    val rnd = new scala.util.Random(13)
    val centers = Seq.fill(10)(Seq.fill(64)(rnd.nextGaussian()))
    val clustered = (0L until 300L).map { i =>
      val c = centers((i % 10).toInt)
      (i, c.map(_ + rnd.nextGaussian() * 0.15))
    }.toDF("vec_id", "embedding")
    val model = Ivf.train(clustered, "vec_id", "embedding", k = 10, iters = 3)
    assert(model.k == 10)
    // assignment should be stable: cells partition the corpus
    val cells = clustered.select(
      Ivf.assignCell($"embedding".cast("array<double>"), model).as("c"))
      .groupBy("c").count().collect()
    assert(cells.map(_.getLong(1)).sum == 300)
    val queries = clustered.filter($"vec_id" < 5)
    val exact = Similarity.bruteForceTopK(clustered, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Ivf.ivfTopK(clustered, "vec_id", "embedding",
      queries, "vec_id", "embedding", model, k = 10, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.intersect(ivf).size.toDouble / exact.size
    assert(recall >= 0.9, s"IVF recall $recall too low on clustered data")

    // save/load round-trips the index bit-exactly: identical centroids,
    // identical assignment — train once, search in any later session
    val dir = TempDirs.create("ivf-model").toString
    Ivf.IvfModel.save(spark, model, dir)
    val back = Ivf.IvfModel.load(spark, dir)
    assert(back == model)
  }

  test("appendToIndex: batch-only assignment equals full reassignment; " +
      "overlap and imbalance are surfaced") {
    import graft.similarity.Ivf
    val rnd = new scala.util.Random(29)
    val centers = Seq.fill(8)(Seq.fill(32)(rnd.nextGaussian()))
    def mk(ids: Range, centerOf: Int => Int) = ids.map { i =>
      (i.toLong, centers(centerOf(i)).map(_ + rnd.nextGaussian() * 0.1))
    }.toDF("vec_id", "embedding")
    val base = mk(0 until 200, _ % 8)
    val model = Ivf.train(base, "vec_id", "embedding", k = 8, iters = 2)
    val stored = base.select($"vec_id".as("id"),
      $"embedding".cast("array<double>").as("v"))
      .withColumn("cell", Ivf.assignCell($"v", model))
      .localCheckpoint(true)
    // balanced batch: every cluster gains a few members
    val batch = mk(200 until 240, _ % 8)
    val app = Ivf.appendToIndex(stored, batch, "vec_id", "embedding", model)
    assert(!app.stats.needsRetrain)
    assert(app.cellCounts.agg(sum($"count")).collect().head.getLong(0) == 240)
    // the appended index is EXACTLY what assigning the union from
    // scratch would produce — append paid only the batch's cost
    val full = base.unionByName(batch).select($"vec_id".as("id"),
      $"embedding".cast("array<double>").as("v"))
      .withColumn("cell", Ivf.assignCell($"v", model))
    assert(app.index.select("id", "cell").collect().map(r =>
      (r.getLong(0), r.getInt(1))).toSet ==
      full.select("id", "cell").collect().map(r =>
        (r.getLong(0), r.getInt(1))).toSet)
    // search over the stored index matches ivfTopK over the union
    val queries = batch.filter($"vec_id" < 205)
    val viaIndex = Ivf.searchIndex(app.index, queries, "vec_id",
      "embedding", model, k = 5, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    val viaCorpus = Ivf.ivfTopK(base.unionByName(batch), "vec_id",
      "embedding", queries, "vec_id", "embedding", model, k = 5,
      nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(viaIndex == viaCorpus)
    // re-ingested ids are a loud error, not silent shadow assignments
    val err = intercept[IllegalArgumentException] {
      Ivf.appendToIndex(stored, mk(150 until 210, _ % 8), "vec_id",
        "embedding", model)
    }
    assert(err.getMessage.contains("already present"))
    // a batch dumped entirely into one cluster trips the retrain bound
    val skewed = mk(300 until 1200, _ => 3)
    val skewApp = Ivf.appendToIndex(stored, skewed, "vec_id", "embedding",
      model)
    assert(skewApp.stats.needsRetrain)
    assert(skewApp.stats.maxCellSize >= 900)
    // a frame that is not an inverted file is rejected loudly, not
    // consumed as one
    val err2 = intercept[IllegalArgumentException] {
      Ivf.searchIndex(batch, batch, "vec_id", "embedding", model)
    }
    assert(err2.getMessage.contains("(id, v, cell)"))
  }

  test("ANN plans broadcast the query side (no corpus shuffle join)") {
    val plan = Similarity.bruteForceTopK(corpus, "vec_id", "embedding",
      corpus.filter($"vec_id" < 3), "vec_id", "embedding", k = 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("Broadcast"), s"no broadcast in:\n$plan")
  }

  test("ivfTopK picks broadcast vs shuffle join by query-side size") {
    import graft.similarity.Ivf
    val model = Ivf.train(corpus, "vec_id", "embedding", k = 4, iters = 1)
    val fewQueries = corpus.filter($"vec_id" < 3)
    // interactive regime: a handful of queries → broadcast, the corpus
    // never shuffles
    val small = Ivf.ivfTopK(corpus, "vec_id", "embedding", fewQueries,
      "vec_id", "embedding", model, k = 5)
    val smallPlan = small.queryExecution.executedPlan.toString
    assert(smallPlan.contains("BroadcastHashJoin"), s"expected broadcast:\n$smallPlan")
    // corpus-vs-corpus regime (forced via a tiny threshold): both sides
    // shuffle-join on cell — no corpus-sized broadcast
    val big = Ivf.ivfTopK(corpus, "vec_id", "embedding", corpus,
      "vec_id", "embedding", model, k = 5,
      broadcastThresholdBytes = 1L)
    val bigPlan = big.queryExecution.executedPlan.toString
    assert(!bigPlan.contains("BroadcastHashJoin"), s"unexpected broadcast:\n$bigPlan")
    assert(bigPlan.contains("ShuffledHashJoin") || bigPlan.contains("SortMergeJoin"),
      s"expected shuffle join:\n$bigPlan")
    // both paths return identical results for identical inputs
    val viaBroadcast = Ivf.ivfTopK(corpus, "vec_id", "embedding",
      fewQueries, "vec_id", "embedding", model, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    val viaShuffle = Ivf.ivfTopK(corpus, "vec_id", "embedding",
      fewQueries, "vec_id", "embedding", model, k = 5,
      broadcastThresholdBytes = 1L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(viaBroadcast == viaShuffle)
  }

  test("nearest_centroid matches the struct-argmax formulation " +
      "bit-for-bit (property over random vectors)") {
    import graft.functions.VectorFunctions
    import org.scalacheck.Gen
    import org.scalacheck.Prop.forAll
    val rnd = new scala.util.Random(7)
    val cents: Seq[Seq[Double]] =
      Seq.fill(5)(Seq.fill(8)(rnd.nextGaussian()))
    // the struct formulation this expression replaces
    def structArgmax(v: org.apache.spark.sql.Column) =
      array_max(array(cents.zipWithIndex.map { case (c, i) =>
        struct(VectorFunctions.cosine_sim(v, typedLit(c)).as("cos"),
          lit(i).as("cell"))
      }: _*)).getField("cell")
    val gen = Gen.listOfN(8, Gen.chooseNum(-5.0, 5.0))
    val prop = forAll(gen) { xs =>
      val df = Seq(Tuple1(xs)).toDF("v")
      val r = df.select(
        VectorFunctions.nearest_centroid($"v",
          typedLit(cents)).as("fast"),
        structArgmax($"v").as("ref")).collect().head
      r.getInt(0) == r.getInt(1)
    }
    org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(50),
      prop).passed || (throw new AssertionError("property failed"))
  }

  test("nearest_centroid edge cases: ties to the LATER cell, zero " +
      "vector, empty matrix, codegen/interpreted agreement") {
    import graft.functions.VectorFunctions
    // duplicate centroids → equal cosines → the later cell wins, like
    // array_max's (cos, cell) struct order
    val dup: Seq[Seq[Double]] = Seq(Seq(1.0, 0.0), Seq(1.0, 0.0),
      Seq(0.0, 1.0))
    val df = Seq(Tuple1(Seq(2.0, 0.0)), Tuple1(Seq(0.0, 0.0)))
      .toDF("v")
    val rows = df.select(VectorFunctions.nearest_centroid($"v",
      typedLit(dup)).as("c")).collect()
    assert(rows(0).getInt(0) == 1) // tie between cells 0 and 1 → 1
    // zero vector: every cosine is 0.0 → all tie → last cell
    assert(rows(1).getInt(0) == 2)
    // empty matrix → null
    val empty = df.select(VectorFunctions.nearest_centroid($"v",
      typedLit(Seq.empty[Seq[Double]])).as("c")).collect()
    assert(empty.forall(_.isNullAt(0)))
    // interpreted eval (e.g. inside a filter pushed to a scan) agrees
    // with codegen
    val expr = graft.functions.NearestCentroid(
      org.apache.spark.sql.GraftSqlShims.expression(
        $"v".cast("array<double>")),
      org.apache.spark.sql.GraftSqlShims.expression(
        typedLit(dup).cast("array<array<double>>")))
    val interp = df.select(org.apache.spark.sql.GraftSqlShims
      .column(expr).as("c")).collect()
    assert(interp.map(_.getInt(0)).toSeq == rows.map(_.getInt(0)).toSeq)
  }
}
