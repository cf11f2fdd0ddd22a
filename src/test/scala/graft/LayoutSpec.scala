package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.lake.Layout
import graft.util.TempDirs

class LayoutSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("zValue interleaves bits (known values)") {
    // x=0b11, y=0b01 with 2 bits → bits: x0→out0, y0→out1, x1→out2,
    // y1→out3 → 0b0111 = 7
    val r = Seq((3L, 1L)).toDF("x", "y")
      .select(Layout.zValue(Seq($"x", $"y"), bits = 2)).head.getLong(0)
    assert(r == 7L)
    // identity for a single column
    val one = Seq(12345L).toDF("x")
      .select(Layout.zValue(Seq($"x"), bits = 16)).head.getLong(0)
    assert(one == 12345L)
  }

  test("scaleToRank clamps and spans the range") {
    val df = Seq(-5.0, 0.0, 50.0, 100.0, 200.0).toDF("v")
      .select(Layout.scaleToRank($"v", 0.0, 100.0, bits = 8).as("r"))
    val rs = df.collect().map(_.getLong(0))
    assert(rs(0) == 0L)             // clamped below
    assert(rs(1) == 0L)
    assert(rs(2) == 127L)           // midpoint ≈ 255/2
    assert(rs(3) == 255L)
    assert(rs(4) == 255L)           // clamped above
  }

  test("z-ordered files have small bounding boxes in BOTH dimensions") {
    val n = 20000
    val rnd = new scala.util.Random(3)
    val pts = (1 to n).map(_ => (rnd.nextDouble() * 1000,
      rnd.nextDouble() * 1000)).toDF("x", "y")
    val dir = TempDirs.create("zorder").toFile.getPath
    val files = 16
    Layout.zOrderBy(pts, Seq(("x", 0.0, 1000.0), ("y", 0.0, 1000.0)),
      numFiles = files).write.mode("overwrite").parquet(dir)
    // read each physical file separately; its per-file x/y extents must
    // be much smaller than the global 1000×1000 extent — that locality
    // is exactly what row-group min/max pruning exploits
    val parts = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getPath)
    assert(parts.length >= files / 2, s"expected ~$files files")
    val spans = parts.map { p =>
      val r = spark.read.parquet(p)
        .agg(max($"x") - min($"x"), max($"y") - min($"y")).head
      (r.getDouble(0), r.getDouble(1))
    }
    val avgX = spans.map(_._1).sum / spans.length
    val avgY = spans.map(_._2).sum / spans.length
    // a single-column sort gives ~1000 span on the other axis; the Z
    // curve keeps both well under half the global extent on average
    assert(avgX < 500.0, s"avg x-span $avgX")
    assert(avgY < 500.0, s"avg y-span $avgY")
    // no rows lost
    assert(spark.read.parquet(dir).count() == n)
  }

  test("compact merges small files losslessly") {
    val dir = TempDirs.create("compact-in").toFile.getPath
    val out = TempDirs.create("compact-out").toFile.getPath
    spark.range(1000).repartition(50).write.mode("overwrite").parquet(dir)
    val inFiles = new java.io.File(dir).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(inFiles >= 40)
    val rows = Layout.compact(spark, dir, out, numFiles = 2)
    assert(rows == 1000L)
    val outFiles = new java.io.File(out).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(outFiles == 2)
  }

  test("file-stats manifest prunes range-clustered files; pruned " +
      "read equals the full-scan filter; edge cases behave") {
    import org.apache.spark.sql.functions._
    val spark2 = spark
    import spark2.implicits._
    val dir = TempDirs.create("graft-skip").toString
    (1 to 1000).map(i => (i.toLong, i % 100))
      .toDF("v", "payload")
      .repartitionByRange(10, col("v"))
      .write.mode("overwrite").parquet(dir)
    val manifest = Layout.collectFileStats(spark, dir, Seq("v"))
    assert(manifest.count() == 10)
    // a narrow band hits a small fraction of the 10 range files
    val cands = Layout.candidateFiles(manifest, "v",
      lit(150L), lit(250L))
    assert(cands.nonEmpty && cands.size <= 3,
      s"range band must prune to <=3 of 10 files, got ${cands.size}")
    // exactness: pruned read == full-scan filter
    val pruned = Layout.prunedRead(spark, dir, manifest, "v",
      lit(150L), lit(250L)).select("v").collect()
      .map(_.getLong(0)).sorted.toSeq
    assert(pruned == (150L to 250L))
    // out-of-range band: zero candidates, empty frame, schema intact
    val empty = Layout.prunedRead(spark, dir, manifest, "v",
      lit(5000L), lit(6000L))
    assert(empty.count() == 0)
    assert(empty.columns.toSeq == Seq("v", "payload"))
    // an all-null stats column never matches a range
    val nulldir = TempDirs.create("graft-skip-null").toString
    Seq[(java.lang.Long, Int)]((null, 1), (null, 2)).toDF("v", "payload")
      .coalesce(1).write.mode("overwrite").parquet(nulldir)
    val nullman = Layout.collectFileStats(spark, nulldir, Seq("v"))
    assert(Layout.candidateFiles(nullman, "v",
      lit(0L), lit(100L)).isEmpty)
  }

  test("stale manifest raises instead of silently under-reading") {
    val dir = TempDirs.create("graft-stale").toString
    spark.range(100).toDF("v")
      .coalesce(2).write.mode("overwrite").parquet(dir)
    val manifest = Layout.collectFileStats(spark, dir, Seq("v"))
      .collect() // snapshot BEFORE the append
    val snap = spark.createDataFrame(
      spark.sparkContext.parallelize(manifest.toIndexedSeq),
      Layout.collectFileStats(spark, dir, Seq("v")).schema)
    // rows 100..199 land in new files the snapshot knows nothing about
    spark.range(100, 200).toDF("v")
      .coalesce(1).write.mode("append").parquet(dir)
    val e = intercept[IllegalArgumentException] {
      Layout.prunedRead(spark, dir, snap, "v", lit(0L), lit(500L))
        .count()
    }
    assert(e.getMessage.contains("stale manifest"))
    // opting out is explicit — and documented as under-reading
    val under = Layout.prunedRead(spark, dir, snap, "v",
      lit(0L), lit(500L), verifyFresh = false).count()
    assert(under == 100L)
  }

  test("distributed pruned read handles a 10k-file table without a " +
      "driver-side path list and matches the full-scan filter") {
    val spark2 = spark
    import spark2.implicits._
    val dir = TempDirs.create("graft-skip-10k").toString
    // 10,000 physical files, one narrow value range each
    spark.range(100000).select(col("id").as("v"))
      .repartitionByRange(10000, col("v"))
      .write.mode("overwrite").parquet(dir)
    val nFiles = new java.io.File(dir).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(nFiles >= 10000, s"expected >=10k files, got $nFiles")
    val manifest = graft.dedup.Dedup.persistEager(
      Layout.collectFileStats(spark, dir, Seq("v")))
    try {
      // maxDriverFiles = 0 forces the semi-join path: the matched set
      // stays a DataFrame, candidateFiles/collect is never invoked
      val got = Layout.prunedReadDistributed(spark, dir, manifest, "v",
        lit(41200L), lit(41300L), maxDriverFiles = 0)
        .select("v").collect().map(_.getLong(0)).sorted.toSeq
      assert(got == (41200L to 41300L))
      // the small-count delegation returns the same rows
      val delegated = Layout.prunedReadDistributed(spark, dir, manifest,
        "v", lit(41200L), lit(41300L), maxDriverFiles = 100000)
        .select("v").collect().map(_.getLong(0)).sorted.toSeq
      assert(delegated == got)
    } finally graft.dedup.Dedup.releaseCaches()
  }
}
