package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.Dedup
import graft.util.{Checkpointing, TempDirs}

/** The reliable-checkpoint hook: with a session checkpoint dir
  * configured, every lineage-truncation site (iterative CC rounds,
  * curation stage boundaries, upsert staging) writes RELIABLE
  * checkpoints that survive executor loss; without one it falls back
  * to executor-local blocks. */
class CheckpointingSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def withCheckpointDir[T](body: String => T): T = {
    val dir = TempDirs.create("graft-reliable-ckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    try body(dir)
    finally spark.sparkContext.setCheckpointDir(null)
  }

  test("materialize uses RELIABLE checkpoints when a dir is configured") {
    withCheckpointDir { dir =>
      val out = Checkpointing.materialize(
        (1 to 100).toDF("v").filter(col("v") > 50))
      assert(out.count() == 50)
      // the data landed under the configured checkpoint dir
      val files = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(java.nio.file.Files.isRegularFile(_)).count()
      assert(files > 0, s"no checkpoint files under $dir")
      assert(out.rdd.toDebugString.contains("ReliableCheckpointRDD"),
        out.rdd.toDebugString)
    }
  }

  test("materialize falls back to local checkpoints without a dir") {
    assert(spark.sparkContext.getCheckpointDir.isEmpty)
    val out = Checkpointing.materialize((1 to 10).toDF("v"))
    assert(out.count() == 10)
    assert(out.rdd.toDebugString.contains("LocalCheckpointRDD"),
      out.rdd.toDebugString)
  }

  test("distributed connectedComponents runs on the reliable path " +
      "with unchanged results") {
    // two chains + an isolated pair; driverThreshold=0 forces the
    // distributed label-propagation loop (the iterative consumer of
    // the checkpoint policy)
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L),
      (20L, 21L)).toDF("idA", "idB")
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L)
    val reliable = withCheckpointDir { dir =>
      val r = Dedup.connectedComponents(edges, driverThreshold = 0L)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val files = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(java.nio.file.Files.isRegularFile(_)).count()
      assert(files > 0, "CC rounds did not write reliable checkpoints")
      r
    }
    assert(reliable == expected)
    // same answer on the local-checkpoint path
    val local = Dedup.connectedComponents(edges, driverThreshold = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(local == expected)
  }
}
