package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Packing

class PackingSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // two shards; token counts chosen to exercise exact-fit, overflow,
  // and an oversize document
  private lazy val docs = Seq(
    ("a", 1L, 400L), ("a", 2L, 400L), ("a", 3L, 300L), // 3 overflows @1000
    ("a", 4L, 1500L),                                  // oversize
    ("a", 5L, 100L),
    ("b", 10L, 1000L),                                 // exact fit
    ("b", 11L, 1L)
  ).toDF("src", "doc_id", "n_tokens")

  test("packSequential cuts the concatenated stream every capacity tokens") {
    val out = Packing.packSequential(docs, "doc_id", "n_tokens",
      capacity = 1000, shardCol = "src")
      .orderBy("shard", "doc_id")
      .select("shard", "doc_id", "start_offset", "window_idx")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    assert(out.toSeq == Seq(
      ("a", 1L, 0L, 0L), ("a", 2L, 400L, 0L), ("a", 3L, 800L, 0L),
      ("a", 4L, 1100L, 1L), ("a", 5L, 2600L, 2L),
      ("b", 10L, 0L, 0L), ("b", 11L, 1000L, 1L)))
  }

  test("packGreedy never splits a doc and closes windows on overflow") {
    val out = Packing.packGreedy(docs, "doc_id", "n_tokens",
      capacity = 1000, shardCol = "src")
      .orderBy("shard", "id")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(3),
        r.getLong(4), r.getBoolean(5)))
    assert(out.toSeq == Seq(
      // 400+400 fits; 300 overflows -> w1; 1500 oversize -> w2 alone;
      // 100 can't join the oversize window -> w3
      ("a", 1L, 0L, 400L, false), ("a", 2L, 0L, 800L, false),
      ("a", 3L, 1L, 300L, false), ("a", 4L, 2L, 1500L, true),
      ("a", 5L, 3L, 100L, false),
      ("b", 10L, 0L, 1000L, false), ("b", 11L, 1L, 1L, false)))
  }

  test("greedy windows respect capacity except for oversize singletons") {
    val big = (1L to 500L).map(i => ("s", i, (i % 97) + 1))
      .toDF("src", "doc_id", "n_tokens")
    val out = Packing.packGreedy(big, "doc_id", "n_tokens",
      capacity = 128, shardCol = "src")
    val fills = out.groupBy("window_idx")
      .agg(sum("n_tokens").as("total"), max("oversize").as("over"))
      .collect()
    fills.foreach { r =>
      assert(r.getBoolean(2) || r.getLong(1) <= 128,
        s"window ${r.getLong(0)} overflows: ${r.getLong(1)}")
    }
    // deterministic under repartitioning
    val again = Packing.packGreedy(big.repartition(7), "doc_id",
      "n_tokens", capacity = 128, shardCol = "src")
      .orderBy("id").collect().map(_.toSeq)
    assert(out.orderBy("id").collect().map(_.toSeq).toSeq == again.toSeq)
  }

  test("packSequential is one shuffle on the shard key") {
    val plan = Packing.packSequential(docs, "doc_id", "n_tokens",
      capacity = 1000, shardCol = "src")
      .queryExecution.executedPlan.toString
    assert(plan.split("Exchange").length - 1 == 1, plan)
  }
}
