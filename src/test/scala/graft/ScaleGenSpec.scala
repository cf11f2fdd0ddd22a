package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType, TimestampNTZType}
import org.scalatest.funsuite.AnyFunSuite

import graft.tools.ScaleGen
import graft.util.{Tables, TempDirs}

class ScaleGenSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"
  private val tables = Seq("lineitem", "orders", "customer", "supplier",
    "part", "nation", "region", "events", "documents", "embeddings")

  private def generated(m: Int): String = {
    val out = TempDirs.create(s"scalegen-x$m").toString
    ScaleGen.generate(spark, sf, m, out)
    out
  }
  private lazy val x3 = generated(3)

  private def load(dir: String, name: String) = Tables.load(spark, dir, name)
  private def sameRows(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  test("x1 equals the base in footer schema and rows") {
    val x1 = generated(1)
    tables.foreach { t =>
      assert(Tables.parquetSchema(spark, s"$x1/$t.parquet") ==
        Tables.parquetSchema(spark, s"$sf/$t.parquet"), t)
      assert(sameRows(load(x1, t), load(sf, t)), t)
    }
  }

  test("x3 holds three times the base rows, nation and region once") {
    tables.foreach { t =>
      val want = load(sf, t).count() *
        (if (t == "nation" || t == "region") 1 else 3)
      assert(load(x3, t).count() == want, t)
    }
  }

  test("every foreign key of x3 resolves to a row of its parent table") {
    def dangling(child: String, fk: String, parent: String, pk: String) =
      load(x3, child).filter(col(fk).isNotNull)
        .join(load(x3, parent), col(fk) === col(pk), "left_anti").count()
    assert(dangling("lineitem", "l_orderkey", "orders", "o_orderkey") == 0)
    assert(dangling("lineitem", "l_partkey", "part", "p_partkey") == 0)
    assert(dangling("lineitem", "l_suppkey", "supplier", "s_suppkey") == 0)
    assert(dangling("orders", "o_custkey", "customer", "c_custkey") == 0)
  }

  test("two runs write identical rows in identical order") {
    val again = generated(3)
    tables.foreach { t =>
      assert(load(x3, t).collect().toSeq == load(again, t).collect().toSeq, t)
    }
  }

  test("events.ts stays timestamp_ntz and embedding array<float>") {
    assert(load(x3, "events").schema("ts").dataType == TimestampNTZType)
    assert(load(x3, "embeddings").schema("embedding").dataType ==
      ArrayType(FloatType, containsNull = true))
    // replica 0 keeps the base ts; the others move within ±30 min
    val base = load(sf, "events").select(col("event_id"), col("ts").as("t0"))
    val moved = load(x3, "events")
      .select((col("event_id") / 3).cast("long").as("event_id"),
        (col("event_id") % 3).as("r"), col("ts"))
      .join(base, "event_id")
      .select(col("r"), abs(unix_micros(col("ts").cast("timestamp")) -
        unix_micros(col("t0").cast("timestamp"))).as("d"))
    assert(moved.filter(col("r") === 0 && col("d") =!= 0).isEmpty)
    assert(moved.filter(col("d") > 1800L * 1000000).isEmpty)
    assert(!moved.filter(col("r") > 0 && col("d") > 0).isEmpty)
  }
}
