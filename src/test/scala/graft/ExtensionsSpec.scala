package graft

import org.scalatest.funsuite.AnyFunSuite

/** What [[GraftSession]] installs, pinned on the shared test session
  * (which it builds): the SQL functions and optimizer rules of
  * GraftExtensions, and the UTC session time zone. */
class ExtensionsSpec extends AnyFunSuite {

  test("withExtensions registers the SQL functions session-wide") {
    val spark = SparkTestSession.spark
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    val r = spark.sql(
      """SELECT cosine_sim(array(1.0, 0.0), array(1.0, 0.0)) AS c,
        |dot_product(array(1.0, 2.0), array(3.0, 4.0)) AS d,
        |size(minhash_sig(array(1L, 2L, 3L), 8)) AS m,
        |size(shingle_hashes(array('a','b','c','d'), 3)) AS s
        |""".stripMargin).collect().head
    assert(r.getDouble(0) == 1.0)
    assert(r.getDouble(1) == 11.0)
    assert(r.getInt(2) == 8)
    assert(r.getInt(3) == 2)
    // float arrays work through the cast (the SQL-path crash probe)
    val f = spark.sql(
      "SELECT cosine_sim(array(CAST(1.0 AS FLOAT)), array(CAST(1.0 AS FLOAT)))")
      .collect().head.getDouble(0)
    assert(f == 1.0)
    // z_value registered as a raw catalyst tree; must agree with the
    // Column-API Layout.zValue
    val z = spark.sql("SELECT z_value(3, 1) AS z").collect().head
    // x=0b11 → out bits 0 and 2; y=0b01 → out bit 1 → 0b0111 = 7
    // (same as LayoutSpec's Column-API zValue known-values case)
    assert(z.getLong(0) == 7L)
    // hash_embed + bpe_segment_words through SQL
    val he = spark.sql(
      """SELECT hash_embed(array('ab', 'ab'), 8) AS v,
        |bpe_segment_words(array('merger'),
        |  array(array('e','r'), array('m','er'))) AS s""".stripMargin)
      .collect().head
    assert(he.getSeq[Double](0).sum == 2.0)
    assert(he.getSeq[String](1) == Seq("mer", "g", "er"))
    // nearest_centroid through SQL: ties go to the LATER cell
    val nc = spark.sql(
      """SELECT nearest_centroid(array(1.0, 0.0),
        |array(array(0.0, 1.0), array(1.0, 0.0))) AS c""".stripMargin)
      .collect().head
    assert(nc.getInt(0) == 1)
    // the KMV aggregate family through SQL: the analyzer must wrap
    // the raw TypedImperativeAggregates in AggregateExpressions, and
    // values must agree with the Column API (KMinValuesSpec replays)
    val kmv = spark.sql(
      """SELECT kmv_distinct(h, 8) AS d,
        |  size(kmv_sketch(h, 8)) AS sk,
        |  size(kmv_sample(h, CAST(v AS DOUBLE), 4)) AS sp
        |FROM (SELECT CAST(conv(substr(md5(CAST(CAST(id AS STRING)
        |    AS BINARY)), 1, 12), 16, 10) AS BIGINT) AS h,
        |  id AS v FROM range(6))""".stripMargin).collect().head
    assert(kmv.getLong(0) == 6L) // under-filled -> exact
    assert(kmv.getInt(1) == 6)
    assert(kmv.getInt(2) == 4)
    // non-foldable k → clear analysis error, not an internal
    // unbound-reference failure (ADVICE r1)
    val err = intercept[Exception] {
      spark.sql(
        """SELECT minhash_sig(array(1L), CAST(id AS INT))
          |FROM range(3)""".stripMargin).collect()
    }
    assert(err.getMessage.contains("foldable") ||
      err.getMessage.contains("NON_FOLDABLE"),
      s"expected a foldable-argument error, got: ${err.getMessage}")
  }

  test("BandJoinRewrite turns a naive range join into a band equi-join") {
    val spark = SparkTestSession.spark
    // 5 users × 40 events, 10 min apart, interleaved across users
    spark.sql(
      """SELECT id, id % 5 AS u, timestamp_micros(id * 600000000) AS ts
        |FROM range(200)""".stripMargin).createOrReplaceTempView("ev")
    def keyedDf() = spark.sql(
      """SELECT a.id AS ida, b.id AS idb FROM ev a JOIN ev b
        |ON a.u = b.u AND b.ts >= a.ts
        |AND b.ts <= a.ts + INTERVAL 1 HOUR AND a.id < b.id
        |""".stripMargin)
    def gens(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.collect {
        case g: org.apache.spark.sql.catalyst.plans.logical.Generate => g }
    // a join that already has an equi-key does NOT rewrite by default
    // (the band pays an extra exchange; only hot keys profit)
    assert(gens(keyedDf()).isEmpty,
      "keyed range join rewrote without opt-in")
    // opted in, the rewrite engages: Explode feeds the join and the
    // condition carries the internal band-bin equality
    spark.conf.set(graft.plans.BandJoinRewrite.KeyedConf, "true")
    val df = keyedDf()
    val opt = df.queryExecution.optimizedPlan
    assert(gens(df).nonEmpty, s"no Generate in plan:\n$opt")
    val binCond = opt.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join =>
        j.condition.map(_.references.map(_.name)
          .exists(_.startsWith("__graft_band_bin"))).getOrElse(false) }
    assert(binCond.contains(true), s"no band-bin equi-key in:\n$opt")
    // and it is semantics-preserving: pairs match the reference
    // computed in plain Scala
    val expected = (for {
      a <- 0 until 200; b <- 0 until 200
      if a % 5 == b % 5 && b > a && (b - a) * 600L <= 3600L
    } yield (a.toLong, b.toLong)).toSet
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expected,
      s"missing=${(expected -- got).take(5)} extra=${(got -- expected).take(5)}")
    spark.conf.unset(graft.plans.BandJoinRewrite.KeyedConf)
    // keyless range join — the shape that degenerates to a nested-
    // loop cross product: the band bin hands Spark an equi-key, so
    // the physical plan hash/merge-joins instead
    val keyless = spark.sql(
      """SELECT a.id FROM ev a JOIN ev b
        |ON b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 1 HOUR
        |""".stripMargin)
    val phys = keyless.queryExecution.executedPlan.toString
    assert(!phys.contains("BroadcastNestedLoopJoin"),
      s"range join still plans as a nested loop:\n$phys")
    // pairs with 0 <= delta <= 6 steps of 10 min over ids 0..199
    assert(keyless.count() == 194L * 7 + 21)
    // no upper bound → no band to exploit → rule must NOT fire
    val open = spark.sql(
      """SELECT a.id FROM ev a JOIN ev b
        |ON a.u = b.u AND b.ts >= a.ts""".stripMargin)
    assert(open.queryExecution.optimizedPlan.collect {
      case g: org.apache.spark.sql.catalyst.plans.logical.Generate => g
    }.isEmpty, "rewrite fired without an upper bound")
  }
}
