package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.dq._
import graft.transform.Transforms

class DqdlSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("IsComplete fails on nulls, passes on complete columns") {
    val df = Seq(Some("a"), Some("b"), None).toDF("c")
    val v = Dqdl.evaluate(df, Ruleset("t", Seq(IsComplete("c"))))
    assert(!v.passed)
    assert(v.metrics("null_c") == 1L)
    val ok = Dqdl.evaluate(Seq("a", "b").toDF("c"),
      Ruleset("t", Seq(IsComplete("c"))))
    assert(ok.passed)
  }

  test("ColumnLength exact-length semantics") {
    val df = Seq("abcdefgh", "12345678").toDF("id")
    assert(Dqdl.evaluate(df, Ruleset("t", Seq(ColumnLength("id", 8)))).passed)
    assert(!Dqdl.evaluate(df, Ruleset("t", Seq(ColumnLength("id", 7)))).passed)
  }

  test("Uniqueness is Glue's exactly-once ratio, not distinctness") {
    val df = (1 to 99).map(_.toString).toDF("u")
      .union(Seq("1").toDF("u")) // value "1" appears twice
    // 98 of 100 rows hold a value occurring exactly once → 0.98
    // (distinctness would say 99/100 = 0.99 — strictly more lenient)
    val v = Dqdl.evaluate(df, Ruleset("t", Seq(Uniqueness("u", 0.95))))
    assert(v.passed)
    assert(v.metrics("uniq_ratio_u") == 0.98)
    assert(!Dqdl.evaluate(df, Ruleset("t", Seq(Uniqueness("u", 0.98)))).passed)
    // Glue reference case: 92 singletons + 4 values ×2 = 100 rows → 0.92
    val glue = Dqdl.evaluate(
      ((101 to 192).map(_.toString) ++
        Seq("a", "b", "c", "d").flatMap(x => Seq(x, x))).toDF("u"),
      Ruleset("t", Seq(Uniqueness("u", 0.95))))
    assert(glue.metrics("uniq_ratio_u") == 0.92)
    assert(!glue.passed)
    // approx distinctness variant: rsd 1% comfortably resolves 0.99 vs 0.5
    assert(Dqdl.evaluate(df,
      Ruleset("t", Seq(ApproxDistinctness("u", 0.9)))).passed)
  }

  test("uniqueness ratio is always within [0, 1] (property)") {
    import org.scalacheck.Gen
    import org.scalacheck.Prop.forAll
    // exactly-once semantics: the ratio IS 0 when every value repeats
    // (e.g. [x, x]) — the lower bound is inclusive, unlike distinctness
    val prop = forAll(Gen.nonEmptyListOf(Gen.chooseNum(0, 20))) { xs =>
      val df = xs.map(_.toString).toDF("u")
      val v = Dqdl.evaluate(df, Ruleset("t", Seq(Uniqueness("u", 0.5))))
      val r = v.metrics("uniq_ratio_u").asInstanceOf[Double]
      r >= 0.0 && r <= 1.0
    }
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(10), prop)
    assert(res.passed, res.status.toString)
  }

  test("ColumnValues predicate violations") {
    val df = Seq(1.0, 1.99, 2.0, 2.5).toDF("price")
    val v = Dqdl.evaluate(df,
      Ruleset("t", Seq(ColumnValues("price", _ <= 2))))
    assert(!v.passed)
    assert(v.metrics("violations_price") == 1L)
  }

  test("UniqueKey and NotNull (dbt tests)") {
    val df = Seq(Some(1), Some(2), Some(2), None).toDF("k")
    val v = Dqdl.evaluate(df,
      Ruleset("t", Seq(UniqueKey("k"), NotNull("k"))))
    assert(!v.passed)
    assert(v.metrics("dup_rows_k") == 1L)
    assert(v.metrics("null_k") == 1L)
    assert(v.ruleResults("unique_k") == false)
    assert(v.ruleResults("not_null_k") == false)
  }

  test("a repeated rule, and IsComplete beside NotNull, share one metric") {
    val df = Seq((Some(1), "a"), (Some(1), "a"), (Some(2), "b"),
      (None, "b")).toDF("k", "p")
    val repeated = Ruleset("t", Seq(IsComplete("k"), IsComplete("k"),
      Uniqueness("k", 0.4), Uniqueness("k", 0.4)))
    val v = Dqdl.evaluate(df, repeated)
    assert(!v.passed)
    assert(v.metrics("null_k") == 1L)
    // 2 and NULL occur once: 2 of 4 rows
    assert(v.metrics("uniq_ratio_k") == 0.5)
    assert(v.ruleResults == Map("is_complete_k" -> false,
      "uniqueness_k" -> true))
    val byPart = Dqdl.evaluateByPartition(df, repeated, "p")
      .select("p", "is_complete_k_passed", "uniqueness_k_passed")
      .as[(String, Boolean, Boolean)].collect().sorted.toSeq
    assert(byPart == Seq(("a", true, false), ("b", false, true)))
    val paired = Ruleset("t", Seq(IsComplete("k"), NotNull("k")))
    val withNull = Dqdl.evaluate(df, paired)
    assert(withNull.ruleResults == Map("is_complete_k" -> false,
      "not_null_k" -> false))
    val complete = Dqdl.evaluate(df.filter($"k".isNotNull), paired)
    assert(complete.passed)
    assert(complete.ruleResults == Map("is_complete_k" -> true,
      "not_null_k" -> true))
    // one name, two thresholds: one verdict would go unchecked
    intercept[IllegalArgumentException](Dqdl.evaluate(df, Ruleset("t",
      Seq(Uniqueness("k", 0.4), Uniqueness("k", 0.6)))))
  }

  test("RowCount / Completeness / MeanInRange rules") {
    val df = Seq(Some(1.0), Some(2.0), Some(3.0), None).toDF("v")
    val v = Dqdl.evaluate(df, Ruleset("t", Seq(
      RowCount(">", 3L), RowCount("<=", 4L),
      Completeness("v", 0.7), MeanInRange("v", 1.5, 2.5))))
    assert(v.passed)
    assert(v.metrics("complete_ratio_v") == 0.75)
    assert(v.metrics("mean_v") == 2.0) // (1+2+3)/3 over non-null
    assert(!Dqdl.evaluate(df, Ruleset("t", Seq(RowCount(">", 4L)))).passed)
    assert(!Dqdl.evaluate(df, Ruleset("t",
      Seq(Completeness("v", 0.8)))).passed)
    assert(!Dqdl.evaluate(df, Ruleset("t",
      Seq(MeanInRange("v", 0.0, 1.0)))).passed)
  }

  test("parser handles RowCount/Completeness/Mean rules") {
    val rs = DqdlParser.parse("vol",
      """Rules = [ RowCount > 10, Completeness "email" > 0.9,
        | Mean "price" between 0 and 2 ]""".stripMargin)
    assert(rs.rules == Seq(RowCount(">", 10L),
      Completeness("email", 0.9), MeanInRange("price", 0.0, 2.0)))
  }

  test("parser handles widened Glue rules (exists/unique/stats/between)") {
    val rs = DqdlParser.parse("wide",
      """Rules = [ ColumnExists "v", IsUnique "k",
        | StandardDeviation "v" between 0 and 10, Sum "v" > 5,
        | DistinctValuesCount "k" = 3,
        | ColumnValues "v" between 1 and 100 ]""".stripMargin)
    assert(rs.rules.collect { case ColumnExists(c) => c } == Seq("v"))
    assert(rs.rules.collect { case UniqueKey(c) => c } == Seq("k"))
    assert(rs.rules.collect { case StdDevInRange(c, lo, hi) =>
      (c, lo, hi) } == Seq(("v", 0.0, 10.0)))
    assert(rs.rules.collect { case SumCmp(c, op, v) => (c, op, v) } ==
      Seq(("v", ">", 5.0)))
    assert(rs.rules.collect { case DistinctCount(c, op, n) =>
      (c, op, n) } == Seq(("k", "=", 3L)))
    val df = Seq(("a", 2.0), ("b", 4.0), ("c", 6.0)).toDF("k", "v")
    val verdict = Dqdl.evaluate(df, rs)
    assert(verdict.passed, verdict.toString)
    // sample stddev of {2,4,6} = 2; sum = 12; 3 distinct keys
    assert(math.abs(verdict.metrics("stddev_v")
      .asInstanceOf[Double] - 2.0) < 1e-12)
    assert(verdict.metrics("sum_v_gt_5") == 12.0)
    assert(verdict.metrics("distinct_k_eq_3") == 3L)
    // failure paths: missing column, duplicate key, wrong cardinality
    assert(!Dqdl.evaluate(df, Ruleset("t",
      Seq(ColumnExists("nope")))).passed)
    val dup = Seq(("a", 2.0), ("a", 4.0)).toDF("k", "v")
    assert(!Dqdl.evaluate(dup, Ruleset("t", Seq(UniqueKey("k")))).passed)
    assert(!Dqdl.evaluate(dup, Ruleset("t",
      Seq(DistinctCount("k", "=", 3L)))).passed)
    assert(!Dqdl.evaluate(df, Ruleset("t",
      Seq(SumCmp("v", "<", 10.0)))).passed)
    assert(!Dqdl.evaluate(df, Ruleset("t",
      Seq(ColumnValues("v", _.between(1.0, 3.0))))).passed)
  }

  test("CustomSql evaluates over the `primary` view via a side pass") {
    val df = Seq(1.0, 2.0, 3.0, -4.0).toDF("v")
    val rs = DqdlParser.parse("custom",
      """Rules = [ CustomSql "SELECT count(*) FROM primary WHERE v < 0" = 1,
        | RowCount > 3 ]""".stripMargin)
    assert(rs.rules.collect { case CustomSql(sql, op, v) =>
      (op, v) } == Seq(("=", 1.0)))
    val verdict = Dqdl.evaluate(df, rs)
    assert(verdict.passed, verdict.toString)
    assert(!Dqdl.evaluate(df, Ruleset("t", Seq(
      CustomSql("SELECT count(*) FROM primary WHERE v < 0", "=", 0.0)
    ))).passed)
    // two DIFFERENT CustomSql rules coexist (hash-tagged aliases),
    // and so do two thresholds over the SAME statement (tiered)
    val both = Dqdl.evaluate(df, Ruleset("t", Seq(
      CustomSql("SELECT count(*) FROM primary WHERE v < 0", "=", 1.0),
      CustomSql("SELECT max(v) FROM primary", "<=", 3.0),
      CustomSql("SELECT max(v) FROM primary", "<=", 1.0))))
    assert(!both.passed, both.toString)
    assert(both.ruleResults.count(_._2) == 2, both.toString)
    // a multi-row metric query fails loudly, not nondeterministically
    intercept[IllegalArgumentException] {
      Dqdl.evaluate(df, Ruleset("t", Seq(CustomSql(
        "SELECT v, count(*) FROM primary GROUP BY v", ">", 0.0))))
    }
    // per-partition evaluation rejects CustomSql loudly (no silent
    // wrong answers — the side pass has no per-partition compilation)
    intercept[IllegalArgumentException] {
      Dqdl.evaluateByPartition(df.selectExpr("v", "'a' AS p"),
        Ruleset("t", Seq(CustomSql(
          "SELECT count(*) FROM primary", ">", 0.0))), "p").collect()
    }
  }

  test("CustomSql restores a pre-existing `primary` view and is race-safe") {
    // a user's own temp view named `primary` must survive rule
    // evaluation intact (previously it was replaced then dropped)
    val user = Seq(("mine", 42)).toDF("tag", "n")
    user.createOrReplaceTempView("primary")
    try {
      val df = Seq(1.0, 2.0).toDF("v")
      val verdict = Dqdl.evaluate(df, Ruleset("t", Seq(
        CustomSql("SELECT count(*) FROM primary", "=", 2.0))))
      assert(verdict.passed, verdict.toString) // rule saw the RULE frame
      val restored = spark.sql("SELECT tag, n FROM primary").collect()
      assert(restored.map(r => (r.getString(0), r.getInt(1))).toSeq
        == Seq(("mine", 42)))
    } finally spark.catalog.dropTempView("primary")
    // with no pre-existing view, evaluation leaves the catalog clean
    Dqdl.evaluate(Seq(1.0).toDF("v"), Ruleset("t", Seq(
      CustomSql("SELECT count(*) FROM primary", "=", 1.0))))
    assert(!spark.catalog.tableExists("primary"))
    // concurrent rulesets serialize on the shared view name: each
    // rule's SQL must read ITS OWN frame, never the other's
    val a = Seq.fill(10)(1.0).toDF("v")
    val b = Seq.fill(20)(1.0).toDF("v")
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val runs = Seq(a -> 10.0, b -> 20.0, a -> 10.0, b -> 20.0)
    val verdicts = Await.result(Future.sequence(runs.map {
      case (df, expect) => Future(Dqdl.evaluate(df, Ruleset("t", Seq(
        CustomSql("SELECT count(*) FROM primary", "=", expect)))))
    }), 2.minutes)
    assert(verdicts.forall(_.passed), verdicts.map(_.ruleResults))
  }

  test("CustomSql rule tags use a 64-bit digest (no 32-bit collisions)") {
    // a classic java hashCode collision pair: distinct statements that
    // would have aliased each other under the old sql.hashCode tag
    val s1 = "Aa"
    val s2 = "BB"
    assert(s1.hashCode == s2.hashCode) // the collision is real in 32 bits
    assert(CustomSql.digest64(s1) != CustomSql.digest64(s2))
    assert(CustomSql.digest64(s1).length == 16) // 8 bytes hex
    // deterministic across instances (alias stability)
    assert(CustomSql("SELECT 1", ">", 0.0).name
      == CustomSql("SELECT 1", ">", 0.0).name)
  }

  test("cross-table rules: ReferentialIntegrity and RowCountMatch") {
    val orders = Seq((1L, 10L), (2L, 10L), (3L, 20L), (4L, 99L),
      (5L, 20L)).toDF("oid", "cust")
    val customers = Seq(10L, 20L, 30L).toDF("cid")
    val rs = DqdlParser.parse("x",
      """Rules = [ ReferentialIntegrity "cust" "customer.cid" >= 0.8,
        | RowCountMatch "customer" > 1,
        | RowCountMatch "customer" > 2 ]""".stripMargin)
    assert(rs.rules.collect {
      case ReferentialIntegrity(c, r, rc, op, v) => (c, r, rc, op, v)
    } == Seq(("cust", "customer", "cid", ">=", 0.8)))
    val v = Dqdl.evaluate(orders, rs, Map("customer" -> customers))
    // 4 of 5 orders have a live customer: 0.8 >= 0.8 passes
    assert(v.ruleResults(
      "referential_integrity_cust_customer_cid_ge_0p8"), v.toString)
    assert(v.metrics("ri_cust_customer_cid_ge_0p8") == 0.8)
    // 5/3 ≈ 1.67: > 1 passes, > 2 fails
    assert(v.ruleResults("row_count_match_customer_gt_1"))
    assert(!v.ruleResults("row_count_match_customer_gt_2"))
    assert(!v.passed)
    // a null FK counts as unmatched, not as a match
    val withNull = orders.union(
      Seq((6L, Option.empty[Long])).toDF("oid", "cust"))
    val v2 = Dqdl.evaluate(withNull, Ruleset("n", Seq(
      ReferentialIntegrity("cust", "customer", "cid", ">", 0.7))),
      Map("customer" -> customers))
    assert(v2.metrics("ri_cust_customer_cid_gt_0p7")
      == 4.0 / 6.0)
    // an EMPTY reference is a FAILED rule (the missing feed this rule
    // exists to flag), never a null-unboxing crash
    val vEmpty = Dqdl.evaluate(orders, Ruleset("e", Seq(
      RowCountMatch("customer", ">=", 0.1),
      ReferentialIntegrity("cust", "customer", "cid", ">", 0.0))),
      Map("customer" -> customers.limit(0)))
    assert(!vEmpty.passed)
    assert(vEmpty.ruleResults.values.forall(_ == false))
    // ... and so is an empty primary for a ratio rule
    assert(!Dqdl.evaluate(orders.limit(0), Ruleset("p", Seq(
      ReferentialIntegrity("cust", "customer", "cid", ">", 0.0))),
      Map("customer" -> customers)).passed)
    // missing reference frame fails loudly, naming the source
    val e = intercept[IllegalArgumentException] {
      Dqdl.evaluate(orders, rs, Map.empty)
    }
    assert(e.getMessage.contains("customer"))
    // per-partition evaluation rejects cross-frame rules loudly
    intercept[IllegalArgumentException] {
      Dqdl.evaluateByPartition(orders, rs, "cust")
    }
  }

  test("DatasetMatch reconciles keyed rows null-safely, any-match") {
    val primary = Seq((1L, Some(10.0), "a"), (2L, Some(20.0), "b"),
      (3L, Option.empty[Double], "c"), (4L, Some(40.0), "d"))
      .toDF("k", "price", "tag")
    val ref = Seq((1L, Some(10.0), "a"),      // exact match
      (2L, Some(99.0), "b"),                  // price drifted
      (3L, Option.empty[Double], "c"),        // null == null (null-safe)
      (5L, Some(50.0), "e"))                  // key 4 missing
      .toDF("k", "price", "tag")
    val rs = DqdlParser.parse("dm",
      """Rules = [ DatasetMatch "ref" "k" >= 0.5 ]""")
    assert(rs.rules.head == DatasetMatch("ref", Seq("k"), ">=", 0.5))
    // matched: k=1 (all equal), k=3 (nulls equal null-safely) → 2/4
    val v = Dqdl.evaluate(primary, rs, Map("ref" -> ref))
    assert(v.passed, v.toString)
    assert(v.metrics("matched_rows_ref_k_ge_0p5") == 2L)
    // restricting matchCols to tag: drift in price is ignored → 3/4
    val v2 = Dqdl.evaluate(primary, Ruleset("dm2", Seq(
      DatasetMatch("ref", Seq("k"), "=", 0.75, Seq("tag")))),
      Map("ref" -> ref))
    assert(v2.passed, v2.toString)
    // duplicate reference keys stay deterministic (any-match): one of
    // two ref rows matches → the row counts as matched, exactly once
    val dupRef = ref.union(Seq((2L, Some(20.0), "b"))
      .toDF("k", "price", "tag"))
    val v3 = Dqdl.evaluate(primary, Ruleset("dm3", Seq(
      DatasetMatch("ref", Seq("k"), "=", 0.75))),
      Map("ref" -> dupRef))
    assert(v3.passed, v3.toString)
    // two rules differing ONLY in matchCols must not alias each other
    // (same ref/keys/op/value → the tag carries a matchCols digest)
    val tagOnly = DatasetMatch("ref", Seq("k"), ">=", 0.5, Seq("tag"))
    val priceOnly = DatasetMatch("ref", Seq("k"), ">=", 0.5, Seq("price"))
    assert(tagOnly.name != priceOnly.name)
    val v4 = Dqdl.evaluate(primary, Ruleset("dm4",
      Seq(tagOnly, priceOnly)), Map("ref" -> ref))
    // tag matches for k=1,2,3 → 3/4 passes; price for k=1,3 → 2/4 passes
    assert(v4.ruleResults(tagOnly.name), v4.toString)
    assert(v4.ruleResults(priceOnly.name), v4.toString)
  }

  test("identical fusable cross rules dedupe in the fused ref scan") {
    val orders = Seq((1L, 10L), (2L, 20L)).toDF("oid", "cust")
    val customers = Seq(10L, 20L, 30L).toDF("cid")
    // the SAME RowCountMatch twice: one fused agg must not carry the
    // alias twice (ambiguous col at verdict time); the rule evaluates
    // once and both (identical) names resolve to the one result
    val v = Dqdl.evaluate(orders, Ruleset("dup", Seq(
      RowCountMatch("customer", ">", 0.5),
      RowCountMatch("customer", ">", 0.5))),
      Map("customer" -> customers))
    assert(v.ruleResults("row_count_match_customer_gt_0p5"), v.toString)
    assert(v.passed)
  }

  test("SchemaMatch scores name+type overlap against a reference frame") {
    val a = Seq((1L, "x", 1.0)).toDF("id", "name", "score")
    val sameUpToCase = Seq((2L, "y", 2.0)).toDF("ID", "Name", "Score")
    val drifted = Seq((1L, 1, 1.0)).toDF("id", "name", "extra")
    val rs = DqdlParser.parse("s",
      """Rules = [ SchemaMatch "ref" >= 0.99 ]""")
    assert(rs.rules.head == SchemaMatch("ref", ">=", 0.99))
    // identical up to case and order → 1.0
    assert(Dqdl.evaluate(a, rs, Map("ref" -> sameUpToCase)).passed)
    // drifted: `name` type changed, `score`/`extra` disjoint →
    // matched {id} of union {id,name,score,extra} = 0.25
    val v = Dqdl.evaluate(a, Ruleset("s", Seq(
      SchemaMatch("ref", ">", 0.2))), Map("ref" -> drifted))
    assert(v.metrics("schema_match_ratio_ref_gt_0p2") == 0.25)
    assert(v.passed)
    // no scan of either side: the verdict plan touches no FileScan
    val plan = Dqdl.evaluateDf(a, Ruleset("s", Seq(
        SchemaMatch("ref", "=", 1.0))), Map("ref" -> a))
      .queryExecution.optimizedPlan.toString
    assert(!plan.toLowerCase.contains("filescan"), plan)
  }

  test("DataFreshness parses from DQDL with a supplied asOf instant") {
    val asOf = java.sql.Timestamp.valueOf("2024-01-01 12:00:00")
    val rs = DqdlParser.parse("f",
      """Rules = [ DataFreshness "ts" <= 24 hours, RowCount > 0 ]""",
      asOf = Some(asOf))
    assert(rs.rules.head == DataFreshness("ts", 86400L, asOf))
    assert(DqdlParser.parse("f2",
      """Rules = [ DataFreshness "ts" <= 90 minutes ]""",
      asOf = Some(asOf)).rules.head ==
      DataFreshness("ts", 5400L, asOf))
    // freshness without an instant fails loudly (no hidden now())
    val e = intercept[IllegalArgumentException] {
      DqdlParser.parse("f3", """Rules = [ DataFreshness "ts" <= 1 day ]""")
    }
    assert(e.getMessage.contains("asOf"))
  }

  test("DataFreshness compares max event time against an explicit asOf") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val df = Seq(ts("2024-01-01 10:00:00"), ts("2024-01-01 11:30:00"))
      .toDF("ts")
    val asOf = ts("2024-01-01 12:00:00")
    // newest event 30 min old: passes a 1h bound, fails a 10min bound
    val ok = Dqdl.evaluate(df, Ruleset("t",
      Seq(DataFreshness("ts", 3600L, asOf))))
    assert(ok.passed)
    assert(ok.metrics("lag_seconds_ts_3600s") == 1800L)
    // tiered freshness on one column: threshold-tagged aliases coexist
    val tiered = Dqdl.evaluate(df, Ruleset("t", Seq(
      DataFreshness("ts", 600L, asOf), DataFreshness("ts", 3600L, asOf))))
    assert(!tiered.ruleResults("freshness_ts_600s"))
    assert(tiered.ruleResults("freshness_ts_3600s"))
    assert(!Dqdl.evaluate(df, Ruleset("t",
      Seq(DataFreshness("ts", 600L, asOf)))).passed)
    // an all-null column has no freshness — fail, not pass-by-null
    val nulls = Seq(Option.empty[java.sql.Timestamp]).toDF("ts")
    assert(!Dqdl.evaluate(nulls, Ruleset("t",
      Seq(DataFreshness("ts", 3600L, asOf)))).passed)
  }

  test("SchemaDiff classifies drift: additive ok, removal/retype breaking") {
    import org.apache.spark.sql.types._
    val expected = StructType(Seq(StructField("id", LongType),
      StructField("name", StringType)))
    assert(SchemaDiff.diff(expected, expected).isEmpty)
    val widened = expected.add(StructField("extra", DoubleType))
    val add = SchemaDiff.diff(expected, widened)
    assert(!add.breaking && add.added.map(_._1) == Seq("extra"))
    SchemaDiff.requireCompatible(expected, widened) // no throw
    val dropped = StructType(Seq(StructField("id", LongType)))
    assert(SchemaDiff.diff(expected, dropped).breaking)
    val retyped = StructType(Seq(StructField("id", StringType),
      StructField("name", StringType)))
    val r = SchemaDiff.diff(expected, retyped)
    assert(r.breaking && r.retyped.head._1 == "id")
    intercept[IllegalArgumentException] {
      SchemaDiff.requireCompatible(expected, retyped)
    }
    // name matching is case-insensitive (Spark's resolution)
    val cased = StructType(Seq(StructField("ID", LongType),
      StructField("Name", StringType)))
    assert(SchemaDiff.diff(expected, cased).isEmpty)
  }

  test("tiered same-op rules on one column do not collide") {
    val df = Seq(("a", 2.0), ("b", 4.0), ("c", 6.0)).toDF("k", "v")
    // two Sum > rules and two DistinctValuesCount = rules on the same
    // column: value-carrying aliases keep them apart in the shared agg
    val v = Dqdl.evaluate(df, Ruleset("tiered", Seq(
      SumCmp("v", ">", 5.0), SumCmp("v", ">", 100.0),
      DistinctCount("k", "=", 3L), DistinctCount("k", "=", 4L))))
    assert(!v.passed)
    assert(v.ruleResults("sum_v_gt_5"))
    assert(!v.ruleResults("sum_v_gt_100"))
    assert(v.ruleResults("distinct_k_eq_3"))
    assert(!v.ruleResults("distinct_k_eq_4"))
  }

  test("StandardDeviation does not overflow integral columns") {
    // values ~4e9: squaring in LongType would wrap; the double-first
    // form stays finite and correct
    val big = Seq(4000000000L, 4000000002L, 4000000004L).toDF("v")
    val v = Dqdl.evaluate(big,
      Ruleset("t", Seq(StdDevInRange("v", 1.9, 2.1))))
    assert(v.passed, v.toString) // sample stddev of {0,2,4}+c = 2
  }

  test("ColumnExists composes with per-partition evaluation") {
    val df = Seq(("p1", 1.0), ("p1", 2.0), ("p2", 3.0)).toDF("p", "v")
    val out = Dqdl.evaluateByPartition(df, Ruleset("t", Seq(
      ColumnExists("v"), IsComplete("v"))), "p").collect()
    assert(out.length == 2)
    assert(out.forall(_.getAs[Boolean]("column_exists_v_passed")))
    assert(out.forall(_.getAs[Boolean]("all_passed")))
  }

  test("parser handles in-set ColumnValues (bracket-nested commas)") {
    val rs = DqdlParser.parse("set",
      """Rules = [ ColumnValues "status" in ["A", "B"], RowCount > 1 ]""")
    assert(rs.rules.length == 2)
    val df = Seq("A", "B", "A").toDF("status")
    assert(Dqdl.evaluate(df, rs).passed)
    val bad = Seq("A", "X").toDF("status")
    assert(!Dqdl.evaluate(bad,
      DqdlParser.parse("set2",
        """Rules = [ ColumnValues "status" in ["A", "B"] ]""")).passed)
    // a quoted value containing a comma stays ONE value
    val comma = DqdlParser.parse("set3",
      """Rules = [ ColumnValues "status" in ["A,B", "C"] ]""")
    assert(Dqdl.evaluate(Seq("A,B", "C").toDF("status"), comma).passed)
    assert(!Dqdl.evaluate(Seq("A").toDF("status"), comma).passed)
    assert(!Dqdl.evaluate(Seq("B").toDF("status"), comma).passed)
  }

  test("UniqueCombination catches composite-key duplicates") {
    val ok = Seq((1, "a"), (1, "b"), (2, "a")).toDF("k1", "k2")
    assert(Dqdl.evaluate(ok,
      Ruleset("t", Seq(UniqueCombination(Seq("k1", "k2"))))).passed)
    val dup = ok.union(Seq((1, "a")).toDF("k1", "k2"))
    val v = Dqdl.evaluate(dup,
      Ruleset("t", Seq(UniqueCombination(Seq("k1", "k2")))))
    assert(!v.passed)
    assert(v.metrics("dup_rows_2k1_2k2") == 1L)
    // a null in any key column excludes the row (countDistinct skips
    // it) — must NOT be counted as a duplicate
    val withNull = Seq((Some(1), Some("a")), (Some(2), None))
      .toDF("k1", "k2")
    assert(Dqdl.evaluate(withNull,
      Ruleset("t", Seq(UniqueCombination(Seq("k1", "k2"))))).passed)
  }

  test("evaluateByPartition isolates the bad increment") {
    val df = Seq(
      ("2020-02", Some(1), 1.0), ("2020-02", Some(2), 1.5),
      ("2020-03", None, 9.0), ("2020-03", Some(3), 0.5),
      ("2020-03", Some(3), 0.7)).toDF("ingest_on", "k", "price")
    val out = Dqdl.evaluateByPartition(df, Ruleset("t", Seq(
      IsComplete("k"), Uniqueness("k", 0.5),
      ColumnValues("price", _ <= 2.0))), "ingest_on")
      .collect().map(r => r.getAs[String]("ingest_on") ->
        r.getAs[Boolean]("all_passed")).toMap
    assert(out == Map("2020-02" -> true, "2020-03" -> false))
    // a NULL partition value keeps its verdict row even with a
    // Uniqueness side-pass in play (null-safe join)
    val withNullPart = df.union(
      Seq((null.asInstanceOf[String], Some(9), 1.0),
        (null.asInstanceOf[String], Some(9), 1.0))
        .toDF("ingest_on", "k", "price"))
    val rows = Dqdl.evaluateByPartition(withNullPart, Ruleset("t", Seq(
      IsComplete("k"), Uniqueness("k", 0.5))), "ingest_on").collect()
    assert(rows.length == 3)
    val nullRow = rows.find(_.isNullAt(0)).get
    assert(!nullRow.getAs[Boolean]("all_passed")) // 9 duplicated → 0.0
  }

  test("parser round-trips random rule mixes (property)") {
    import org.scalacheck.Gen
    import org.scalacheck.Prop.forAll
    val colGen = Gen.identifier.suchThat(_.nonEmpty).map(_.take(10))
    val ruleGen: org.scalacheck.Gen[String] = Gen.oneOf(
      colGen.map(c => s"""IsComplete "$c""""),
      for { c <- colGen; n <- Gen.chooseNum(1, 64) }
        yield s"""ColumnLength "$c" = $n""",
      for { c <- colGen; t <- Gen.chooseNum(1, 99) }
        yield s"""Uniqueness "$c" > 0.$t""",
      for { n <- Gen.chooseNum(1, 100000) } yield s"RowCount > $n",
      for { c <- colGen; lo <- Gen.chooseNum(0, 10); hi <- Gen.chooseNum(11, 99) }
        yield s"""Mean "$c" between $lo and $hi""",
      colGen.map(c => s"""ColumnExists "$c""""),
      colGen.map(c => s"""IsUnique "$c""""),
      for { c <- colGen; lo <- Gen.chooseNum(0, 10); hi <- Gen.chooseNum(11, 99) }
        yield s"""StandardDeviation "$c" between $lo and $hi""",
      for { c <- colGen; op <- Gen.oneOf("<=", ">=", "<", ">", "=", "!=");
            v <- Gen.chooseNum(-1000, 1000) }
        yield s"""Sum "$c" $op $v""",
      for { c <- colGen; op <- Gen.oneOf("<=", ">=", "<", ">", "=", "!=");
            n <- Gen.chooseNum(0, 10000) }
        yield s"""DistinctValuesCount "$c" $op $n""",
      for { c <- colGen; lo <- Gen.chooseNum(-50, 0); hi <- Gen.chooseNum(1, 50) }
        yield s"""ColumnValues "$c" between $lo and $hi""")
    val prop = forAll(Gen.nonEmptyListOf(ruleGen)) { rules =>
      val parsed = DqdlParser.parse("fuzz",
        rules.mkString("Rules = [ ", ", ", " ]"))
      parsed.rules.length == rules.length
    }
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(50), prop)
    assert(res.passed, res.status.toString)
  }

  test("the reference's three rulesets pass on conforming fixtures") {
    val songs = Transforms.enforceSongsSchema(Fixtures.songsDf(spark))
    assert(Dqdl.evaluate(songs, Dqdl.songsRuleset).passed)
    val sessions = Transforms.explodeSessions(
      Fixtures.sessionsDf(spark, month = 2))
    assert(Dqdl.evaluate(sessions, Dqdl.sessionsRuleset).passed)
    val users = Transforms.flattenUserLocation(
      Fixtures.usersDf(spark, month = 2))
    assert(Dqdl.evaluate(users, Dqdl.usersRuleset).passed)
  }

  test("KAnonymity verdicts, exposed-row metric, and vacuous empty pass") {
    val df = Seq(
      ("us", "a"), ("us", "a"), ("us", "a"),
      ("de", "b"), ("de", "b"), ("fr", "c")).toDF("country", "seg")
    val v3 = Dqdl.evaluate(df, Ruleset("t",
      Seq(KAnonymity(Seq("country", "seg"), 3))))
    assert(!v3.passed)
    // suppression set: the (de,b) pair and the (fr,c) singleton
    assert(v3.metrics("exposed_rows_3_7country_3seg") == 3L)
    assert(v3.metrics("min_group_3_7country_3seg") == 1L)
    val v1 = Dqdl.evaluate(df, Ruleset("t",
      Seq(KAnonymity(Seq("country", "seg"), 1))))
    assert(v1.passed)
    // tiered thresholds coexist: aliases carry k
    val both = Dqdl.evaluate(df, Ruleset("t", Seq(
      KAnonymity(Seq("country", "seg"), 1),
      KAnonymity(Seq("country", "seg"), 3))))
    assert(both.ruleResults("k_anonymity_1_7country_3seg"))
    assert(!both.ruleResults("k_anonymity_3_7country_3seg"))
    // empty table: no group is smaller than k (vacuous pass, not null)
    val empty = Dqdl.evaluate(df.filter("false"), Ruleset("t",
      Seq(KAnonymity(Seq("country"), 5))))
    assert(empty.passed)
    assert(empty.metrics("exposed_rows_5_7country") == 0L)
  }

  test("KAnonymity parses from DQDL text") {
    val rs = DqdlParser.parse("t",
      """Rules = [ KAnonymity "country,seg" >= 4 ]""")
    assert(rs.rules == Seq(KAnonymity(Seq("country", "seg"), 4)))
  }

  test("plain-aggregate rules compile to a single aggregation pass") {
    val df = Fixtures.usersDf(spark, month = 2)
    val noUniq = Dqdl.usersRuleset.copy(rules =
      Dqdl.usersRuleset.rules.filterNot(_.isInstanceOf[Uniqueness]))
    val plan = Dqdl.evaluateDf(df, noUniq)
      .queryExecution.optimizedPlan.toString
    // one Aggregate over the scan — no joins/unions of per-rule scans
    assert(!plan.contains("Join"))
    assert(!plan.contains("Union"))
    // Uniqueness adds exactly one side aggregation (a 1×1 cross join),
    // never a union of per-rule scans
    val full = Dqdl.evaluateDf(df, Dqdl.usersRuleset)
      .queryExecution.optimizedPlan.toString
    assert(!full.contains("Union"))
  }
}
