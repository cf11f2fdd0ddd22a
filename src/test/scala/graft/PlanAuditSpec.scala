package graft

import org.apache.spark.sql.execution.{FileSourceScanExec, GenerateExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ReusedExchangeExec, ShuffleExchangeExec}
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan audits for the breadth slate: asserts each query
  * compiles to the shape that survives a 100× scale-up — broadcast
  * where a dim meets a fact, no cartesian products, pushdown reaching
  * the scan, windows/aggregations without redundant exchanges. These
  * are the `.explain("formatted")` checks from development, pinned as
  * regressions.
  */
class PlanAuditSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, sf).queryExecution.executedPlan.toString

  test("edit joins: no cartesian, no output-keyed aggregate, and the " +
      "pair dedup is a join residual (k=1 and k=2)") {
    Seq("q_edit_join", "q_edit_join_k2", "q_edit_join_lookup")
      .foreach { q =>
        val p = plan(q)
        assert(!p.contains("CartesianProduct"), s"$q:\n$p")
        // the candidate pipeline streams verified pairs: nothing ever
        // aggregates or sorts on the output pair columns (that was
        // r11's 41 GB spill at k=2 ×10)
        assert(!p.contains("keys=[id_a") && !p.contains("keys=[left_id"),
          s"$q:\n$p")
        // the first-match dedup rides the plan as the native
        // expression, not an exchange
        assert(p.contains("first_seg_match"), s"$q:\n$p")
      }
  }

  test("set-similarity joins on a small-vocab corpus take the mask " +
      "path: one equi-join, scalar residuals, no array verify") {
    Seq("q_set_sim_join", "q_containment_join").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q:\n$p")
      // the testdata corpus's vocabulary fits in 64 bits, so
      // similarity + threshold + pair dedup all evaluate as popcount
      // residuals ON the candidate join: no pair distinct, no
      // group-by on the output pair, no array_intersect verify join
      assert(p.contains("bit_count"), s"$q:\n$p")
      assert(!p.contains("array_intersect"), s"$q:\n$p")
      assert(!p.contains("keys=[idA"), s"$q:\n$p")
    }
  }

  test("set-similarity joins on a >64-token vocabulary fall back to " +
      "the array path: positional prefix filter + verify join, still " +
      "no cartesian") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val df = ((0L until 40L).map(i =>
      i -> ((i % 4) * 5 until (i % 4) * 5 + 12)
        .map(j => s"common$j").mkString(" ")) ++
      (100L until 170L).map(i => i -> s"solo${i}a solo${i}b solo${i}c"))
      .toDF("id", "text")
    val p = graft.operators.SetJoin
      .containmentJoin(df, "id", "text", 0.8)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p)
    // the exact verify intersects the probe's SUFFIX slice against
    // the container's tokens — the array path's signature op
    assert(p.contains("array_intersect"), p)
    assert(p.contains("slice"), p)
  }

  test("edit-join pre-flight never materializes candidates: per-key " +
      "counts map-side combine, join is key-sized, no verifier") {
    val p = plan("q_edit_join_preflight")
    assert(!p.contains("CartesianProduct"), p)
    // the two count aggregates map-side combine (shuffle = distinct
    // candidate keys, not candidate rows)
    assert(p.contains("partial_count"), p)
    assert("keys=\\[__i".r.findAllIn(p).length >= 2, p)
    // the estimate PRICES the candidate join without running it:
    // no banded levenshtein, no first-match residual in this plan
    assert(!p.contains("levenshtein") && !p.contains("first_seg_match"), p)
  }

  test("semi/anti joins broadcast the filtered order keys") {
    val p = plan("q_semi_anti_join")
    assert(p.contains("BroadcastHashJoin") || p.contains("LeftSemi") ||
      p.contains("LeftAnti"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("as-of join plans no join operator at all (union + window)") {
    val p = plan("q_asof_join")
    assert(!p.contains("Join"), p)
    assert(p.contains("Window"), p)
  }

  test("band join is a pure equi-join — no nested-loop fallback") {
    val p = plan("q_range_join_pairs")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), p)
  }

  test("pivot and cube compile to single-scan aggregations") {
    val pivot = plan("q_pivot_priority")
    // one scan of orders (pivot values are explicit — no discovery job)
    assert("Scan parquet".r.findAllIn(pivot).length == 1, pivot)
    val cube = plan("q_cube_sales")
    assert("Scan parquet".r.findAllIn(cube).length == 1, cube)
    assert(cube.contains("Expand"), cube)
  }

  test("scalar batteries stay narrow: no exchange in row-level queries") {
    for (q <- Seq("q_json_extract", "q_string_funcs", "q_zorder_value")) {
      val p = plan(q)
      assert(!p.contains("Exchange"), s"$q plans a shuffle:\n$p")
      assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"),
        s"$q fell out of codegen:\n$p")
    }
  }

  test("column pruning reaches the scan in projection queries") {
    // q_json_extract needs only 3 of events' 6 columns
    val p = plan("q_json_extract")
    val readSchema = "ReadSchema: [^\n]*".r.findFirstIn(p).getOrElse("")
    assert(readSchema.contains("event_id") && readSchema.contains("props"))
    assert(!readSchema.contains("user_id"),
      s"user_id not pruned from scan: $readSchema")
  }

  test("range predicates push into the parquet scan") {
    // (the PushedFilters list is truncated in toString — assert on the
    // individual pushed-filter entries instead of the bracketed list)
    val p = plan("q_incremental_window")
    assert(p.contains("PushedFilters: [IsNotNull(o_orderdate)"), p)
    assert(p.contains("GreaterThanOrEqual(o_orderdate"), p)
  }

  test("selective filters of TPC-H Q6 reach the scan") {
    val p = plan("q_tpch_q6")
    assert(p.contains("PushedFilters:"), p)
    assert(p.contains("IsNotNull(l_shipdate)") ||
      p.contains("GreaterThanOrEqual(l_shipdate"),
      s"Q6 shipdate filter not pushed:\n$p")
  }

  test("window battery: one exchange per distinct partitioning") {
    // q_window_analytics uses two window specs over the same partition
    // key (o_custkey) — they must share a single exchange
    val p = plan("q_window_analytics")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1, s"expected 1 hash exchange, got $exchanges:\n$p")
  }

  // A corpus-sized Window partitioned by the bare group column makes
  // a dominant group ONE task (AQE never splits window partitions) —
  // the samplers use groupScan's two-phase rank instead: every window
  // over corpus rows must carry the stamped range-partition id in its
  // partition spec. Windows keyed on __gsg run over the tiny
  // per-(partition, group) aggregate (≤ P rows per group — bounded by
  // the shuffle-partition setting, not the corpus) and are exempt.
  private def assertNoWholeGroupWindow(p: String, group: String): Unit = {
    val bare = ("""\], \[""" + group + """#\d+\], \[""").r
    assert(bare.findFirstIn(p).isEmpty,
      s"found a window partitioned by bare $group (whale = one task):\n$p")
  }

  test("stratified sample: two-phase rank — range exchange, no " +
      "whole-stratum window, sizes broadcast back") {
    val p = plan("q_stratified_sample")
    assertNoWholeGroupWindow(p, "lang")
    assert(p.contains("Exchange rangepartitioning"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("token-budget mixture: two-phase running sum — no " +
      "whole-group window, weights broadcast") {
    val p = plan("q_mix_tokens")
    assertNoWholeGroupWindow(p, "lang")
    assert(p.contains("Exchange rangepartitioning"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("best-per-group argmax is a pure hash aggregate — no window, " +
      "no sort") {
    val p = plan("q_best_per_group")
    assert(!p.contains("Window"), p)
    assert(!p.contains("Sort"), p)
    // partial + final aggregation around the single exchange
    assert(p.contains("HashAggregate") || p.contains("ObjectHashAggregate"), p)
  }

  test("bloom-pruned join probes before the large side's exchange") {
    val p = plan("q_bloom_join")
    assert(p.contains("might_contain"), p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("Spark injects a runtime bloom filter for a selective shuffled " +
      "fact-dim join (the automatic relative of q_bloom_join)") {
    import org.apache.spark.sql.functions.col
    // production defaults gate injection on 10 GB application-side
    // scans — at test SF nothing qualifies, so lower the size gates
    // (NOT the feature flags) to observe the mechanism itself; at
    // 100 TB the real scans clear the default thresholds on their own
    val overrides = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = overrides.map { case (k, _) =>
      k -> spark.conf.getOption(k) }
    try {
      overrides.foreach { case (k, v) => spark.conf.set(k, v) }
      val lt = graft.util.Tables.lineitem(spark, sf)
      val o = graft.util.Tables.orders(spark, sf)
        .filter(col("o_orderpriority") === "1-URGENT")
      val p = lt.join(o, lt("l_orderkey") === o("o_orderkey"))
        .queryExecution.executedPlan.toString
      // the probe side carries an injected might_contain filter even
      // though the query never asked for one — runtime row-group
      // pruning the engine relies on at scale
      assert(p.contains("might_contain"), p)
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  private def occurrences(p: String, token: scala.util.matching.Regex) =
    token.findAllMatchIn(p).size

  test("cross-table DQ verdict: primary scanned once, ref side tiny") {
    val p = plan("q_dq_referential")
    // the three rules (RI + two fused RowCountMatch tiers) must not
    // multiply scans: one scan of orders for the shared aggregation,
    // one for the RI join probe, ONE of customer for both row-count
    // tiers + one for the RI key distinct
    assert(occurrences(p, "Scan parquet".r) <= 4, p)
    // the 1-row side frames cross-join for free — but never a
    // cartesian between real tables
    assert(!p.contains("CartesianProduct"), p)
  }

  test("source-mix report is one aggregation pass over the corpus") {
    val p = plan("q_source_mix")
    // partial+final hash aggregate around a single SHUFFLE exchange on
    // the group keys (a broadcast exchange would not count); the
    // quality expression stays in the scan stage
    assert(occurrences(p, "(?<!Broadcast)Exchange".r) == 1, p)
    assert(!p.contains("ScalaUDF") && !p.contains("BatchEvalPython"), p)
  }

  test("repetition ratio is a narrow map — no exchange, no UDF") {
    val p = plan("q_text_repetition")
    assert(!p.contains("Exchange"), p)
    assert(!p.contains("ScalaUDF"), p)
  }

  test("TPC-H Q5: six-table join plans broadcasts, pushdown, no cartesian") {
    val p = plan("q_tpch_q5")
    // no cartesian anywhere in a 6-table join — the join graph is
    // fully connected by equi-keys
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    // the dim chain (region→nation→supplier/customer) broadcasts
    assert(p.contains("BroadcastHashJoin"), p)
    // the date window pushes into the orders scan, the region name
    // into the region scan
    assert(p.contains("GreaterThanOrEqual(o_orderdate"), p)
    assert(p.contains("EqualTo(r_name,ASIA)"), p)
    // lineitem's scan reads only the 4 needed of its 16 columns
    val lineitemSchema = "ReadSchema: [^\n]*l_extendedprice[^\n]*".r
      .findFirstIn(p).getOrElse("")
    assert(lineitemSchema.contains("l_suppkey") &&
      !lineitemSchema.contains("l_shipdate"),
      s"lineitem scan not pruned: $lineitemSchema")
  }

  test("simhash signature stage is codegen — no Scala UDF in the plan") {
    // the 64-bit SimHash is a fused Catalyst expression
    // (graft.functions.SimHash64); a ScalaUDF here would put per-row
    // encoder dispatch back on the 10^10-doc signature path
    val p = plan("q_dedup_simhash")
    assert(!p.contains("ScalaUDF") && !p.contains("BatchEvalPython"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("star fallback: rep rides the bucket aggregation; one broadcast " +
      "join, no second corpus shuffle") {
    // the overflowed-bucket fallback must attach the (keys, rep) rows
    // with a BROADCAST join — a shuffle join here re-exchanges the
    // payload-carrying bucketed frame (measured 3× job shuffle volume
    // at stress ×50 before the fix) — and the representative must come
    // out of capped_collect_with_rep itself, never a second
    // aggregation over re-scanned members
    val p = plan("q_dedup_capped_keep")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("capped_collect_with_rep"), p)
    // exactly one aggregate computes on the band/bucket key pair: the
    // capped collect itself (ReuseExchange-shared across its two
    // consumers); the old shape had a second min() re-aggregation
    assert(!p.contains("partial_min"), p)
    graft.dedup.Dedup.releaseCaches()
  }

  test("dataset-match reconciliation is a semi join, never a cartesian") {
    val p = plan("q_dq_dataset_match")
    assert(p.contains("LeftSemi"), p)
    // the verdict's 1-row side frames cross-join via a broadcast
    // nested loop (1×1 rows — free); what must never appear is a
    // shuffle cartesian between the real tables
    assert(!p.contains("CartesianProduct"), p)
  }

  test("Q7 joins nation twice without cartesians; ship-date pushes down") {
    val p = plan("q_tpch_q7")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    // both nation arms broadcast
    assert(p.contains("BroadcastHashJoin"), p)
    // the two-year ship-date window reaches the lineitem scan
    assert(p.contains("GreaterThanOrEqual(l_shipdate"), p)
    // lineitem reads only the 5 needed columns (assert the match
    // exists so a reformatted plan can't pass vacuously)
    val lineitemSchema = "ReadSchema: [^\n]*l_extendedprice[^\n]*".r
      .findFirstIn(p)
    assert(lineitemSchema.nonEmpty, s"no lineitem ReadSchema line:\n$p")
    assert(!lineitemSchema.get.contains("l_comment"), lineitemSchema.get)
  }

  test("sequence packing shuffles once on the shard key, no UDFs") {
    val p = plan("q_pack_sequential")
    assert("Exchange".r.findAllIn(p).length == 1, p)
    assert(!p.contains("ScalaUDF") && !p.contains("BatchEvalPython"), p)
  }

  test("Q10's top-20 is a TakeOrdered, never a global sort; filters push") {
    val p = plan("q_tpch_q10")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct"), p)
    // the returnflag filter reaches the lineitem scan
    assert(p.contains("EqualTo(l_returnflag,R)"), p)
  }

  test("language rebalancing broadcasts quotas against the two-phase " +
      "rank — no whole-language window") {
    val p = plan("q_lang_rebalance")
    assert(p.contains("BroadcastHashJoin"), p)
    assertNoWholeGroupWindow(p, "lang")
    assert(p.contains("Exchange rangepartitioning"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("bigram commonness joins counts back on the bigram key (no UDFs)") {
    val p = plan("q_text_bigram_commonness")
    assert(!p.contains("ScalaUDF") && !p.contains("CartesianProduct"), p)
    // the counts join must be a shuffled HASH join (build = aggregated
    // counts side) — sort-merge here sorts the fat occurrence side,
    // which was the one spill in the ×1..×100 scale matrix
    assert(p.contains("ShuffledHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("Q4's correlated EXISTS plans as a semi join with pushed window") {
    val p = plan("q_tpch_q4")
    assert(p.contains("LeftSemi"), p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    // the quarter window reaches the orders scan
    assert(p.contains("GreaterThanOrEqual(o_orderdate"), p)
  }

  test("Q8's eight-table join: no cartesian, date+type filters pushed") {
    val p = plan("q_tpch_q8")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("EqualTo(p_type,ECONOMY)"), p)
    assert(p.contains("GreaterThanOrEqual(o_orderdate"), p)
  }

  test("Q13 keeps zero-order customers: outer join, two aggregations") {
    val p = plan("q_tpch_q13")
    assert(p.contains("LeftOuter"), p)
    // customer scan reads only the key (a missed regex must FAIL, not
    // pass vacuously — assert the match exists first)
    val custSchema = "ReadSchema: [^\n]*c_custkey[^\n]*".r.findFirstIn(p)
    assert(custSchema.nonEmpty, s"no customer ReadSchema line found:\n$p")
    assert(!custSchema.get.contains("c_acctbal"), custSchema.get)
  }

  test("Q14's month filter reaches the lineitem scan; part joins narrow") {
    val p = plan("q_tpch_q14")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("GreaterThanOrEqual(l_shipdate"), p)
    // part contributes only (p_partkey, p_type)
    val partSchema = "ReadSchema: [^\n]*p_type[^\n]*".r.findFirstIn(p)
    assert(partSchema.nonEmpty, s"no part ReadSchema line:\n$p")
    assert(!partSchema.get.contains("p_retailprice"), partSchema.get)
  }

  test("Q15's max-revenue filter is a 1-row broadcast, not a window") {
    val p = plan("q_tpch_q15")
    assert(p.contains("BroadcastHashJoin") ||
      p.contains("BroadcastExchange"), p)
    assert(!p.contains("Window"),
      s"Q15 should not rank through an unpartitioned window:\n$p")
    assert(p.contains("GreaterThanOrEqual(l_shipdate"), p)
  }

  test("Q17 restricts the per-part average to the selected parts first") {
    val p = plan("q_tpch_q17")
    assert(p.contains("LeftSemi"), p)
    assert(!p.contains("CartesianProduct"), p)
    // brand/size selection reaches the part scan
    assert(p.contains("EqualTo(p_brand,Brand#3)"), p)
    // lineitem never reads more than the 3 needed columns (assert the
    // match exists so a reformatted plan can't pass vacuously)
    val liSchema = "ReadSchema: [^\n]*l_quantity[^\n]*".r.findFirstIn(p)
    assert(liSchema.nonEmpty, s"no lineitem ReadSchema line found:\n$p")
    assert(!liSchema.get.contains("l_shipdate"), liSchema.get)
  }

  test("Q18's HAVING join-back semi-joins orders; top-100 is TakeOrdered") {
    val p = plan("q_tpch_q18")
    assert(p.contains("LeftSemi"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("Q19's disjunctive predicate derives a part-side pushdown") {
    val p = plan("q_tpch_q19")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    // Catalyst derives a part-side disjunction (brand/size per branch,
    // plus the common p_size >= 1 conjunct) and pushes it to the scan
    assert(p.contains("GreaterThanOrEqual(p_size,1)"), p)
    assert(p.contains("And(EqualTo(p_brand"), p)
    // ...and the lineitem side gets the quantity disjunction
    assert(p.contains("GreaterThanOrEqual(l_quantity,1.0)"), p)
  }

  test("Q22 anti-joins date-pruned orders under a 1-row threshold") {
    val p = plan("q_tpch_q22")
    assert(p.contains("LeftAnti"), p)
    assert(!p.contains("CartesianProduct"), p)
    // the recent-orders window reaches the orders scan
    assert(p.contains("GreaterThanOrEqual(o_orderdate"), p)
  }

  test("span dedup stays UDF-free: codegen chunking, one winner agg") {
    val p = plan("q_dedup_chunks")
    assert(!p.contains("ScalaUDF") && !p.contains("BatchEvalPython"), p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    // winner election is a hash aggregate (min(struct) — no window
    // rank over the span population)
    assert(p.contains("HashAggregate"), p)
  }

  test("salted join: explode-replicated dim, no cartesian, no UDFs") {
    val p = plan("q_skew_salted_join")
    assert(p.contains("Generate"), p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("ScalaUDF"), p)
  }

  test("unpivot is one scan through a generator — no union of rescans") {
    val p = plan("q_unpivot_stack")
    assert(p.contains("Generate"), p)
    assert("Scan parquet".r.findAllIn(p).length == 1, p)
    assert(!p.contains("Exchange"), s"unpivot plans a shuffle:\n$p")
  }

  test("map battery stays narrow — no exchange, no UDF") {
    val p = plan("q_map_funcs")
    assert(!p.contains("Exchange"), p)
    assert(!p.contains("ScalaUDF") && !p.contains("BatchEvalPython"), p)
  }

  test("session_window groups in one exchange on the user key") {
    val p = plan("q_session_window")
    assert("Exchange".r.findAllIn(p).length == 1, p)
    assert(!p.contains("Join"), p)
  }

  test("Q2's part filter broadcasts into lineitem before the pair agg") {
    val p = plan("q_tpch_q2")
    assert(p.contains("LeftSemi"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // the type/size selection reaches the part scan
    assert(p.contains("EqualTo(p_type,LARGE)"), p)
    // lineitem reads only the 3 columns the derived partsupp needs
    val liSchema = "ReadSchema: [^\n]*l_extendedprice[^\n]*".r.findFirstIn(p)
    assert(liSchema.nonEmpty, s"no lineitem ReadSchema line:\n$p")
    assert(!liSchema.get.contains("l_quantity"), liSchema.get)
  }

  test("Q9's name filter pushes to the part scan; no cartesian in the " +
      "6-way join") {
    val p = plan("q_tpch_q9")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("LeftSemi"), p)
    // LIKE 'red%' becomes a StartsWith pushed into the parquet scan
    assert(p.contains("StringStartsWith(p_name,red)"), p)
  }

  test("Q11's grand total is a 1-row broadcast against the value table") {
    val p = plan("q_tpch_q11")
    // the 1-row total side may frame as a broadcast nested loop (1×n is
    // free); what must never appear is a shuffle cartesian
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin") ||
      p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("Q12's receipt-year window reaches the lineitem scan") {
    val p = plan("q_tpch_q12")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("GreaterThanOrEqual(l_shipdate"), p)
  }

  test("Q16 anti-joins the complaint list broadcast; pairs distinct " +
      "before counting") {
    val p = plan("q_tpch_q16")
    assert(p.contains("LeftSemi"), p)
    assert(p.contains("LeftAnti"), p)
    assert(!p.contains("CartesianProduct"), p)
    // the size IN-list reaches the part scan
    assert(p.contains("In(p_size"), p)
  }

  test("Q20's correlated threshold: name filter pushes, semi-join chain") {
    val p = plan("q_tpch_q20")
    assert(p.contains("LeftSemi"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("StringStartsWith(p_name,small)"), p)
  }

  test("Q21 scans lineitem ONCE: window aggregates replace the SQL's " +
      "two correlated self-joins") {
    val p = plan("q_tpch_q21")
    assert(p.contains("Window"), p)
    assert(!p.contains("CartesianProduct"), p)
    // lineitem + orders + supplier + nation — four scans total; the
    // correlated EXISTS/NOT-EXISTS evidence rides the one joined frame
    assert("Scan parquet".r.findAllIn(p).length <= 4, p)
    // the status filter reaches the orders scan
    assert(p.contains("EqualTo(o_orderstatus,F)"), p)
  }

  test("kNN graph takes the shuffle join — corpus never broadcasts") {
    val p = plan("q_ann_knn_graph")
    // the cell join must NOT be a broadcast of the corpus-sized query
    // side; the forced-zero threshold selects the shuffled hash join
    assert(p.contains("ShuffledHashJoin") || p.contains("SortMergeJoin"),
      p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("PQ ADC search broadcasts the query side and keeps encode in " +
      "whole-stage codegen") {
    val df = SparkEntry.queries("q_ann_pq")(spark, sf)
    df.collect() // force codegen compilation — a Janino overflow would
                 // log a fallback, and the shape below would still pass
    val p = df.queryExecution.executedPlan.toString
    // queries (with their LUTs) broadcast; the corpus side never moves
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"), p)
    // the corpus-side encode projection sits INSIDE a WholeStageCodegen
    // span: find the pq_encode line and check it is within a codegen
    // subtree (its operator line carries the codegen-stage asterisk)
    val encodeLine = p.linesIterator
      .find(l => l.contains("pq_encode")
        && (l.contains("Project") || l.contains("*")))
    assert(encodeLine.exists(_.contains("*")),
      s"pq_encode projection not codegen'd:\n$p")
  }

  test("IVF-PQ search joins MATERIALIZED codes on the cell id; the " +
      "index map itself stays in codegen") {
    import graft.similarity.{Ivf, Ivfpq}
    import graft.util.Tables
    val emb = Tables.embeddings(spark, sf)
    val ivf = Ivf.train(emb, "vec_id", "embedding", k = 16, iters = 2)
    val pq = Ivfpq.trainResidualPq(emb, "vec_id", "embedding", ivf)
    // the index projection (assign + residual + encode) is a codegen
    // narrow map (vec_sub is a native expression; zip_with would
    // break the span)
    val ip = Ivfpq.index(emb, "vec_id", "embedding", ivf, pq)
      .queryExecution.executedPlan.toString
    val idxLine = ip.linesIterator.find(_.contains("pq_encode"))
    assert(idxLine.exists(_.contains("*")),
      s"ivfpq index projection not codegen'd:\n$ip")
    assert(!ip.contains("zip_with"), "HOF left in the indexing path")
    // the SEARCH plan reads the materialized index — codes are never
    // recomputed behind the join (left as lineage, the join's
    // isnotnull(cell) filter pushes the full interpreted assignment
    // into the parquet scan: measured 10x the search)
    val sp = SparkEntry.queries("q_ann_ivfpq")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(sp.contains("BroadcastHashJoin"), sp)
    assert(!sp.contains("CartesianProduct"), sp)
    assert(!sp.contains("pq_encode"),
      s"search must read materialized codes, not re-encode:\n$sp")
  }

  test("BM25 filters to query terms BEFORE any shuffle; df broadcasts; " +
      "top-k is TakeOrdered") {
    val p = plan("q_bm25")
    // the isin filter sits directly on the Generate output, upstream
    // of the (doc,term) aggregation — only matching tokens ever
    // shuffle
    assert("Filter \\(token#\\d+ IN \\(spark,vector,merge\\)".r
      .findFirstIn(p).isDefined, s"term filter not before the agg:\n$p")
    assert(p.contains("BroadcastHashJoin"), p)   // df side broadcasts
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("ScalaUDF"), p)
    // the only nested-loop is the deliberate 1-row stats cross-join
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).length <= 2, p)
  }

  test("sliding chunking is a shuffle-free narrow generator") {
    val p = plan("q_chunk_sliding")
    assert(!p.contains("Exchange"), s"chunking plans a shuffle:\n$p")
    assert(p.contains("Generate explode"), p)
    assert(!p.contains("ScalaUDF") && !p.contains("BatchEvalPython"), p)
    assert(p.contains("WholeStageCodegen") || p.contains("*(1)"), p)
  }

  test("BPE segmentation is one native codegen map + one count " +
      "shuffle, UDF-free") {
    val p = plan("q_bpe_segment")
    assert(!p.contains("ScalaUDF"), s"BPE fold fell out of expressions:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1,
      s"expected exactly the vocab-count shuffle:\n$p")
    // the native expression replaced the nested interpreted folds
    assert(p.contains("bpe_segment_words"), p)
    assert(!p.contains("aggregate("),
      s"interpreted fold left in the segmentation path:\n$p")
  }

  test("semantic dedup joins on the cell key — no cartesian, ids-only " +
      "dominated set") {
    val p = plan("q_dedup_semantic")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("LeftAnti"), p)
    // the dominated-set aggregation carries ONLY the id column
    assert("HashAggregate\\(keys=\\[id#\\d+L\\], functions=\\[\\]".r
      .findFirstIn(p).isDefined, s"dominated set must be ids only:\n$p")
  }

  test("RAG search is a single-scan narrow pipeline ending in " +
      "TakeOrdered — zero shuffle") {
    val p = plan("q_rag_search")
    assert(!p.contains("Exchange"), s"rag search plans a shuffle:\n$p")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert("Scan parquet".r.findAllIn(p).length == 1, p)
    assert(p.contains("cosinesimilarity"), p) // the native expression
    assert(!p.contains("ScalaUDF"), p)
  }

  test("funnel runs three windows over ONE user-key shuffle") {
    val p = plan("q_funnel_steps")
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1,
      s"funnel must not re-shuffle between window passes:\n$p")
    assert("Window ".r.findAllIn(p).length == 3, p)
    assert("Sort ".r.findAllIn(p).length == 1,
      s"the windows must share one sort:\n$p")
  }

  test("SCD2 as-of lookup joins on the key equi-join — interval is a " +
      "residual, never a nested loop") {
    val p = plan("q_scd2_asof_lookup")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), p)
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"), p)
  }

  test("SCD2 historize is ONE shuffle on the key; both windows share it") {
    val p = plan("q_scd2_dim")
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1,
      s"historize must not re-shuffle between windows:\n$p")
    assert("Window ".r.findAllIn(p).length == 2, p)
    assert("Sort ".r.findAllIn(p).length == 1,
      s"the second window must reuse the first's sort:\n$p")
    assert(!p.contains("Join"), p)
  }

  test("edit join candidates come from a hash/merge equi-join on segments") {
    val p = plan("q_edit_join")
    // the long path's candidate join and the verify rejoins are all
    // equi-joins; the only nested-loop shapes allowed are the
    // value-level short-string cross joins (alphabet-bounded inputs)
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), p)
    val crossy = "CartesianProduct".r.findAllIn(p).length +
      "BroadcastNestedLoopJoin".r.findAllIn(p).length
    assert(crossy <= 3, s"only the bounded short-value crosses may nest:\n$p")
  }

  test("semantic decontamination broadcasts the BENCHMARK, anti-joins the corpus") {
    val p = plan("q_decontaminate_semantic")
    assert(p.contains("BroadcastNestedLoopJoin") &&
      p.contains("LeftAnti"), p)
    // exactly one broadcast exchange: the benchmark side; the corpus
    // must stream (a corpus broadcast would OOM the 100 TB run)
    assert("BroadcastExchange".r.findAllIn(p).length == 1, p)
    assert(!p.contains("ScalaUDF"), s"cosine must stay native:\n$p")
  }

  test("image near-dup candidates come from the chunk equi-join — " +
      "decode runs once per image, no all-pairs anywhere") {
    val p = plan("q_image_near_dup")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"pair generation must be the pigeonhole equi-join:\n$p")
    // the O(pixels) decode+hash UDF must appear below the join, never
    // re-evaluated per candidate pair: after the join only the 8-byte
    // hashes meet (bit_count over a join residual)
    assert("BatchEvalPython|ScalaUDF".r.findAllIn(
      p.linesIterator.filter(_.contains("Join")).mkString).isEmpty, p)
  }

  test("incremental ANN search joins the STORED index on its cell " +
      "column — no reassignment of the base corpus") {
    val p = plan("q_ann_incremental")
    // the stored inverted file joins queries on `cell`; assignment
    // (nearest_centroid over the k x dim matrix) may appear for the
    // BATCH and the query probes only — if the base were reassigned,
    // the parquet index scan would feed a nearest_centroid projection
    // before the join
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin") || p.contains("ShuffledHashJoin")
      || p.contains("SortMergeJoin"), p)
    val idxScanToJoin = p.linesIterator
      .filter(_.contains("graft-ann-idx")).mkString
    assert(!idxScanToJoin.contains("nearest_centroid"),
      s"stored index must be consumed as-is:\n$p")
  }

  test("resample scans the raw table once; fill and lead share one sort") {
    val p = plan("q_resample_gapfill")
    assert("Scan parquet".r.findAllIn(p).length == 1,
      s"lead-expansion must not re-scan events for the grid:\n$p")
    assert(!p.contains("Join"), s"no grid join:\n$p")
    // one shuffle for the (key,bucket) agg, one for the key window
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 2, p)
    assert("Sort ".r.findAllIn(p).length == 1,
      s"the fill window and the lead must share one sort:\n$p")
  }

  test("shard assignment ranks DISTRIBUTED: no single-partition sort " +
      "or window anywhere in the plan") {
    val p = plan("q_shard_balance")
    // the old form was Window over Exchange SinglePartition — one task
    // sorting the world; the range-partitioned rank must never
    // reintroduce a single-partition stage
    assert(!p.contains("Exchange SinglePartition"),
      s"single-partition stage in shard assignment:\n$p")
    assert(p.contains("Window"), p) // per-partition rank survives
    assert(p.contains("BroadcastHashJoin"),
      s"partition offsets must broadcast, not shuffle:\n$p")
  }

  test("triangle counting: wedges and closures are hash equi-joins, " +
      "no cartesian, no single-partition stage") {
    val p = plan("q_triangle_count")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("Exchange SinglePartition"), p)
    // wedge self-join + triangle closure + 2 degree joins + final
    // left join all hash/merge on node keys
    assert(p.contains("Join"), p)
  }

  test("boilerplate strip: frequent-line set broadcasts back against " +
      "the line table; line stats and char diversity stay narrow") {
    val p = plan("q_boilerplate_strip")
    // the df>=minDocs set is small by construction — it must come
    // back as a broadcast, never a second full shuffle of the corpus
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // df count map-side combines on the line key
    assert(p.contains("partial_count") || p.contains("partial"), p)
    // the per-doc passes are pure narrow maps
    Seq("q_dup_line_stats", "q_char_diversity").foreach { q =>
      val np = plan(q)
      assert(!np.contains("Exchange"), s"$q must not shuffle:\n$np")
      assert(!np.contains("BatchEvalPython") && !np.contains("ScalaUDF"),
        s"$q must stay codegen:\n$np")
    }
  }

  test("KMV sketch aggregates map-side: partial kmv_distinct under " +
      "one exchange on the group key") {
    import org.apache.spark.sql.functions.col
    import graft.functions.KmvFunctions._
    // the sketch alone: one exchange, partial sketches before it —
    // a billion-row group ships k longs, not its rows
    val alone = spark.read.parquet(s"$sf/documents.parquet")
      .groupBy(col("source"))
      .agg(kmv_distinct(kmv_hash48(col("text")), 16).as("e"))
      .queryExecution.executedPlan.toString
    assert(alone.contains("partial_kmv_distinct"), alone)
    assert(alone.contains("ObjectHashAggregate"), alone)
    assert("Exchange hashpartitioning".r.findAllIn(alone).length == 1,
      alone)
    // the slate query adds countDistinct as the accuracy comparison
    // column — its distinct-expand owns a second exchange keyed on
    // (group, hash); the sketch still partials map-side
    val p = plan("q_kmv_distinct")
    assert(p.contains("partial_kmv_distinct"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 2, p)
  }

  test("kmv_sample partials map-side: one exchange on the group key, " +
      "bounded pair-state sketches cross the wire, never rows") {
    import org.apache.spark.sql.functions.col
    import graft.functions.KmvFunctions._
    val alone = spark.read.parquet(s"$sf/documents.parquet")
      .groupBy(col("lang"))
      .agg(kmv_sample(kmv_hash48(col("doc_id")),
        col("n_chars").cast("double"), 32).as("sk"))
      .queryExecution.executedPlan.toString
    assert(alone.contains("partial_kmv_sample"), alone)
    assert(alone.contains("ObjectHashAggregate"), alone)
    assert("Exchange hashpartitioning".r.findAllIn(alone).length == 1,
      alone)
  }

  test("temperature sampling: two-phase rank + broadcast allocation, " +
      "no whole-group window") {
    val p = plan("q_temperature_sample")
    assertNoWholeGroupWindow(p, "lang")
    assert(p.contains("Exchange rangepartitioning"), p)
    assert(p.contains("BroadcastHashJoin"),
      s"the per-group allocation must broadcast, not shuffle:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("ngram coverage: hash join on the gram key (sorting the fat " +
      "gram table was the one spill the text matrices ever saw); " +
      "top-ngram stats stay narrow") {
    val p = plan("q_ngram_coverage")
    assert(p.contains("ShuffledHashJoin") || p.contains("BroadcastHashJoin"),
      s"gram probe must hash-join, not sort-merge:\n$p")
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    val np = plan("q_top_ngram_frac")
    assert(!np.contains("Exchange"), s"q_top_ngram_frac must not shuffle:\n$np")
    assert(!np.contains("ScalaUDF"), np)
  }

  /** Every node of a query's FINAL plan, after one collect: adaptive
    * plans and query stages are leaves to `collect`, so walk into them. */
  private def finalNodes(q: String): Seq[SparkPlan] = {
    val df = SparkEntry.queries(q)(spark, sf)
    df.collect()
    def walk(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec => walk(s.plan)
      case _ => p.children.flatMap(walk)
    })
    walk(df.queryExecution.executedPlan)
  }

  test("sliding-span dedup: the window exchange is pinned to a partition " +
      "per core and never coalesced; windows are generated once from one " +
      "documents scan") {
    val nodes = finalNodes("q_dedup_sliding_spans")
    def onKey(e: ShuffleExchangeExec) =
      e.outputPartitioning.toString.contains("__key")
    val keyed = nodes.collect { case e: ShuffleExchangeExec if onKey(e) => e }
    assert(keyed.size == 1, nodes.head.treeString)
    assert(keyed.head.shuffleOrigin == REPARTITION_BY_NUM)
    assert(keyed.head.outputPartitioning.numPartitions >=
      spark.sparkContext.defaultParallelism)
    val coalescedOverKey = nodes.exists {
      case r: AQEShuffleReadExec => r.hasCoalescedPartition &&
        r.child.collectFirst { case s: QueryStageExec => s.plan }.exists {
          case e: ShuffleExchangeExec => onKey(e)
          case e: ReusedExchangeExec => e.child.outputPartitioning
            .toString.contains("__key")
          case _ => false
        }
      case _ => false
    }
    assert(!coalescedOverKey, nodes.head.treeString)
    // the window explode carries the short- and null-id rule itself, so
    // no filter splits the documents subtree: the window side and the
    // coverage join read one scan (the second through a ReusedExchange)
    val windowGen = nodes.collect {
      case g: GenerateExec if g.generatorOutput.exists(_.name == "__pos") => g
    }
    assert(windowGen.size == 1, nodes.head.treeString)
    val docScans = nodes.collect {
      case f: FileSourceScanExec
          if f.relation.location.rootPaths.mkString
            .contains("documents.parquet") => f
    }
    assert(docScans.size == 1, nodes.head.treeString)
  }

  test("text quality reads the single-split documents scan through the " +
      "spread exchange") {
    assume(spark.sparkContext.defaultParallelism > 1,
      "one slot: nothing to spread over")
    val nodes = finalNodes("q_text_quality")
    val spread = nodes.collect {
      case e: ShuffleExchangeExec if e.shuffleOrigin == REPARTITION_BY_NUM => e
    }
    assert(spread.size == 1, nodes.head.treeString)
    assert(spread.head.outputPartitioning.toString.contains("doc_id"))
    assert(spread.head.outputPartitioning.numPartitions ==
      spark.sparkContext.defaultParallelism)
    assert(spread.head.collectFirst { case f: FileSourceScanExec =>
      f.relation.location.rootPaths.mkString }
      .exists(_.endsWith("documents.parquet")), nodes.head.treeString)
  }
}
