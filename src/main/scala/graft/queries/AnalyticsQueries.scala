package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.util.{Tables, TempDirs}

/** Analytic-SQL breadth beyond the reference's surface (the reference
  * has no window functions, rollups, or set ops — SURVEY §2.6): ranking
  * windows, gap-based sessionization as a batch query, rollup
  * aggregation, and set operations, each with a DuckDB oracle.
  *
  * Scale notes: ranking/sessionization shuffle once on the partition
  * key (user/customer) and sort within partitions — the canonical
  * "analytic over entity history" shape; rollup adds one extra
  * aggregation level per grouping set over partial aggregates.
  */
object AnalyticsQueries {

  private def money(c: org.apache.spark.sql.Column) =
    sum(c.cast(DecimalType(18, 2))).cast("double")

  /** q_summary_rewrite/q_summary_distinct's once-per-(process, data
    * dir) rollup build: the registered base path. */
  private val summaryBuilt =
    scala.collection.concurrent.TrieMap.empty[String, String]

  /** Materialize a decimal copy of lineitem as the registered rollup
    * base (keys: returnflag/linestatus; measures: qty/price; sketch
    * measure: okey — HLL partials for approx-distinct orders), build +
    * register its summary, and return the base path. Idempotent per
    * (process, data dir) — whichever summary-rewrite query runs first
    * pays the build. */
  private def summaryBase(s: org.apache.spark.sql.SparkSession,
      d: String): String =
    summaryBuilt.getOrElseUpdate(d, {
      val root = TempDirs.create("graft-rollup-q").toString
      val bp = s"$root/base"
      val sp = s"$root/summary"
      Tables.lineitem(s, d).select(
          col("l_returnflag"), col("l_linestatus"),
          col("l_quantity").cast(DecimalType(18, 2)).as("qty"),
          col("l_extendedprice").cast(DecimalType(18, 2)).as("price"),
          col("l_orderkey").cast("long").as("okey"))
        .write.mode("overwrite").parquet(bp)
      val base = Tables.parquet(s, bp)
      graft.plans.SummaryCatalog.buildSummary(base,
          Seq("l_returnflag", "l_linestatus"), Seq("qty", "price"),
          sketchMeasures = Seq("okey"))
        .write.mode("overwrite").parquet(sp)
      graft.plans.SummaryCatalog.register(base, Tables.parquet(s, sp),
        Seq("l_returnflag", "l_linestatus"), Seq("qty", "price"),
        sketchMeasures = Seq("okey"))
      bp
    })

  val all: Seq[QueryDef] = Seq(

    // top-3 orders per customer by price (ranking window)
    QueryDef("q_topk_per_group",
      (s, d) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        Tables.orders(s, d)
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 3)
          .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
            col("rn"))
      },
      Some("""SELECT o_custkey, o_orderkey, o_totalprice,
             |CAST(rn AS INTEGER) AS rn FROM (
             |  SELECT o_custkey, o_orderkey, o_totalprice,
             |  row_number() OVER (PARTITION BY o_custkey
             |    ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
             |  FROM orders)
             |WHERE rn <= 3""".stripMargin)),

    // gap-based sessionization (30 min) of the event stream as a batch
    // query — the batch shape of streaming.StreamingIngest.sessionize
    QueryDef("q_user_sessions",
      (s, d) => {
        val ev = Tables.events(s, d)
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        ev.withColumn("prev_ts", lag(col("ts"), 1).over(w))
          .withColumn("new_sess",
            when(col("prev_ts").isNull ||
              unix_micros(col("ts")) - unix_micros(col("prev_ts")) >
                1800L * 1000000L, 1L).otherwise(0L))
          .withColumn("sess_idx", sum(col("new_sess")).over(w))
          .groupBy(col("user_id"), col("sess_idx"))
          .agg(count(lit(1)).as("n"), min(col("ts")).as("started"),
            max(col("ts")).as("ended"), money(col("value")).as("total_value"))
      },
      // CAST(ts AS TIMESTAMP) truncates DuckDB's ns-precision read of
      // events.ts to µs, matching Spark's timestamp precision
      Some("""WITH e AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts,
             |  user_id, value FROM events),
             |x AS (SELECT *, lag(ts) OVER (PARTITION BY user_id
             |  ORDER BY ts, event_id) AS prev_ts FROM e),
             |y AS (SELECT *, CASE WHEN prev_ts IS NULL
             |  OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000
             |  THEN 1 ELSE 0 END AS new_sess FROM x),
             |z AS (SELECT *, SUM(new_sess) OVER (PARTITION BY user_id
             |  ORDER BY ts, event_id) AS sess_idx FROM y)
             |SELECT user_id, CAST(sess_idx AS BIGINT) AS sess_idx,
             |CAST(COUNT(*) AS BIGINT) AS n, MIN(ts) AS started,
             |MAX(ts) AS ended,
             |CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
             |FROM z GROUP BY 1, 2""".stripMargin)),

    // the same sessionization through Spark's BUILT-IN session_window
    // operator (the declarative form that also runs under Structured
    // Streaming state): window end = last event + gap, end-EXCLUSIVE —
    // an event exactly `gap` after its predecessor starts a NEW
    // session, so the oracle's island break uses >=, not > (the manual
    // q_user_sessions recipe above deliberately uses the other
    // convention; both are pinned)
    QueryDef("q_session_window",
      (s, d) => Tables.events(s, d)
        .groupBy(session_window(col("ts"), "30 minutes"),
          col("user_id"))
        .agg(count(lit(1)).as("n"), money(col("value")).as("total_value"))
        .select(col("session_window.start").as("sess_start"),
          col("session_window.end").as("sess_end"), col("user_id"),
          col("n"), col("total_value")),
      Some("""WITH e AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts,
             |  user_id, value FROM events),
             |x AS (SELECT *, lag(ts) OVER (PARTITION BY user_id
             |  ORDER BY ts, event_id) AS prev_ts FROM e),
             |y AS (SELECT *, CASE WHEN prev_ts IS NULL
             |  OR epoch_us(ts) - epoch_us(prev_ts) >= 1800000000
             |  THEN 1 ELSE 0 END AS new_sess FROM x),
             |z AS (SELECT *, SUM(new_sess) OVER (PARTITION BY user_id
             |  ORDER BY ts, event_id) AS sess_idx FROM y)
             |SELECT MIN(ts) AS sess_start,
             |MAX(ts) + INTERVAL 30 MINUTE AS sess_end,
             |user_id, CAST(COUNT(*) AS BIGINT) AS n,
             |CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
             |  AS total_value
             |FROM z GROUP BY user_id, sess_idx""".stripMargin)),

    // ordered funnel (view → click → purchase): three conditional-min
    // window passes over ONE user-key shuffle — each step's timestamp
    // is the first qualifying event strictly after the previous
    // step's, so out-of-order events never count. Output is the
    // per-step user population (exact integers).
    QueryDef("q_funnel_steps",
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
        Tables.events(s, d)
          .select(col("user_id"), col("ts"), col("event_type"))
          .withColumn("t1",
            min(when(col("event_type") === "view", col("ts"))).over(w))
          .withColumn("t2",
            min(when(col("event_type") === "click" &&
              col("ts") > col("t1"), col("ts"))).over(w))
          .withColumn("t3",
            min(when(col("event_type") === "purchase" &&
              col("ts") > col("t2"), col("ts"))).over(w))
          .groupBy(col("user_id"))
          .agg(max(col("t1")).as("t1"), max(col("t2")).as("t2"),
            max(col("t3")).as("t3"))
          .agg(count(col("t1")).as("n_view"),
            count(col("t2")).as("n_click_after_view"),
            count(col("t3")).as("n_purchase_after_click"))
      },
      Some("""WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
             |  event_type FROM events),
             |s1 AS (SELECT *, MIN(CASE WHEN event_type = 'view'
             |  THEN ts END) OVER (PARTITION BY user_id) AS t1 FROM e),
             |s2 AS (SELECT *, MIN(CASE WHEN event_type = 'click'
             |  AND ts > t1 THEN ts END)
             |  OVER (PARTITION BY user_id) AS t2 FROM s1),
             |s3 AS (SELECT *, MIN(CASE WHEN event_type = 'purchase'
             |  AND ts > t2 THEN ts END)
             |  OVER (PARTITION BY user_id) AS t3 FROM s2),
             |u AS (SELECT user_id, MAX(t1) AS t1, MAX(t2) AS t2,
             |  MAX(t3) AS t3 FROM s3 GROUP BY 1)
             |SELECT CAST(COUNT(t1) AS BIGINT) AS n_view,
             |CAST(COUNT(t2) AS BIGINT) AS n_click_after_view,
             |CAST(COUNT(t3) AS BIGINT) AS n_purchase_after_click
             |FROM u""".stripMargin)),

    // cohort retention: users bucketed by first-seen day, activity
    // counted per (cohort, week offset) — distinct (user, day)
    // activity first, so per-day event volume can't inflate
    // retention. All-integer output; two shuffles (user-day distinct,
    // cohort join) at any scale.
    QueryDef("q_retention_cohorts",
      (s, d) => {
        val e = Tables.events(s, d)
          .select(col("user_id"), to_date(col("ts")).as("day"))
          .distinct()
        val cohort = e.groupBy(col("user_id"))
          .agg(min(col("day")).as("cohort_day"))
        e.join(cohort, Seq("user_id"))
          .select(col("user_id"), col("cohort_day"),
            floor(datediff(col("day"), col("cohort_day")) / lit(7.0))
              .cast("int").as("week_offset"))
          .distinct()
          .groupBy(col("cohort_day"), col("week_offset"))
          .agg(count(lit(1)).as("n_users"))
      },
      Some("""WITH e AS (SELECT DISTINCT user_id,
             |  CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day FROM events),
             |c AS (SELECT user_id, MIN(day) AS cohort_day FROM e
             |  GROUP BY 1),
             |o AS (SELECT DISTINCT e.user_id, c.cohort_day,
             |  CAST(FLOOR(date_diff('day', c.cohort_day, e.day) / 7.0)
             |    AS INTEGER) AS week_offset
             |  FROM e JOIN c ON e.user_id = c.user_id)
             |SELECT cohort_day, week_offset,
             |CAST(COUNT(*) AS BIGINT) AS n_users
             |FROM o GROUP BY 1, 2""".stripMargin)),

    // fixed-grid hourly resampling with forward-fill gap filling
    // (operators/Temporal.resample): every hour between each user's
    // first and last active hour materializes, carrying the last
    // observed hourly spend across gaps — the time-series
    // regularization a sequence model needs. Only the first
    // aggregation touches raw events; grid + fill run on the
    // bucketized table.
    QueryDef("q_resample_gapfill",
      (s, d) => graft.operators.Temporal.resample(
        Tables.events(s, d), "user_id", "ts", "hour",
        aggs = Seq(count(lit(1)).as("n0"),
          sum(col("value").cast(DecimalType(18, 2))).cast("double")
            .as("hourly_value")),
        fillCols = Seq("hourly_value"))
        .select(col("user_id"), col("bucket_ts"),
          coalesce(col("n0"), lit(0L)).as("n"), col("hourly_value"),
          col("hourly_value_filled"), col("is_gap")),
      Some("""WITH a AS (SELECT user_id, date_trunc('hour', ts)
             |    AS bucket_ts,
             |  CAST(COUNT(*) AS BIGINT) AS n,
             |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
             |    AS hourly_value
             |  FROM events GROUP BY 1, 2),
             |s AS (SELECT user_id, MIN(bucket_ts) AS lo,
             |  MAX(bucket_ts) AS hi FROM a GROUP BY 1),
             |g AS (SELECT user_id,
             |  unnest(generate_series(lo, hi, INTERVAL 1 HOUR))
             |    AS bucket_ts FROM s)
             |SELECT g.user_id, g.bucket_ts, COALESCE(a.n, 0) AS n,
             |a.hourly_value,
             |last_value(a.hourly_value IGNORE NULLS) OVER (
             |  PARTITION BY g.user_id ORDER BY g.bucket_ts
             |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |  AS hourly_value_filled,
             |a.n IS NULL AS is_gap
             |FROM g LEFT JOIN a USING (user_id, bucket_ts)"""
        .stripMargin)),

    // PageRank over the symmetrized customer↔supplier interaction
    // graph (graph/Graph.scala): 3 fixed iterations, per-edge
    // contributions FLOOR-quantized to integer 1e-15 units before an
    // exact BIGINT sum, so the ranks are bit-identical at any
    // parallelism AND in DuckDB, which replays the iterations as
    // unrolled CTEs (the Lloyd-replay discipline). floor is the same
    // function in both engines — a double→DECIMAL cast is not (Spark
    // HALF_UP vs DuckDB half-even; one observed ULP in round 8).
    // Every double literal is CAST explicitly in the oracle — DuckDB
    // would otherwise evaluate 1.0 - 0.85 in decimal (exactly 0.15)
    // while doubles give 0.15000000000000002.
    QueryDef("q_pagerank",
      (s, d) => {
        val o = Tables.orders(s, d); val li = Tables.lineitem(s, d)
        // disjoint node ids by parity (2k / 2k+1), not a fixed
        // offset — an additive offset silently merges the id spaces
        // once custkey reaches it
        val pairs = o.join(li, o("o_orderkey") === li("l_orderkey"))
          .select((col("o_custkey").cast("long") * 2).as("c"),
            (col("l_suppkey").cast("long") * 2 + 1).as("p"))
          .distinct()
        val edges = pairs.select(col("c").as("src"), col("p").as("dst"))
          .union(pairs.select(col("p").as("src"), col("c").as("dst")))
        // full-double emission: every arithmetic step is bit-identical
        // by construction (floor-quantized integer-unit sums — see
        // Graph.pageRank), so no float32 armor is needed; the oracle
        // must match all 52 mantissa bits
        graft.graph.Graph.pageRank(edges, iters = 3)
      },
      Some {
        val iter = (k: Int) =>
          s"""c$k AS MATERIALIZED (SELECT e.dst AS node,
             |  CAST(SUM(CAST(floor((r.rank / od.outdeg)
             |      * CAST(1e15 AS DOUBLE)) AS BIGINT)) AS DOUBLE)
             |    / CAST(1e15 AS DOUBLE) AS inr
             |  FROM r${k - 1} r JOIN e ON r.node = e.src
             |  JOIN od ON e.src = od.src GROUP BY 1),
             |r$k AS MATERIALIZED (SELECT nodes.node,
             |  (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nn.n
             |    + CAST(0.85 AS DOUBLE)
             |      * COALESCE(c$k.inr, CAST(0.0 AS DOUBLE)) AS rank
             |  FROM nodes CROSS JOIN nn
             |  LEFT JOIN c$k ON nodes.node = c$k.node)""".stripMargin
        s"""WITH eb AS MATERIALIZED (SELECT DISTINCT
           |  CAST(o_custkey AS BIGINT) * 2 AS c,
           |  CAST(l_suppkey AS BIGINT) * 2 + 1 AS p
           |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
           |e AS MATERIALIZED (SELECT c AS src, p AS dst FROM eb
           |  UNION ALL SELECT p, c FROM eb),
           |nodes AS MATERIALIZED (SELECT src AS node FROM e
           |  UNION SELECT dst FROM e),
           |nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
           |od AS MATERIALIZED (SELECT src,
           |  CAST(COUNT(*) AS DOUBLE) AS outdeg FROM e GROUP BY 1),
           |r0 AS (SELECT node, CAST(1.0 AS DOUBLE) / nn.n AS rank
           |  FROM nodes CROSS JOIN nn),
           |${(1 to 3).map(iter).mkString(",\n")}
           |SELECT node, rank FROM r3""".stripMargin
      }),

    // per-node triangles + local clustering coefficient over the
    // part co-purchase graph (parts linked when some order contains
    // both). Degree-oriented wedge generation keeps the superlinear
    // step O(m^1.5) — see Graph.triangleStats; the oracle replays the
    // canonical a<b<c 3-way join, which counts the identical triangle
    // set regardless of orientation key. lcc is integers cast to
    // double + ONE IEEE division — bit-identical cross-engine.
    QueryDef("q_triangle_count",
      (s, d) => {
        // co-purchase edges off ONE shared exchange (round-16, guide
        // §2.4): repartition lineitem's (ok, p) projection by ok ONCE
        // — the (ok, p) dedup runs as an aggregation on that
        // partitioning (hash(ok) clusters every (ok, p) group, no
        // second exchange) and BOTH self-join sides reference the
        // identical subtree, so exchange reuse materializes the
        // shuffle once. The former distinct → self-join chain
        // exchanged on (ok, p) and then again on ok; same edge
        // multiset, one fewer full exchange. (A collect_set +
        // combination-explode variant was measured SLOWER both
        // rounds — interpreted HOF pair emission loses to the
        // codegen join; r15 §12, re-measured r16.)
        val lp = Tables.lineitem(s, d)
          .select(col("l_orderkey").as("ok"),
            col("l_partkey").cast("long").as("p"))
          .repartition(col("ok"))
          .dropDuplicates("ok", "p")
        val edges = lp.select(col("ok"), col("p").as("pa"))
          .join(lp.select(col("ok"), col("p").as("pb")), Seq("ok"))
          .filter(col("pa") < col("pb"))
          .select(col("pa").as("src"), col("pb").as("dst"))
        graft.graph.Graph.triangleStats(edges)
      },
      Some("""WITH lp AS MATERIALIZED (SELECT DISTINCT
             |  l_orderkey AS ok, CAST(l_partkey AS BIGINT) AS p
             |  FROM lineitem),
             |und AS MATERIALIZED (SELECT DISTINCT x.p AS a, y.p AS b
             |  FROM lp x JOIN lp y ON x.ok = y.ok AND x.p < y.p),
             |deg AS (SELECT node, CAST(count(*) AS BIGINT) AS degree
             |  FROM (SELECT a AS node FROM und
             |        UNION ALL SELECT b FROM und) t GROUP BY 1),
             |tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
             |  FROM und e1 JOIN und e2 ON e2.a = e1.a AND e2.b > e1.b
             |  JOIN und e3 ON e3.a = e1.b AND e3.b = e2.b),
             |pn AS (SELECT node, CAST(count(*) AS BIGINT) AS triangles
             |  FROM (SELECT x AS node FROM tri
             |        UNION ALL SELECT y FROM tri
             |        UNION ALL SELECT z FROM tri) t GROUP BY 1)
             |SELECT deg.node, deg.degree,
             |CAST(COALESCE(pn.triangles, 0) AS BIGINT) AS triangles,
             |CASE WHEN deg.degree >= 2 THEN
             |  CAST(COALESCE(pn.triangles, 0) * 2 AS DOUBLE)
             |    / CAST(deg.degree * (deg.degree - 1) AS DOUBLE)
             |ELSE CAST(0 AS DOUBLE) END AS lcc
             |FROM deg LEFT JOIN pn ON deg.node = pn.node""".stripMargin)),

    // rollup: sales by (year, priority) with subtotals and grand total
    QueryDef("q_rollup_sales",
      (s, d) => Tables.orders(s, d)
        .rollup(year(col("o_orderdate")).as("session_year"),
          col("o_orderpriority"))
        .agg(money(col("o_totalprice")).as("total_sales"),
          count(lit(1)).as("n")),
      Some("""SELECT CAST(year(o_orderdate) AS INTEGER) AS session_year,
             |o_orderpriority,
             |CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |  AS total_sales,
             |CAST(COUNT(*) AS BIGINT) AS n
             |FROM orders
             |GROUP BY ROLLUP(1, 2)""".stripMargin)),

    // materialized-rollup rewrite end-to-end (plans/SummaryRewrite):
    // a decimal copy of lineitem becomes the registered base, its
    // pre-aggregated rollup is materialized ONCE, and the query below
    // aggregates the BASE — in any extensions-carrying session
    // (Verify, Bench, production) the optimizer answers it from the
    // rollup scan, and the result must still hash-match DuckDB
    // aggregating the raw rows. That bit-identity is the rule's whole
    // contract (SUM/MIN/MAX/COUNT re-aggregate losslessly from
    // partials); SummaryRewriteSpec pins that the rewrite actually
    // fires plus every refusal case.
    QueryDef("q_summary_rewrite",
      (s, d) => {
        // key-only filter + key-subset grouping: the rewritable shape
        Tables.parquet(s, summaryBase(s, d))
          .filter(col("l_linestatus") === "F")
          .groupBy("l_returnflag")
          .agg(sum("qty").as("sq"), min("qty").as("mq"),
            max("price").as("xp"), count(lit(1)).as("n"))
          .select(col("l_returnflag"),
            col("sq").cast("double").as("sum_qty"),
            col("mq").cast("double").as("min_qty"),
            col("xp").cast("double").as("max_price"), col("n"))
      },
      Some("""SELECT l_returnflag,
             |CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
             |  AS sum_qty,
             |CAST(MIN(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
             |  AS min_qty,
             |CAST(MAX(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
             |  AS max_price,
             |CAST(COUNT(*) AS BIGINT) AS n
             |FROM lineitem WHERE l_linestatus = 'F'
             |GROUP BY 1""".stripMargin)),

    // key-column aggregates through the same registered rollup —
    // COUNT(DISTINCT key) is the one DISTINCT form a rollup CAN answer
    // exactly (the summary holds every distinct key combination, so
    // the distinct re-runs over the rollup's group list instead of the
    // base). In any extensions session the plan scans the summary
    // (SummaryRewriteSpec pins it); DuckDB aggregates the raw base —
    // the hash match proves the distinct/min/max/count-key remaps are
    // value-exact, not just plausible.
    QueryDef("q_summary_distinct",
      (s, d) => {
        Tables.parquet(s, summaryBase(s, d))
          .groupBy("l_returnflag")
          .agg(countDistinct("l_linestatus").as("n_status"),
            count(col("l_linestatus")).as("n_rows"),
            max(col("l_linestatus")).as("max_status"),
            min(col("l_linestatus")).as("min_status"),
            sum("qty").cast("double").as("sum_qty"))
      },
      Some("""SELECT l_returnflag,
             |CAST(COUNT(DISTINCT l_linestatus) AS BIGINT) AS n_status,
             |CAST(COUNT(l_linestatus) AS BIGINT) AS n_rows,
             |MAX(l_linestatus) AS max_status,
             |MIN(l_linestatus) AS min_status,
             |CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
             |  AS sum_qty
             |FROM lineitem GROUP BY 1""".stripMargin)),

    // approx-distinct from the rollup's mergeable HLL partials — the
    // "distinct over a measure" a rollup CAN serve (approximately):
    // hll_sketch_estimate(hll_sketch_agg(okey)) is rewritten to
    // estimate(hll_union_agg(__hll_okey)) over the summary
    // (SummaryRewriteSpec pins the plan AND that the union's estimate
    // equals the direct sketch's exactly — register max commutes with
    // grouping). The exact-distinct side deliberately refuses (it
    // computes on the base), and DuckDB checks the exact counts plus
    // the sketch's published error envelope as a boolean (the
    // guarantee-hash pattern of q_heavy_hitters_approx): lgK=12 →
    // ~1.6% relative standard error; 5% is > 3σ, and small groups sit
    // in the sketch's exact coupon range anyway.
    QueryDef("q_summary_sketch",
      (s, d) => {
        val base = Tables.parquet(s, summaryBase(s, d))
        val est = base.groupBy(col("l_returnflag"))
          .agg(hll_sketch_estimate(
            hll_sketch_agg(col("okey"), 12)).as("est"))
        val exact = base.groupBy(col("l_returnflag"))
          .agg(countDistinct(col("okey")).as("nd"))
        est.join(exact, Seq("l_returnflag"))
          .select(col("l_returnflag"), col("nd"),
            (col("est") >= col("nd") * 0.95 &&
              col("est") <= col("nd") * 1.05).as("est_within_5pct"))
      },
      Some("""SELECT l_returnflag,
             |CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS nd,
             |TRUE AS est_within_5pct
             |FROM lineitem GROUP BY 1""".stripMargin)),

    // set operations over two predicate-defined part sets (partial
    // overlap by construction, so both branches are non-trivial at any
    // scale — the synthetic data's FK coverage is complete, which makes
    // key-vs-key differences degenerate)
    QueryDef("q_set_ops",
      (s, d) => {
        val p = Tables.part(s, d)
        val big = p.filter(col("p_size") > 25).select(col("p_partkey").as("pk"))
        val pricey = p.filter(col("p_retailprice") > 950.0)
          .select(col("p_partkey").as("pk"))
        big.intersect(pricey).withColumn("op", lit("intersect"))
          .unionByName(big.except(pricey).withColumn("op", lit("except")))
          .select(col("op"), col("pk"))
      },
      Some("""SELECT 'intersect' AS op, pk FROM
             |  (SELECT p_partkey AS pk FROM part WHERE p_size > 25
             |   INTERSECT
             |   SELECT p_partkey FROM part WHERE p_retailprice > 950.0)
             |UNION ALL
             |SELECT 'except' AS op, pk FROM
             |  (SELECT p_partkey AS pk FROM part WHERE p_size > 25
             |   EXCEPT
             |   SELECT p_partkey FROM part WHERE p_retailprice > 950.0)"""
        .stripMargin)),
  )
}
