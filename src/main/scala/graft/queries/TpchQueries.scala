package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.util.Tables

/** The rest of the TPC-H battery over the driver's reduced schema.
  * Together with BreadthQueries' Q1/Q3/Q5/Q6/Q7/Q10 this runs all 22
  * queries: Q4/Q19/Q22 as adapted shapes that keep the plan structure
  * (correlated EXISTS, disjunctive join predicate, anti-join + scalar
  * aggregate subquery) with predicates re-expressed over the columns
  * that exist, and the seven `partsupp`-family queries
  * (Q2/Q9/Q11/Q16/Q20 plus the `l_shipmode`/`l_receiptdate`-family
  * Q12/Q21) as adapted shapes over a *derived* part–supplier relation:
  * `lineitem` is itself a (partkey, suppkey) relation, so
  * `ps_supplycost := MIN(l_extendedprice)` per pair plays the role of
  * `partsupp.ps_supplycost` (exact DECIMAL, so min-equality joins are
  * deterministic), per-pair shipped quantity plays `ps_availqty`, and
  * "received late" predicates become `l_shipdate` measured against
  * `o_orderdate` (the same adaptation Q4 already uses). Every adapted
  * query preserves the original's distinguishing plan shape —
  * correlated MIN subquery (Q2), profit decomposition over a 6-way
  * join (Q9), group-HAVING against a scalar-aggregate fraction (Q11),
  * conditional counts across a join (Q12), COUNT(DISTINCT) with a
  * NOT-IN side filter (Q16), nested semi-joins gated by a correlated
  * aggregate threshold (Q20), and the double correlated
  * EXISTS/NOT-EXISTS (Q21).
  *
  * Everything follows the house determinism rules: money math in
  * DECIMAL end-to-end (cast to double only at the end), ratios as
  * one double division of two exact decimal sums, scalar "avg"
  * thresholds compared multiplicatively (qty × 5 × cnt < sum) so no
  * engine ever rounds a division, and every LIMIT behind a total
  * tiebreak order.
  */
object TpchQueries {

  private def dec(c: org.apache.spark.sql.Column) = c.cast(DecimalType(18, 2))
  private def frac(c: org.apache.spark.sql.Column) = c.cast(DecimalType(4, 2))
  /** price × (1-discount) — the TPC-H revenue term, exact. */
  private def volume = dec(col("l_extendedprice")) * frac(lit(1) - col("l_discount"))

  val all: Seq[QueryDef] = Seq(

    // TPC-H Q4 shape (order priority checking): a correlated EXISTS
    // that Spark plans as a LEFT SEMI join. Adapted predicate: the
    // dataset has no l_commitdate/l_receiptdate, so "a lineitem was
    // received later than committed" becomes "a lineitem shipped more
    // than 60 days after the order date" — same correlated comparison
    // of a lineitem column against an orders column, same semi-join
    // plan. At 100 TB both sides shuffle on the order key; the
    // quarter filter prunes orders at the scan and the semi join
    // keeps at most one row per order regardless of lineitem fanout.
    QueryDef("q_tpch_q4",
      (s, d) => {
        val o = Tables.orders(s, d)
          .filter(col("o_orderdate") >= lit("1995-07-01").cast("timestamp") &&
            col("o_orderdate") < lit("1995-10-01").cast("timestamp"))
        val l = Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_shipdate"))
        o.join(l, o("o_orderkey") === l("l_orderkey") &&
            l("l_shipdate") > o("o_orderdate") + expr("INTERVAL 60 DAYS"),
            "left_semi")
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("order_count"))
          .orderBy(col("o_orderpriority"))
      },
      Some("""SELECT o_orderpriority, COUNT(*) AS order_count FROM orders
             |WHERE o_orderdate >= TIMESTAMP '1995-07-01'
             |AND o_orderdate < TIMESTAMP '1995-10-01'
             |AND EXISTS (SELECT 1 FROM lineitem
             |  WHERE l_orderkey = o_orderkey
             |  AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // TPC-H Q8 shape (national market share): the widest join in the
    // battery — part, lineitem, supplier, orders, customer, nation
    // twice (customer's and supplier's), region. The market share is
    // a conditional share of revenue: both numerator and denominator
    // are exact decimal sums, divided once as doubles. Spark-first
    // shape: region+nation are constants and broadcast; the ECONOMY
    // part filter (1/6 of part) prunes lineitem through the part
    // join; orders carries the two-year window to its scan; the
    // l⋈o spine shuffles on the order key and everything dimensional
    // hangs off it — at bench SF AQE broadcasts every dim side, at
    // 100 TB part/customer/supplier shuffle but only AFTER their
    // filters, so join order (smallest pruned side first) is exactly
    // what Catalyst's size estimates pick.
    QueryDef("q_tpch_q8",
      (s, d) => {
        val pEco = Tables.part(s, d)
          .filter(col("p_type") === "ECONOMY").select(col("p_partkey"))
        val custAmerica = Tables.customer(s, d)
          .join(broadcast(Tables.nation(s, d)
              .join(broadcast(Tables.region(s, d)
                  .filter(col("r_name") === "AMERICA")),
                col("n_regionkey") === col("r_regionkey"))
              .select(col("n_nationkey"))),
            col("c_nationkey") === col("n_nationkey"))
          .select(col("c_custkey"))
        val supNamed = Tables.supplier(s, d)
          .join(broadcast(Tables.nation(s, d)
              .select(col("n_nationkey").as("sn_key"),
                col("n_name").as("supp_nation"))),
            col("s_nationkey") === col("sn_key"))
          .select(col("s_suppkey"), col("supp_nation"))
        val o = Tables.orders(s, d)
          .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
        Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
            col("l_extendedprice"), col("l_discount"))
          .join(pEco, col("l_partkey") === col("p_partkey"))
          .join(o, col("l_orderkey") === col("o_orderkey"))
          .join(custAmerica, col("o_custkey") === col("c_custkey"))
          .join(supNamed, col("l_suppkey") === col("s_suppkey"))
          .groupBy(year(col("o_orderdate")).as("o_year"))
          .agg((sum(when(col("supp_nation") === "NATION_3", volume)
              .otherwise(lit(0).cast(DecimalType(18, 4)))).cast("double") /
            sum(volume).cast("double")).as("mkt_share"))
          .orderBy(col("o_year"))
      },
      Some("""SELECT o_year,
             |CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN volume
             |  ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
             |  / CAST(SUM(volume) AS DOUBLE) AS mkt_share
             |FROM (SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
             |  CAST(l_extendedprice AS DECIMAL(18,2))
             |    * CAST(1 - l_discount AS DECIMAL(4,2)) AS volume,
             |  n2.n_name AS supp_nation
             |  FROM part JOIN lineitem ON p_partkey = l_partkey
             |  JOIN supplier ON s_suppkey = l_suppkey
             |  JOIN orders ON l_orderkey = o_orderkey
             |  JOIN customer ON o_custkey = c_custkey
             |  JOIN nation n1 ON c_nationkey = n1.n_nationkey
             |  JOIN region ON n1.n_regionkey = r_regionkey
             |  JOIN nation n2 ON s_nationkey = n2.n_nationkey
             |  WHERE r_name = 'AMERICA' AND p_type = 'ECONOMY'
             |  AND o_orderdate >= TIMESTAMP '1995-01-01'
             |  AND o_orderdate < TIMESTAMP '1997-01-01')
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // TPC-H Q13 shape (customer order-count distribution): the
    // outer-join aggregate — customers with zero orders must appear
    // with c_count = 0, which an inner join would silently drop.
    // Two inherent shuffles (join/agg on custkey, re-agg on the
    // count); the second input is |customer| rows and the final one
    // is at most the max order count — tiny at any scale.
    QueryDef("q_tpch_q13",
      (s, d) => Tables.customer(s, d).select(col("c_custkey"))
        .join(Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey")),
          col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc),
      Some("""SELECT c_count, COUNT(*) AS custdist FROM (
             |  SELECT c_custkey, COUNT(o_orderkey) AS c_count
             |  FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
             |  GROUP BY 1)
             |GROUP BY 1 ORDER BY custdist DESC, c_count DESC""".stripMargin)),

    // TPC-H Q14 shape (promotion effect): conditional share of one
    // month's revenue attributable to PROMO parts. One ratio, both
    // sides exact decimal sums; 100.0 × num / den is evaluated
    // left-associatively in both engines. The month filter prunes
    // lineitem at the scan; part joins narrow (2 columns).
    QueryDef("q_tpch_q14",
      (s, d) => Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1995-09-01").cast("timestamp") &&
          col("l_shipdate") < lit("1995-10-01").cast("timestamp"))
        .select(col("l_partkey"), col("l_extendedprice"), col("l_discount"))
        .join(Tables.part(s, d).select(col("p_partkey"), col("p_type")),
          col("l_partkey") === col("p_partkey"))
        .agg((lit(100.0) *
          sum(when(col("p_type") === "PROMO", volume)
            .otherwise(lit(0).cast(DecimalType(18, 4)))).cast("double") /
          sum(volume).cast("double")).as("promo_revenue")),
      Some("""SELECT 100.0 *
             |CAST(SUM(CASE WHEN p_type = 'PROMO'
             |  THEN CAST(l_extendedprice AS DECIMAL(18,2))
             |    * CAST(1 - l_discount AS DECIMAL(4,2))
             |  ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
             |/ CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
             |  * CAST(1 - l_discount AS DECIMAL(4,2))) AS DOUBLE)
             |  AS promo_revenue
             |FROM lineitem JOIN part ON l_partkey = p_partkey
             |WHERE l_shipdate >= TIMESTAMP '1995-09-01'
             |AND l_shipdate < TIMESTAMP '1995-10-01'""".stripMargin)),

    // TPC-H Q15 shape (top supplier): an aggregate compared against
    // the aggregate-of-the-aggregate. The per-supplier revenue table
    // is |supplier| rows; its max is ONE row, broadcast back rather
    // than window-ranked (a rank over an unpartitioned window would
    // funnel every row through one task at scale). Revenues compare
    // exactly because both are casts of identical decimal sums.
    QueryDef("q_tpch_q15",
      (s, d) => {
        val revenue = Tables.lineitem(s, d)
          .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
            col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
          .groupBy(col("l_suppkey").as("supplier_no"))
          .agg(sum(volume).cast("double").as("total_revenue"))
        val best = revenue.agg(max(col("total_revenue")).as("mx"))
        Tables.supplier(s, d).select(col("s_suppkey"), col("s_name"))
          .join(revenue, col("s_suppkey") === col("supplier_no"))
          .join(broadcast(best), col("total_revenue") === col("mx"))
          .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
          .orderBy(col("s_suppkey"))
      },
      Some("""WITH revenue AS (SELECT l_suppkey AS supplier_no,
             |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
             |    * CAST(1 - l_discount AS DECIMAL(4,2))) AS DOUBLE)
             |    AS total_revenue
             |  FROM lineitem
             |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
             |  AND l_shipdate < TIMESTAMP '1996-04-01' GROUP BY 1)
             |SELECT s_suppkey, s_name, total_revenue
             |FROM supplier JOIN revenue ON s_suppkey = supplier_no
             |WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
             |ORDER BY s_suppkey""".stripMargin)),

    // TPC-H Q17 shape (small-quantity-order revenue): the correlated
    // scalar-subquery query — each lineitem compares against 20% of
    // its part's average quantity. Spark-first: the brand/size filter
    // selects a handful of parts, those keys BROADCAST-semi-join into
    // lineitem FIRST, and the per-part average is computed only over
    // the selected parts' lineitems (the unrestricted per-part agg
    // the SQL appears to ask for would be a full-table shuffle for
    // rows that are then discarded). The avg comparison is
    // multiplicative — qty × 5 × cnt < sum(qty) — so neither engine
    // divides, and the boundary is exact.
    QueryDef("q_tpch_q17",
      (s, d) => {
        val keys = Tables.part(s, d)
          .filter(col("p_brand") === "Brand#3" && col("p_size") === 5)
          .select(col("p_partkey"))
        val li = Tables.lineitem(s, d)
          .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
          .join(broadcast(keys), col("l_partkey") === col("p_partkey"), "left_semi")
        val perPart = li.groupBy(col("l_partkey").as("pk"))
          .agg(sum(dec(col("l_quantity"))).as("sq"), count(lit(1)).as("cq"))
        li.join(broadcast(perPart), col("l_partkey") === col("pk"))
          .filter(dec(col("l_quantity")) * lit(5) * col("cq") < col("sq"))
          .agg((sum(dec(col("l_extendedprice"))).cast("double") / lit(7.0))
            .as("avg_yearly"))
      },
      Some("""SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
             |  AS DOUBLE) / 7.0 AS avg_yearly
             |FROM lineitem JOIN part ON p_partkey = l_partkey
             |JOIN (SELECT l_partkey AS pk,
             |    SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sq,
             |    COUNT(*) AS cq
             |  FROM lineitem GROUP BY 1) pa ON pa.pk = l_partkey
             |WHERE p_brand = 'Brand#3' AND p_size = 5
             |AND CAST(l_quantity AS DECIMAL(18,2)) * 5 * cq < sq""".stripMargin)),

    // TPC-H Q18 shape (large-volume customers): HAVING on a grouped
    // fact, then join back to the same fact. The qualifying order
    // keys (sum(qty) > 200) come from one map-side-combined agg;
    // they semi-join orders and re-join lineitem for the final
    // re-aggregation. Top-100 behind a full tiebreak
    // (o_totalprice DESC, o_orderkey ASC) is a TakeOrdered.
    QueryDef("q_tpch_q18",
      (s, d) => {
        val qualifying = Tables.lineitem(s, d)
          .groupBy(col("l_orderkey").as("qk"))
          .agg(sum(dec(col("l_quantity"))).as("qty_sum"))
          .filter(col("qty_sum") > lit(200).cast(DecimalType(18, 2)))
          .select(col("qk"))
        val o = Tables.orders(s, d)
          .join(qualifying, col("o_orderkey") === col("qk"), "left_semi")
        o.join(Tables.customer(s, d).select(col("c_custkey"), col("c_name")),
            col("o_custkey") === col("c_custkey"))
          .join(Tables.lineitem(s, d)
              .select(col("l_orderkey"), col("l_quantity")),
            col("o_orderkey") === col("l_orderkey"))
          .groupBy(col("c_name"), col("c_custkey"), col("o_orderkey"),
            col("o_orderdate"), col("o_totalprice"))
          .agg(sum(dec(col("l_quantity"))).cast("double").as("sum_qty"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
          .limit(100)
      },
      Some("""SELECT c_name, c_custkey, o_orderkey, o_orderdate,
             |o_totalprice,
             |CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
             |  AS sum_qty
             |FROM customer JOIN orders ON c_custkey = o_custkey
             |JOIN lineitem ON o_orderkey = l_orderkey
             |WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
             |  GROUP BY 1
             |  HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 200)
             |GROUP BY 1, 2, 3, 4, 5
             |ORDER BY o_totalprice DESC, o_orderkey ASC
             |LIMIT 100""".stripMargin)),

    // TPC-H Q19 shape (discounted revenue): the disjunctive
    // join-predicate query — three (brand, size-range, qty-range)
    // branches OR'd together across the join. Adapted: the dataset
    // has no l_shipinstruct/l_shipmode, so the shared conjuncts are
    // dropped and the three branches carry brand/size/quantity only;
    // the plan shape (equi-join on partkey + residual disjunction)
    // is identical. Catalyst pushes the derivable part-side
    // disjunction (brand ∈ {…} AND size ≤ 15) to the part scan.
    QueryDef("q_tpch_q19",
      (s, d) => Tables.lineitem(s, d)
        .select(col("l_partkey"), col("l_quantity"),
          col("l_extendedprice"), col("l_discount"))
        .join(Tables.part(s, d)
            .select(col("p_partkey"), col("p_brand"), col("p_size")),
          col("l_partkey") === col("p_partkey"))
        .filter(
          (col("p_brand") === "Brand#12" && col("p_size").between(1, 5) &&
            col("l_quantity").between(1, 11)) ||
          (col("p_brand") === "Brand#3" && col("p_size").between(1, 10) &&
            col("l_quantity").between(10, 20)) ||
          (col("p_brand") === "Brand#14" && col("p_size").between(1, 15) &&
            col("l_quantity").between(20, 30)))
        .agg(sum(volume).cast("double").as("revenue")),
      Some("""SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
             |  * CAST(1 - l_discount AS DECIMAL(4,2))) AS DOUBLE)
             |  AS revenue
             |FROM lineitem JOIN part ON p_partkey = l_partkey
             |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
             |  AND l_quantity BETWEEN 1 AND 11)
             |OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 10
             |  AND l_quantity BETWEEN 10 AND 20)
             |OR (p_brand = 'Brand#14' AND p_size BETWEEN 1 AND 15
             |  AND l_quantity BETWEEN 20 AND 30)""".stripMargin)),

    // TPC-H Q22 shape (global sales opportunity): anti-join plus a
    // scalar aggregate subquery. Adapted: no c_phone, so the country
    // grouping rides nation names and "never placed an order" (empty
    // at this data's density — every customer has orders) becomes
    // "no order since 2000-01-01"; the shape — NOT EXISTS anti-join
    // against a filtered orders scan — is unchanged. The positive-
    // balance average arrives as a 1-row (sum, count) broadcast and
    // the comparison is multiplicative (bal × cnt > sum), exact in
    // both engines. At 100 TB: one 1-row broadcast, one anti-join
    // shuffled on custkey against date-pruned orders, one grouped agg.
    QueryDef("q_tpch_q22",
      (s, d) => {
        val cust = Tables.customer(s, d)
        val posAvg = cust.filter(col("c_acctbal") > 0.0)
          .agg(sum(dec(col("c_acctbal"))).as("pos_sum"),
            count(lit(1)).as("pos_cnt"))
        val nations = Tables.nation(s, d)
          .filter(col("n_name").isin("NATION_1", "NATION_5", "NATION_9",
            "NATION_13", "NATION_17", "NATION_21", "NATION_2"))
          .select(col("n_nationkey"), col("n_name"))
        val recent = Tables.orders(s, d)
          .filter(col("o_orderdate") >= lit("2000-01-01").cast("timestamp"))
          .select(col("o_custkey"))
        cust.join(broadcast(nations), col("c_nationkey") === col("n_nationkey"))
          .crossJoin(broadcast(posAvg))
          .filter(dec(col("c_acctbal")) * col("pos_cnt") > col("pos_sum"))
          .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
          .groupBy(col("n_name"))
          .agg(count(lit(1)).as("numcust"),
            sum(dec(col("c_acctbal"))).cast("double").as("totacctbal"))
          .orderBy(col("n_name"))
      },
      Some("""SELECT n_name, COUNT(*) AS numcust,
             |CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
             |  AS totacctbal
             |FROM customer JOIN nation ON c_nationkey = n_nationkey,
             |(SELECT SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS pos_sum,
             |  COUNT(*) AS pos_cnt FROM customer WHERE c_acctbal > 0.0) a
             |WHERE n_name IN ('NATION_1','NATION_5','NATION_9',
             |  'NATION_13','NATION_17','NATION_21','NATION_2')
             |AND CAST(c_acctbal AS DECIMAL(18,2)) * pos_cnt > pos_sum
             |AND NOT EXISTS (SELECT 1 FROM orders
             |  WHERE o_custkey = c_custkey
             |  AND o_orderdate >= TIMESTAMP '2000-01-01')
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // TPC-H Q2 shape (minimum-cost supplier): the correlated-MIN-
    // subquery query. partsupp is derived — lineitem IS a (partkey,
    // suppkey) relation, and MIN(l_extendedprice) per pair plays
    // ps_supplycost; the min is an exact DECIMAL so the min-equality
    // join back is deterministic in both engines. Spark-first: the
    // selective part filter (LARGE, size 10–20) broadcasts INTO the
    // lineitem scan BEFORE the pair aggregation — the SQL's
    // "aggregate all of partsupp, then filter" would shuffle the
    // whole fact for rows that are then discarded. Region-filtered
    // suppliers broadcast (one region ≈ |supplier|/5); the per-part
    // min is |selected parts| rows, broadcast back rather than
    // window-ranked.
    QueryDef("q_tpch_q2",
      (s, d) => {
        val pSel = Tables.part(s, d)
          .filter(col("p_type") === "LARGE" && col("p_size").between(10, 20))
          .select(col("p_partkey"), col("p_name"))
        val euSupp = Tables.supplier(s, d)
          .join(broadcast(Tables.nation(s, d)
              .join(broadcast(Tables.region(s, d)
                  .filter(col("r_name") === "EUROPE")),
                col("n_regionkey") === col("r_regionkey"))
              .select(col("n_nationkey"), col("n_name"))),
            col("s_nationkey") === col("n_nationkey"))
          .select(col("s_suppkey"), col("s_name"), col("s_acctbal"),
            col("n_name"))
        val ps = Tables.lineitem(s, d)
          .select(col("l_partkey"), col("l_suppkey"), col("l_extendedprice"))
          .join(broadcast(pSel.select(col("p_partkey"))),
            col("l_partkey") === col("p_partkey"), "left_semi")
          .groupBy(col("l_partkey").as("ps_partkey"),
            col("l_suppkey").as("ps_suppkey"))
          .agg(min(dec(col("l_extendedprice"))).as("ps_supplycost"))
        val euCosts = ps.join(euSupp, col("ps_suppkey") === col("s_suppkey"))
        val minCost = euCosts.groupBy(col("ps_partkey").as("mk"))
          .agg(min(col("ps_supplycost")).as("min_cost"))
        euCosts.join(broadcast(minCost),
            col("ps_partkey") === col("mk") &&
              col("ps_supplycost") === col("min_cost"))
          .join(broadcast(pSel), col("ps_partkey") === col("p_partkey"))
          .select(col("s_acctbal"), col("s_name"), col("n_name"),
            col("p_partkey"), col("p_name"),
            col("ps_supplycost").cast("double").as("supplycost"))
          .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"),
            col("p_partkey"))
          .limit(100)
      },
      Some("""WITH ps AS (SELECT l_partkey AS ps_partkey,
             |    l_suppkey AS ps_suppkey,
             |    MIN(CAST(l_extendedprice AS DECIMAL(18,2))) AS ps_supplycost
             |  FROM lineitem GROUP BY 1, 2),
             |eu AS (SELECT s_suppkey, s_name, s_acctbal, n_name
             |  FROM supplier JOIN nation ON s_nationkey = n_nationkey
             |  JOIN region ON n_regionkey = r_regionkey
             |  WHERE r_name = 'EUROPE')
             |SELECT s_acctbal, s_name, n_name, p_partkey, p_name,
             |  CAST(ps_supplycost AS DOUBLE) AS supplycost
             |FROM part JOIN ps ON p_partkey = ps_partkey
             |JOIN eu ON ps_suppkey = s_suppkey
             |WHERE p_type = 'LARGE' AND p_size BETWEEN 10 AND 20
             |AND ps_supplycost = (SELECT MIN(ps2.ps_supplycost)
             |  FROM ps ps2 JOIN eu eu2 ON ps2.ps_suppkey = eu2.s_suppkey
             |  WHERE ps2.ps_partkey = p_partkey)
             |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
             |LIMIT 100""".stripMargin)),

    // TPC-H Q9 shape (product type profit): profit decomposition over
    // the 6-way join, grouped by supplier nation and order year.
    // Adapted: supply cost comes from the derived partsupp relation
    // (MIN price per pair), so profit = volume − cost × quantity, all
    // DECIMAL until the final cast. The part-name filter broadcasts
    // into lineitem before BOTH consumers (the pair aggregation and
    // the fact rows), so at 100 TB the two lineitem passes each scan
    // only the matching-part slice and shuffle on the same pair key.
    QueryDef("q_tpch_q9",
      (s, d) => {
        val pRed = Tables.part(s, d)
          .filter(col("p_name").like("red%")).select(col("p_partkey"))
        val li = Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
            col("l_quantity"), col("l_extendedprice"), col("l_discount"))
          .join(broadcast(pRed), col("l_partkey") === col("p_partkey"),
            "left_semi")
        val ps = li
          .groupBy(col("l_partkey").as("ps_pk"), col("l_suppkey").as("ps_sk"))
          .agg(min(dec(col("l_extendedprice"))).as("ps_supplycost"))
        val supNation = Tables.supplier(s, d)
          .join(broadcast(Tables.nation(s, d)
              .select(col("n_nationkey"), col("n_name").as("nation"))),
            col("s_nationkey") === col("n_nationkey"))
          .select(col("s_suppkey"), col("nation"))
        li.join(ps, col("l_partkey") === col("ps_pk") &&
            col("l_suppkey") === col("ps_sk"))
          .join(Tables.orders(s, d)
              .select(col("o_orderkey"), col("o_orderdate")),
            col("l_orderkey") === col("o_orderkey"))
          .join(supNation, col("l_suppkey") === col("s_suppkey"))
          .groupBy(col("nation"), year(col("o_orderdate")).as("o_year"))
          .agg(sum(volume - col("ps_supplycost") * dec(col("l_quantity")))
            .cast("double").as("sum_profit"))
          .orderBy(col("nation"), col("o_year").desc)
      },
      Some("""SELECT nation, o_year,
             |CAST(SUM(amount) AS DOUBLE) AS sum_profit FROM (
             |  SELECT n_name AS nation,
             |    CAST(year(o_orderdate) AS INTEGER) AS o_year,
             |    CAST(l_extendedprice AS DECIMAL(18,2))
             |      * CAST(1 - l_discount AS DECIMAL(4,2))
             |      - ps_supplycost * CAST(l_quantity AS DECIMAL(18,2))
             |      AS amount
             |  FROM lineitem
             |  JOIN (SELECT l_partkey AS ps_pk, l_suppkey AS ps_sk,
             |      MIN(CAST(l_extendedprice AS DECIMAL(18,2)))
             |        AS ps_supplycost
             |    FROM lineitem
             |    WHERE l_partkey IN
             |      (SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
             |    GROUP BY 1, 2) ps
             |    ON l_partkey = ps_pk AND l_suppkey = ps_sk
             |  JOIN part ON p_partkey = l_partkey
             |  JOIN supplier ON s_suppkey = l_suppkey
             |  JOIN orders ON o_orderkey = l_orderkey
             |  JOIN nation ON s_nationkey = n_nationkey
             |  WHERE p_name LIKE 'red%')
             |GROUP BY 1, 2 ORDER BY nation, o_year DESC""".stripMargin)),

    // TPC-H Q11 shape (important stock): a grouped aggregate compared
    // against a fraction of the same aggregate's grand total — the
    // scalar-subquery-HAVING query. Adapted: "value held in one
    // nation" is the sum of derived pair costs for that nation's
    // suppliers. The fraction comparison is multiplicative
    // (v × 1000 > total, both exact DECIMALs) so neither engine
    // divides. The grand total is ONE row broadcast back; the
    // nation's supplier keys broadcast into the lineitem scan.
    QueryDef("q_tpch_q11",
      (s, d) => {
        val natSupp = Tables.supplier(s, d)
          .join(broadcast(Tables.nation(s, d)
              .filter(col("n_name") === "NATION_7")),
            col("s_nationkey") === col("n_nationkey"))
          .select(col("s_suppkey"))
        val ps = Tables.lineitem(s, d)
          .select(col("l_partkey"), col("l_suppkey"), col("l_extendedprice"))
          .join(broadcast(natSupp), col("l_suppkey") === col("s_suppkey"),
            "left_semi")
          .groupBy(col("l_partkey").as("ps_partkey"),
            col("l_suppkey").as("ps_suppkey"))
          .agg(min(dec(col("l_extendedprice"))).as("ps_supplycost"))
        val value = ps.groupBy(col("ps_partkey"))
          .agg(sum(col("ps_supplycost")).as("v"))
        val total = value.agg(sum(col("v")).as("t"))
        value.crossJoin(broadcast(total))
          .filter(col("v") * lit(1000) > col("t"))
          .select(col("ps_partkey"), col("v").cast("double").as("value"))
          .orderBy(col("value").desc, col("ps_partkey"))
      },
      Some("""WITH ps AS (SELECT l_partkey AS ps_partkey,
             |    l_suppkey AS ps_suppkey,
             |    MIN(CAST(l_extendedprice AS DECIMAL(18,2))) AS ps_supplycost
             |  FROM lineitem
             |  WHERE l_suppkey IN (SELECT s_suppkey FROM supplier
             |    JOIN nation ON s_nationkey = n_nationkey
             |    WHERE n_name = 'NATION_7')
             |  GROUP BY 1, 2),
             |pv AS (SELECT ps_partkey, SUM(ps_supplycost) AS v
             |  FROM ps GROUP BY 1)
             |SELECT ps_partkey, CAST(v AS DOUBLE) AS value FROM pv
             |WHERE v * 1000 > (SELECT SUM(v) FROM pv)
             |ORDER BY value DESC, ps_partkey""".stripMargin)),

    // TPC-H Q12 shape (shipping modes / priority classes): conditional
    // counts across the orders⋈lineitem join. Adapted: l_shipmode does
    // not exist, so the class column is l_returnflag; "received later
    // than committed" is l_shipdate > o_orderdate + 30 days (Q4's
    // adaptation) with the receipt-year window on l_shipdate. One
    // shuffle join on the order key, one tiny grouped agg.
    QueryDef("q_tpch_q12",
      (s, d) => Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
        .select(col("l_orderkey"), col("l_returnflag"), col("l_shipdate"))
        .join(Tables.orders(s, d)
            .select(col("o_orderkey"), col("o_orderdate"),
              col("o_orderpriority")),
          col("l_orderkey") === col("o_orderkey") &&
            col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 30 DAYS"))
        .groupBy(col("l_returnflag"))
        .agg(
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
            .otherwise(0L)).as("high_line_count"),
          sum(when(!col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
            .otherwise(0L)).as("low_line_count"))
        .orderBy(col("l_returnflag")),
      Some("""SELECT l_returnflag,
             |CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
             |  THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
             |CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH')
             |  THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
             |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
             |WHERE l_shipdate > o_orderdate + INTERVAL 30 DAY
             |AND l_shipdate >= TIMESTAMP '1996-01-01'
             |AND l_shipdate < TIMESTAMP '1997-01-01'
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // TPC-H Q16 shape (parts/supplier relationship): COUNT(DISTINCT)
    // over the derived pair relation with a NOT-IN supplier side
    // filter. Adapted: "complaint" suppliers are those with negative
    // account balance (a tiny list — broadcast anti-join, never a
    // shuffle). The triple part filter broadcasts into the pair scan;
    // pairs are DISTINCT'd before the attribute join so the count-
    // distinct agg sees each (part, supplier) once.
    QueryDef("q_tpch_q16",
      (s, d) => {
        val pSel = Tables.part(s, d)
          .filter(col("p_brand") =!= "Brand#5" &&
            !col("p_type").isin("PROMO", "ECONOMY") &&
            col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45))
          .select(col("p_partkey"), col("p_brand"), col("p_type"),
            col("p_size"))
        val complainers = Tables.supplier(s, d)
          .filter(col("s_acctbal") < 0).select(col("s_suppkey"))
        Tables.lineitem(s, d).select(col("l_partkey"), col("l_suppkey"))
          .join(broadcast(pSel.select(col("p_partkey"))),
            col("l_partkey") === col("p_partkey"), "left_semi")
          .join(broadcast(complainers),
            col("l_suppkey") === col("s_suppkey"), "left_anti")
          .distinct()
          .join(broadcast(pSel), col("l_partkey") === col("p_partkey"))
          .groupBy(col("p_brand"), col("p_type"), col("p_size"))
          .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
          .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
            col("p_size"))
      },
      Some("""SELECT p_brand, p_type, p_size,
             |COUNT(DISTINCT l_suppkey) AS supplier_cnt
             |FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
             |  WHERE l_suppkey NOT IN
             |    (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)) pr
             |JOIN part ON p_partkey = l_partkey
             |WHERE p_brand <> 'Brand#5'
             |AND p_type NOT IN ('PROMO', 'ECONOMY')
             |AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
             |GROUP BY 1, 2, 3
             |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size"""
        .stripMargin)),

    // TPC-H Q20 shape (potential part promotion): nested semi-joins
    // gated by a correlated aggregate threshold. Adapted: ps_availqty
    // is the pair's all-time shipped quantity and the original's
    // "avail > 0.5 × one year's shipments" becomes
    // "all-time > 2 × the 1996 window's shipments" — the same
    // correlated conditional-sum compared multiplicatively in exact
    // DECIMAL, no halving division. The part-name filter broadcasts
    // into lineitem before the pair aggregation; qualifying supplier
    // keys semi-join the nation-filtered supplier dim.
    QueryDef("q_tpch_q20",
      (s, d) => {
        val pSmall = Tables.part(s, d)
          .filter(col("p_name").like("small%")).select(col("p_partkey"))
        val qty = Tables.lineitem(s, d)
          .select(col("l_partkey"), col("l_suppkey"), col("l_quantity"),
            col("l_shipdate"))
          .join(broadcast(pSmall), col("l_partkey") === col("p_partkey"),
            "left_semi")
          .groupBy(col("l_partkey"), col("l_suppkey"))
          .agg(sum(dec(col("l_quantity"))).as("total_qty"),
            sum(when(
              col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
                col("l_shipdate") < lit("1997-01-01").cast("timestamp"),
              dec(col("l_quantity")))
              .otherwise(lit(0).cast(DecimalType(18, 2)))).as("yr_qty"))
        val excess = qty.filter(col("total_qty") > col("yr_qty") * lit(2))
          .select(col("l_suppkey"))
        Tables.supplier(s, d)
          .join(broadcast(Tables.nation(s, d)
              .filter(col("n_name") === "NATION_3")),
            col("s_nationkey") === col("n_nationkey"))
          .join(excess, col("s_suppkey") === col("l_suppkey"), "left_semi")
          .select(col("s_name"), col("s_acctbal"))
          .orderBy(col("s_name"))
      },
      Some("""SELECT s_name, s_acctbal FROM supplier
             |JOIN nation ON s_nationkey = n_nationkey
             |WHERE n_name = 'NATION_3'
             |AND s_suppkey IN (SELECT l_suppkey FROM (
             |  SELECT l_partkey, l_suppkey,
             |    SUM(CAST(l_quantity AS DECIMAL(18,2))) AS total_qty,
             |    SUM(CASE WHEN l_shipdate >= TIMESTAMP '1996-01-01'
             |      AND l_shipdate < TIMESTAMP '1997-01-01'
             |      THEN CAST(l_quantity AS DECIMAL(18,2))
             |      ELSE CAST(0 AS DECIMAL(18,2)) END) AS yr_qty
             |  FROM lineitem
             |  WHERE l_partkey IN (SELECT p_partkey FROM part
             |    WHERE p_name LIKE 'small%')
             |  GROUP BY 1, 2)
             |  WHERE total_qty > yr_qty * 2)
             |ORDER BY s_name""".stripMargin)),

    // TPC-H Q21 shape (suppliers who kept orders waiting): the double
    // correlated EXISTS/NOT-EXISTS. Adapted: "late" is l_shipdate >
    // o_orderdate + 60 days (Q4's adaptation). Spark-first: instead of
    // two correlated self-joins against lineitem, ONE shuffle on the
    // order key computes per-order distinct-supplier and distinct-
    // late-supplier counts as window aggregates over the already-
    // joined rows (per-order groups are tiny, so collect_set is
    // bounded); EXISTS(other supplier) ⇔ n_supp ≥ 2 and
    // NOT EXISTS(other late supplier) ⇔ n_late = 1 given the row
    // itself is late. The nation filter applies only to the counted
    // supplier, never to the per-order evidence.
    QueryDef("q_tpch_q21",
      (s, d) => {
        val joined = Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
          .join(Tables.orders(s, d)
              .filter(col("o_orderstatus") === "F")
              .select(col("o_orderkey"), col("o_orderdate")),
            col("l_orderkey") === col("o_orderkey"))
          .withColumn("late",
            col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"))
        val w = Window.partitionBy(col("l_orderkey"))
        val flagged = joined
          .withColumn("n_supp", size(collect_set(col("l_suppkey")).over(w)))
          .withColumn("n_late", size(collect_set(
            when(col("late"), col("l_suppkey"))).over(w)))
        val waiting = flagged
          .filter(col("late") && col("n_supp") >= 2 && col("n_late") === 1)
          .groupBy(col("l_suppkey")).agg(count(lit(1)).as("numwait"))
        waiting
          .join(Tables.supplier(s, d)
              .join(broadcast(Tables.nation(s, d)
                  .filter(col("n_name") === "NATION_1")),
                col("s_nationkey") === col("n_nationkey"))
              .select(col("s_suppkey"), col("s_name")),
            col("l_suppkey") === col("s_suppkey"))
          // grouped by name, as the query is declared: suppliers that
          // share a name are one group (names repeat in a ScaleGen
          // directory, one per replica)
          .groupBy(col("s_name")).agg(sum(col("numwait")).as("numwait"))
          .orderBy(col("numwait").desc, col("s_name"))
          .limit(100)
      },
      Some("""SELECT s_name, COUNT(*) AS numwait FROM supplier
             |JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
             |JOIN orders ON o_orderkey = l1.l_orderkey
             |JOIN nation ON s_nationkey = n_nationkey
             |WHERE o_orderstatus = 'F' AND n_name = 'NATION_1'
             |AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
             |AND EXISTS (SELECT 1 FROM lineitem l2
             |  WHERE l2.l_orderkey = l1.l_orderkey
             |  AND l2.l_suppkey <> l1.l_suppkey)
             |AND NOT EXISTS (SELECT 1 FROM lineitem l3
             |  WHERE l3.l_orderkey = l1.l_orderkey
             |  AND l3.l_suppkey <> l1.l_suppkey
             |  AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
             |GROUP BY 1 ORDER BY numwait DESC, s_name
             |LIMIT 100""".stripMargin))
  )
}
