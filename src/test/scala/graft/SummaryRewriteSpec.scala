package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
  LogicalRelation}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.{SummaryCatalog, SummaryRewrite}
import graft.util.TempDirs

/** The materialized-rollup rewrite (plans/SummaryRewrite.scala) is a
  * LIVE optimizer rule in every production session — any defect in it
  * is silent wrong answers. This suite pins, on a session that carries
  * GraftExtensions:
  *  - the rewrite FIRES (the optimized plan scans the summary parquet,
  *    not the base) and its results equal the un-rewritten aggregation
  *    bit-for-bit (schema included), across key subsets, key filters,
  *    null measures, null KEYS, decimal sums, duplicate output
  *    aliases, and the key-column aggregates (COUNT DISTINCT over
  *    keys, key MIN/MAX, COUNT(key));
  *  - every refusal case refuses: AVG, COUNT(DISTINCT measure) and
  *    mixed key/measure distincts, SUM(DISTINCT), COUNT(NULL),
  *    measure-column filters, non-registered tables, subset-path scans
  *    of a multi-path registration, and a STALE rollup (base appended
  *    after register).
  */
class SummaryRewriteSpec extends AnyFunSuite {

  /** The shared session carries GraftExtensions, so the rewrite is live
    * in it. */
  private def ext = SparkTestSession.spark

  /** Evaluates `f` with the rewrite excluded from the optimizer: the
    * un-rewritten reference every rewritten plan must equal. */
  private def unrewritten[T](f: => T): T = {
    ext.conf.set("spark.sql.optimizer.excludedRules",
      SummaryRewrite.ruleName)
    try f finally ext.conf.unset("spark.sql.optimizer.excludedRules")
  }

  private def sortedRows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq

  private lazy val root = TempDirs.create("graft-rollup").toString
  private lazy val basePath = s"$root/base"
  private lazy val sumPath = s"$root/summary"

  /** 200 rows over 2 keys with null measures AND null k2 rows in the
    * mix (null keys form their own rollup group — the key-aggregate
    * rewrites must skip them exactly like COUNT/COUNT DISTINCT do):
    * m1 decimal (the order-independent sum), m2 long. */
  private def seedBase(): Unit = {
    ext.range(200).select(
        concat(lit("k"), (col("id") % 3).cast("string")).as("k1"),
        when(col("id") % 13 =!= 0, (col("id") % 5).cast("int")).as("k2"),
        when(col("id") % 7 =!= 0,
          ((col("id") * 7 % 1000) / 4).cast("decimal(18,2)")).as("m1"),
        when(col("id") % 11 =!= 0, col("id") * 13 % 97).as("m2"))
      .write.mode("overwrite").parquet(basePath)
  }

  private def registerRollup(): Unit = {
    val base = ext.read.parquet(basePath)
    SummaryCatalog.buildSummary(base, Seq("k1", "k2"), Seq("m1", "m2"))
      .write.mode("overwrite").parquet(sumPath)
    SummaryCatalog.register(base, ext.read.parquet(sumPath),
      Seq("k1", "k2"), Seq("m1", "m2"))
  }

  private def fixture(): Unit = {
    seedBase()
    SummaryCatalog.clear()
    registerRollup()
  }

  private def scannedPaths(df: DataFrame): Set[String] =
    df.queryExecution.optimizedPlan.collect {
      case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
        fs.location.rootPaths.map(_.toString)
    }.flatten.toSet

  private def scansSummary(df: DataFrame): Boolean = {
    val p = scannedPaths(df)
    p.exists(_.endsWith("/summary")) && !p.exists(_.endsWith("/base"))
  }

  /** Bit-for-bit: same schema (the cast contract) and same rows as
    * `plain`, which is planned [[unrewritten]] and must scan only the
    * base. */
  private def assertMatchesPlain(rewritten: DataFrame, plain: => DataFrame,
      clue: String = ""): Unit = {
    val got = sortedRows(rewritten)
    val (schema, exp) = unrewritten {
      val p = plain
      assert(scannedPaths(p).forall(_.endsWith("/base")),
        s"$clue\n${p.queryExecution.optimizedPlan}")
      (p.schema, sortedRows(p))
    }
    assert(rewritten.schema == schema,
      s"$clue schema drift: ${rewritten.schema} vs $schema")
    assert(got == exp, clue)
  }

  private def assertMatchesBase(rewritten: DataFrame,
      build: DataFrame => DataFrame): Unit =
    assertMatchesPlain(rewritten, build(ext.read.parquet(basePath)))

  private def aggAll(base: DataFrame): DataFrame =
    base.groupBy("k1", "k2").agg(
      sum("m1").as("s1"), min("m1").as("lo1"), max("m1").as("hi1"),
      sum("m2").as("s2"), count(lit(1)).as("n"), count("m2").as("n2"))

  test("rewrite fires on the full key set and matches the base " +
      "bit-for-bit (nulls, decimals, counts)") {
    fixture()
    val df = aggAll(ext.read.parquet(basePath))
    assert(scansSummary(df), df.queryExecution.optimizedPlan.toString)
    assertMatchesBase(df, aggAll)
  }

  test("key-subset grouping and key-only filters rewrite; the filter " +
      "applies to the summary") {
    fixture()
    def q(b: DataFrame) = b.filter(col("k2") > 1).groupBy("k1")
      .agg(sum("m1").as("s1"), count(lit(1)).as("n"))
    val df = q(ext.read.parquet(basePath))
    assert(scansSummary(df), df.queryExecution.optimizedPlan.toString)
    assertMatchesBase(df, q)
    // global aggregate (empty grouping) rewrites too
    def g(b: DataFrame) =
      b.agg(count(lit(1)).as("n"), sum("m2").as("s2"))
    val gl = g(ext.read.parquet(basePath))
    assert(scansSummary(gl), gl.queryExecution.optimizedPlan.toString)
    assertMatchesBase(gl, g)
  }

  test("global COUNT over an EMPTY base returns 0 through the " +
      "coalesce, not null") {
    val eb = s"$root/empty-base"
    val es = s"$root/empty-sum"
    ext.range(0).select(lit("x").as("k1"), lit(0).as("m1"))
      .write.mode("overwrite").parquet(eb)
    val base = ext.read.parquet(eb)
    SummaryCatalog.buildSummary(base, Seq("k1"), Seq("m1"))
      .write.mode("overwrite").parquet(es)
    SummaryCatalog.clear()
    SummaryCatalog.register(base, ext.read.parquet(es), Seq("k1"),
      Seq("m1"))
    val df = ext.read.parquet(eb).agg(count(lit(1)).as("n"))
    assert(scannedPaths(df).exists(_.contains("empty-sum")),
      df.queryExecution.optimizedPlan.toString)
    assert(df.collect().head.getLong(0) == 0L)
  }

  test("duplicate output aliases each keep their OWN type and value") {
    fixture()
    // sum(m2) is long->long, max(m1) is decimal(18,2): under the old
    // find-by-name binding the second alias inherited the first's
    // exprId and dataType — a wrong cast. Both must come back right.
    def q(b: DataFrame) = b.groupBy("k1")
      .agg(sum("m2").as("s"), max("m1").as("s"))
    val df = q(ext.read.parquet(basePath))
    assert(scansSummary(df), df.queryExecution.optimizedPlan.toString)
    assertMatchesBase(df, q)
  }

  test("KEY-column aggregates rewrite exactly: COUNT(DISTINCT key), " +
      "MIN/MAX(key), COUNT(key) — null-key rows skipped on both sides") {
    fixture()
    // grouped distinct: the dashboard shape — distinct k2 per k1 from
    // the summary's group list, never the base
    def q1(b: DataFrame) = b.groupBy("k1").agg(
      countDistinct("k2").as("dk"), min("k2").as("lo"),
      max("k2").as("hi"), count("k2").as("nk"), count(lit(1)).as("n"))
    val d1 = q1(ext.read.parquet(basePath))
    assert(scansSummary(d1), d1.queryExecution.optimizedPlan.toString)
    assertMatchesBase(d1, q1)
    // the seed really has null k2 rows: COUNT(k2) < COUNT(*) somewhere
    // (columns: k1, dk, lo, hi, nk, n — n at 5, nk at 4)
    assert(d1.collect().exists(r => r.getLong(5) > r.getLong(4)))
    // global + multi-column distinct (null tuples skipped identically)
    def q2(b: DataFrame) = b.agg(
      countDistinct("k1", "k2").as("dk"), count(lit(1)).as("n"))
    val d2 = q2(ext.read.parquet(basePath))
    assert(scansSummary(d2), d2.queryExecution.optimizedPlan.toString)
    assertMatchesBase(d2, q2)
    // mixed with measure partials + a key filter in one aggregate
    def q3(b: DataFrame) = b.filter(col("k1") =!= "k1").groupBy("k2")
      .agg(countDistinct("k1").as("dk"), sum("m1").as("s1"),
        count("m2").as("n2"))
    val d3 = q3(ext.read.parquet(basePath))
    assert(scansSummary(d3), d3.queryExecution.optimizedPlan.toString)
    assertMatchesBase(d3, q3)
    // key EXPRESSIONS inside the aggregates: distinct/min/max/count of
    // f(key) are all exact over the summary's group list (null-strict
    // f of the null-key rows skipped identically on both sides)
    def q4(b: DataFrame) = b.groupBy("k1").agg(
      countDistinct(col("k2") % 3).as("dm"),
      min(substring(col("k1"), 2, 1)).as("lo"),
      max(col("k2") * 10).as("hi"),
      count(col("k2") % 2).as("nf"),
      sum("m2").as("s2"))
    val d4 = q4(ext.read.parquet(basePath))
    assert(scansSummary(d4), d4.queryExecution.optimizedPlan.toString)
    assertMatchesBase(d4, q4)
  }

  test("grouping by deterministic EXPRESSIONS of key columns rewrites " +
      "(the GROUP BY month(day_key) dashboard shape)") {
    fixture()
    def q(b: DataFrame) = b.groupBy(
        upper(col("k1")).as("uk"), (col("k2") % 2).as("k2m"))
      .agg(sum("m1").as("s1"), countDistinct("k2").as("dk"),
        count(lit(1)).as("n"))
    val df = q(ext.read.parquet(basePath))
    assert(scansSummary(df), df.queryExecution.optimizedPlan.toString)
    assertMatchesBase(df, q)
    // key filter + expression grouping compose
    def qf(b: DataFrame) = b.filter(col("k2") > 0)
      .groupBy(substring(col("k1"), 2, 1).as("suffix"))
      .agg(max("m2").as("x"))
    val dff = qf(ext.read.parquet(basePath))
    assert(scansSummary(dff), dff.queryExecution.optimizedPlan.toString)
    assertMatchesBase(dff, qf)
    // alias bindings resolve through peeled Projects: a renamed
    // measure still rewrites (sum("x") is sum(m1) in base terms)
    def qa(b: DataFrame) = b.select(col("k1"), col("m1").as("x"))
      .groupBy("k1").agg(sum("x").as("s"))
    val da = qa(ext.read.parquet(basePath))
    assert(scansSummary(da), da.queryExecution.optimizedPlan.toString)
    assertMatchesBase(da, qa)
    // refusals: grouping over a measure, non-deterministic grouping
    val gm = ext.read.parquet(basePath)
      .groupBy((col("m2") % 2).as("g")).agg(count(lit(1)).as("n"))
    assert(!scansSummary(gm), gm.queryExecution.optimizedPlan.toString)
    val gr = ext.read.parquet(basePath)
      .groupBy((rand(7) * 0 + col("k2")).as("g"))
      .agg(count(lit(1)).as("n"))
    assert(!scansSummary(gr), gr.queryExecution.optimizedPlan.toString)
  }

  test("refusals: AVG, COUNT(DISTINCT measure), COUNT(NULL), measure " +
      "filter, unregistered table, SUM(DISTINCT measure)") {
    fixture()
    val base = ext.read.parquet(basePath)
    val avg1 = base.groupBy("k1").agg(avg("m1").as("a"))
    assert(!scansSummary(avg1),
      avg1.queryExecution.optimizedPlan.toString)
    val cd = base.groupBy("k1").agg(countDistinct("m2").as("d"))
    assert(!scansSummary(cd), cd.queryExecution.optimizedPlan.toString)
    // distinct over a MIX of key and measure refuses too
    val cdm = base.groupBy("k1").agg(countDistinct("k2", "m2").as("d"))
    assert(!scansSummary(cdm), cdm.queryExecution.optimizedPlan.toString)
    val sd = base.groupBy("k1").agg(sum_distinct(col("m2")).as("sd"))
    assert(!scansSummary(sd), sd.queryExecution.optimizedPlan.toString)
    // COUNT(NULL) must be 0, never the row count. (Upstream constant
    // folding turns count(null) into a literal 0 alias before this
    // rule runs, so the aggregate MAY legitimately rewrite — the
    // remapFn guard `l.value != null` is belt-and-braces for plans
    // where folding hasn't happened. Either way the VALUES must be
    // exact.)
    def qcn(b: DataFrame) = b.groupBy("k1")
      .agg(count(lit(null)).as("c"), count(lit(1)).as("n"))
    val cn = qcn(base)
    val r = cn.collect() // columns: k1, c, n
    assert(r.forall(_.getLong(2) > 0L))
    assert(r.forall(_.getLong(1) == 0L))
    assertMatchesBase(cn, qcn)
    // a filter on a measure column does not commute with the rollup
    val mf = base.filter(col("m2") > 50).groupBy("k1")
      .agg(sum("m1").as("s"))
    assert(!scansSummary(mf), mf.queryExecution.optimizedPlan.toString)
    // an unrelated table is untouched
    val other = s"$root/other"
    ext.range(10).select(lit("a").as("k1"), col("id").as("m2"))
      .write.mode("overwrite").parquet(other)
    val ot = ext.read.parquet(other).groupBy("k1")
      .agg(sum("m2").as("s"))
    assert(!scannedPaths(ot).exists(_.contains("summary")),
      ot.queryExecution.optimizedPlan.toString)
  }

  test("a scan over a strict SUBSET of a multi-path registration " +
      "never rewrites") {
    val pa = s"$root/multi-a"
    val pb = s"$root/multi-b"
    ext.range(50).select(lit("a").as("k1"), col("id").as("m2"))
      .write.mode("overwrite").parquet(pa)
    ext.range(50).select(lit("b").as("k1"), (col("id") * 2).as("m2"))
      .write.mode("overwrite").parquet(pb)
    val both = ext.read.parquet(pa, pb)
    val ms = s"$root/multi-sum"
    SummaryCatalog.buildSummary(both, Seq("k1"), Seq("m2"))
      .write.mode("overwrite").parquet(ms)
    SummaryCatalog.clear()
    SummaryCatalog.register(both, ext.read.parquet(ms), Seq("k1"),
      Seq("m2"))
    // full-set scan rewrites...
    val full = ext.read.parquet(pa, pb).groupBy("k1")
      .agg(sum("m2").as("s"))
    assert(scannedPaths(full).exists(_.contains("multi-sum")),
      full.queryExecution.optimizedPlan.toString)
    // ...the single-path scan must NOT (it reads half the rows)
    val half = ext.read.parquet(pa).groupBy("k1")
      .agg(sum("m2").as("s"))
    assert(!scannedPaths(half).exists(_.contains("multi-sum")),
      half.queryExecution.optimizedPlan.toString)
    assert(half.collect().map(_.getLong(1)).sum == (0 until 50).sum)
  }

  test("a STALE rollup (base appended after register) refuses and the " +
      "live scan answers; re-registering re-arms") {
    fixture()
    // sanity: armed before the append
    assert(scansSummary(ext.read.parquet(basePath).groupBy("k1")
      .agg(sum("m2").as("s"))))
    ext.range(1000, 1010).select(lit("k9").as("k1"), lit(1).as("k2"),
        lit(java.math.BigDecimal.valueOf(5)).cast("decimal(18,2)")
          .as("m1"), col("id").as("m2"))
      .write.mode("append").parquet(basePath)
    def q(b: DataFrame) = b.groupBy("k1").agg(count(lit(1)).as("n"))
    val df = q(ext.read.parquet(basePath))
    assert(!scansSummary(df), df.queryExecution.optimizedPlan.toString)
    // the new k9 group is visible — pre-append aggregates were not
    // silently served
    assert(df.collect().exists(r => r.getString(0) == "k9" &&
      r.getLong(1) == 10L))
    assertMatchesBase(df, q)
    // rebuild + re-register over the appended base: armed again
    registerRollup()
    val re = q(ext.read.parquet(basePath))
    assert(scansSummary(re), re.queryExecution.optimizedPlan.toString)
    assertMatchesBase(re, q)
    SummaryCatalog.clear()
  }

  test("q_summary_rewrite + q_summary_distinct (the oracled registry " +
      "entries) are ANSWERED from the rollup scan and equal the " +
      "un-rewritten runs") {
    SummaryCatalog.clear()
    // q_summary_sketch joins a rewritable estimate branch with a
    // deliberately-refusing exact-distinct branch: its plan must scan
    // BOTH the summary (estimate) and the base (exact), and the
    // estimate must equal the un-rewritten direct sketch exactly
    locally {
      val q = SparkEntry.queries("q_summary_sketch")
      val sf = "/root/testdata/sf0.001"
      val df = q(ext, sf)
      val paths = scannedPaths(df)
      assert(paths.exists(_.endsWith("/summary")) &&
        paths.exists(_.endsWith("/base")),
        s"q_summary_sketch expected summary+base scans:\n" +
          df.queryExecution.optimizedPlan)
      assertMatchesPlain(df, q(ext, sf))
    }
    for (name <- Seq("q_summary_rewrite", "q_summary_distinct")) {
      val q = SparkEntry.queries(name)
      val sf = "/root/testdata/sf0.001"
      // extensions session: the rewrite must fire — plan-audit pin
      val df = q(ext, sf)
      val paths = scannedPaths(df)
      assert(paths.exists(_.endsWith("/summary")),
        s"$name not answered from the rollup:\n" +
          df.queryExecution.optimizedPlan)
      assert(!paths.exists(_.endsWith("/base")),
        df.queryExecution.optimizedPlan.toString)
      // rewrite excluded: bit-identical rows
      assertMatchesPlain(df, q(ext, sf), name)
    }
  }

  test("combineSummaries(old, increment) equals buildSummary over the " +
      "full base bit-for-bit, and the refresh flow re-arms the rewrite") {
    seedBase()
    SummaryCatalog.clear()
    registerRollup()
    // day-2 increment lands in the base dir → rollup goes stale
    val day2 = s"$root/day2-staging"
    ext.range(500, 560).select(
        concat(lit("k"), (col("id") % 4).cast("string")).as("k1"),
        (col("id") % 5).cast("int").as("k2"),
        when(col("id") % 5 =!= 0,
          ((col("id") * 3 % 700) / 4).cast("decimal(18,2)")).as("m1"),
        when(col("id") % 9 =!= 0, col("id") * 11 % 89).as("m2"))
      .write.mode("overwrite").parquet(day2)
    ext.read.parquet(day2).write.mode("append").parquet(basePath)
    // stale: the rewrite must refuse now
    assert(!scansSummary(ext.read.parquet(basePath).groupBy("k1")
      .agg(sum("m1").as("s"))))
    // incremental refresh: old summary + rollup of ONLY the increment
    val refreshed = SummaryCatalog.combineSummaries(
      ext.read.parquet(sumPath),
      SummaryCatalog.buildSummary(ext.read.parquet(day2),
        Seq("k1", "k2"), Seq("m1", "m2")),
      Seq("k1", "k2"), Seq("m1", "m2"))
    val full = SummaryCatalog.buildSummary(ext.read.parquet(basePath),
      Seq("k1", "k2"), Seq("m1", "m2"))
    // names + types must be stable (nullability differs only in the
    // live plans — COUNT is non-null there — and parquet round-trips
    // normalize both sides to nullable)
    assert(refreshed.schema.map(f => (f.name, f.dataType)) ==
      full.schema.map(f => (f.name, f.dataType)),
      s"refresh drifted the schema:\n${refreshed.schema}\n${full.schema}")
    val sort = (df: DataFrame) => df.collect().map(_.toSeq)
      .sortBy(_.mkString("|")).toSeq
    assert(sort(refreshed) == sort(full))
    // write + re-register the refreshed summary: rewrite re-armed and
    // answers include the day-2 rows
    refreshed.write.mode("overwrite").parquet(sumPath)
    SummaryCatalog.register(ext.read.parquet(basePath),
      ext.read.parquet(sumPath), Seq("k1", "k2"), Seq("m1", "m2"))
    def q(b: DataFrame) = b.groupBy("k1").agg(count(lit(1)).as("n"))
    val df = q(ext.read.parquet(basePath))
    assert(scansSummary(df), df.queryExecution.optimizedPlan.toString)
    assertMatchesBase(df, q)
    // mismatched rollup conventions fail loudly
    val err = intercept[IllegalArgumentException] {
      SummaryCatalog.combineSummaries(ext.read.parquet(sumPath),
        ext.range(1).select(lit("a").as("k1")), Seq("k1"), Seq("m1"))
    }
    assert(err.getMessage.contains("missing rollup columns"))
    SummaryCatalog.clear()
  }

  test("HLL sketch measures: the union of rollup partials estimates " +
      "IDENTICALLY to the direct sketch; lgK mismatch refuses") {
    seedBase()
    SummaryCatalog.clear()
    val base = ext.read.parquet(basePath)
    val hs = s"$root/hll-sum"
    SummaryCatalog.buildSummary(base, Seq("k1"), Seq("m1"),
        sketchMeasures = Seq("m2"), lgK = 12)
      .write.mode("overwrite").parquet(hs)
    SummaryCatalog.register(base, ext.read.parquet(hs), Seq("k1"),
      Seq("m1"), sketchMeasures = Seq("m2"), lgK = 12)
    def q(b: DataFrame) = b.groupBy("k1").agg(
      hll_sketch_estimate(hll_sketch_agg(col("m2"), 12)).as("est"),
      sum("m1").as("s1"))
    val df = q(ext.read.parquet(basePath))
    assert(scannedPaths(df).exists(_.contains("hll-sum")),
      df.queryExecution.optimizedPlan.toString)
    // estimate equality is EXACT: union of per-group sketches has the
    // same register state as the direct build
    assertMatchesBase(df, q)
    // a different lgK cannot be served by these partials
    def q13(b: DataFrame) = b.groupBy("k1").agg(
      hll_sketch_estimate(hll_sketch_agg(col("m2"), 13)).as("est"))
    val d13 = q13(ext.read.parquet(basePath))
    assert(!scannedPaths(d13).exists(_.contains("hll-sum")),
      d13.queryExecution.optimizedPlan.toString)
    assertMatchesBase(d13, q13)
    // refresh flow: combineSummaries unions the sketch partials and
    // the refreshed summary estimates exactly like a full rebuild
    val day2 = ext.range(5000, 5100).select(
      concat(lit("k"), (col("id") % 4).cast("string")).as("k1"),
      (col("id") % 5).cast("int").as("k2"),
      ((col("id") * 3 % 700) / 4).cast("decimal(18,2)").as("m1"),
      (col("id") * 11 % 89).as("m2"))
    day2.write.mode("append").parquet(basePath)
    val refreshed = SummaryCatalog.combineSummaries(
      ext.read.parquet(hs),
      SummaryCatalog.buildSummary(day2, Seq("k1"), Seq("m1"),
        sketchMeasures = Seq("m2")),
      Seq("k1"), Seq("m1"), sketchMeasures = Seq("m2"))
    val full = SummaryCatalog.buildSummary(ext.read.parquet(basePath),
      Seq("k1"), Seq("m1"), sketchMeasures = Seq("m2"))
    val estOf = (df: DataFrame) => df.select(col("k1"),
        hll_sketch_estimate(col("__hll_m2")).as("e"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(estOf(refreshed) == estOf(full))
    SummaryCatalog.clear()
  }

  test("PROPERTY: every generated aggregate shape equals the plain " +
      "session bit-for-bit (rewritten or refused), and the generator " +
      "does exercise the rewrite") {
    fixture()
    import org.scalacheck.{Gen, Prop, Test => ScTest}
    import org.apache.spark.sql.Column
    // aggregate pool mixing every rewrite path with every refusal path
    val aggPool: Seq[Column] = Seq(
      sum("m1"), sum("m2"), min("m1"), max("m2"), count(lit(1)),
      count(col("m1")), min(col("k2")), max(substring(col("k1"), 2, 1)),
      count(col("k2")), countDistinct(col("k2")),
      countDistinct(col("k1"), col("k2")), countDistinct(col("k2") % 3),
      avg(col("m1")),          // refusal: AVG
      countDistinct(col("m2")), // refusal: distinct measure
      sum_distinct(col("m2"))) // refusal: SUM(DISTINCT)
    val groupPool: Seq[Seq[Column]] = Seq(
      Seq.empty, Seq(col("k1")), Seq(col("k2")),
      Seq(col("k1"), col("k2")), Seq(upper(col("k1"))),
      Seq(col("k2") % 2), Seq(upper(col("k1")), col("k2") % 2))
    val filterPool: Seq[Option[Column]] = Seq(
      None, Some(col("k2") > 1), Some(col("k1") =!= "k0"),
      Some(col("m2") > 50)) // refusal: measure filter
    val gen = for {
      g <- Gen.oneOf(groupPool)
      f <- Gen.oneOf(filterPool)
      n <- Gen.chooseNum(1, 4)
      as <- Gen.pick(n, aggPool)
    } yield (g, f, as.toSeq)
    var fired = 0
    var total = 0
    val prop = Prop.forAll(gen) { case (g, f, as) =>
      def build(b: DataFrame): DataFrame = {
        val fb = f.fold(b)(b.filter)
        val aggCols = as.zipWithIndex.map { case (c, i) => c.as(s"a$i") }
        if (g.isEmpty) fb.agg(aggCols.head, aggCols.tail: _*)
        else fb.groupBy(g: _*).agg(aggCols.head, aggCols.tail: _*)
      }
      val re = build(ext.read.parquet(basePath))
      total += 1
      if (scansSummary(re)) fired += 1
      val got = sortedRows(re)
      val (schema, exp, plainScansBase) = unrewritten {
        val pl = build(ext.read.parquet(basePath))
        (pl.schema, sortedRows(pl),
          scannedPaths(pl).forall(_.endsWith("/base")))
      }
      plainScansBase && re.schema == schema && got == exp
    }
    val res = ScTest.check(
      ScTest.Parameters.default.withMinSuccessfulTests(40), prop)
    assert(res.passed, s"property falsified: ${res.status}")
    // the invariant is vacuous if no trial ever rewrote
    assert(fired >= 5, s"rewrite fired only $fired/$total trials — " +
      "generator no longer exercises the rewrite")
  }

  test("register refuses a union-of-scans base and a live-plan summary") {
    seedBase()
    val base = ext.read.parquet(basePath)
    val u = base.union(base)
    val err = intercept[IllegalArgumentException] {
      SummaryCatalog.register(u,
        ext.read.parquet(sumPath), Seq("k1"), Seq("m1"))
    }
    assert(err.getMessage.contains("single file-source scan"))
    // an aggregation over the base itself is caught by the
    // summary-is-base guard...
    val selfSum = intercept[IllegalArgumentException] {
      SummaryCatalog.register(base,
        SummaryCatalog.buildSummary(base, Seq("k1"), Seq("m1", "m2")),
        Seq("k1"), Seq("m1", "m2"))
    }
    assert(selfSum.getMessage.contains("base table itself"))
    // ...and a summary with no file source at all (never written) by
    // the materialization guard
    val live = intercept[IllegalArgumentException] {
      SummaryCatalog.register(base,
        SummaryCatalog.buildSummary(
          ext.range(10).select(lit("a").as("k1"), col("id").as("m1")),
          Seq("k1"), Seq("m1")),
        Seq("k1"), Seq("m1"))
    }
    assert(live.getMessage.contains("MATERIALIZED"))
    // overlapping keys/measures would make rollup columns ambiguous
    val overlap = intercept[IllegalArgumentException] {
      SummaryCatalog.buildSummary(base, Seq("k1"), Seq("k1", "m1"))
    }
    assert(overlap.getMessage.contains("disjoint"))
  }
}
