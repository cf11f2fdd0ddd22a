package graft.dq

import org.apache.spark.sql.{Column, DataFrame, GraftSqlShims}
import org.apache.spark.sql.functions._

/** Declarative data-quality rules, modeled after the reference's DQDL
  * rulesets (reference: terraform/modules/data_quality/glue.tf:1-26 —
  * `IsComplete`, `ColumnLength`, `Uniqueness > 0.95`,
  * `ColumnValues "price" <= 2`) and dbt's `unique` / `not_null` tests
  * (reference: dbt_modeling/models/serving_layer/schema.yml:10-12,34-36,44-46).
  *
  * Design for scale: a whole ruleset compiles into ONE aggregation pass
  * over the table — every rule contributes aggregate expressions that
  * Catalyst evaluates in a single partial+final hash aggregate (no
  * per-rule scans, no driver-side row iteration). At 100 TB this is a
  * single scan with map-side partial aggregation. The one exception is
  * `Uniqueness` (Glue's exactly-once-ratio semantics), which needs a
  * grouped pre-aggregation on the key — it contributes a side
  * aggregation (two-phase: groupBy(key).count, then one global
  * aggregate) whose single-row result is cross-joined into the verdict
  * row; `ApproxDistinctness` trades that groupBy shuffle for
  * HyperLogLog when a distinctness-style threshold has slack.
  */
sealed trait DqRule {
  /** Aggregate metric columns this rule contributes to the shared
    * single-pass aggregation (aliased). */
  def metrics: Seq[Column]
  /** Optional side aggregation: a 1-row DataFrame of extra metric
    * columns, for rules not expressible as plain aggregates over the
    * unaggregated input (e.g. exactly-once Uniqueness). Cross-joined
    * (1×1) into the verdict row. */
  def sideMetrics(df: DataFrame): Option[DataFrame] = None
  /** True when the rule contributes [[sideMetrics]] — a cheap static
    * flag so evaluation shapes can be validated WITHOUT invoking
    * sideMetrics (which may carry side effects, e.g. CustomSql's temp
    * view). Must be overridden together with sideMetrics. */
  def hasSide: Boolean = false
  /** True when [[sideMetrics]] is a schema-level constant (no data
    * scan) — per-partition evaluation can cross-join it unchanged
    * instead of needing a per-partition recompilation. */
  def sideIsConstant: Boolean = false
  /** Pass/fail predicate over the aliased metric columns. */
  def passed: Column
  def name: String
}

/** Rules that compare the primary frame against a NAMED secondary
  * frame — Glue DQDL's "additional data sources" (`ReferentialIntegrity
  * "col" "ref.col"`, `RowCountMatch "ref"`). The evaluator resolves
  * `refName` from the `refs` map passed to
  * [[Dqdl.evaluate(df:org\.apache\.spark\.sql\.DataFrame,ruleset:graft\.dq\.Ruleset,refs:Map[String,org\.apache\.spark\.sql\.DataFrame])*
  * evaluate(df, ruleset, refs)]] and hands the rule both frames;
  * evaluating a cross-frame rule without its reference fails loudly. */
sealed trait CrossFrameRule extends DqRule {
  def refName: String
  /** 1-row side metrics computed against the resolved secondary frame
    * (cross-joined into the verdict row like any side aggregation). */
  def crossMetrics(primary: DataFrame, ref: DataFrame): DataFrame
  /** When the side pass is a plain aggregation over the REFERENCE
    * frame alone, the aggregate columns — the evaluator fuses every
    * such rule on one refName into a single scan of that reference
    * (tiered RowCountMatch thresholds cost one count, not N). Rules
    * whose side pass needs the primary too (ReferentialIntegrity's
    * join) leave this None and keep their own pass. */
  def refAggMetrics: Option[Seq[Column]] = None
  override def hasSide: Boolean = true
  override def sideMetrics(df: DataFrame): Option[DataFrame] =
    throw new IllegalArgumentException(
      s"rule $name needs reference data source '$refName' — " +
        "evaluate with refs = Map(\"" + refName + "\" -> <DataFrame>)")
}

private object DqOps {
  /** Name-safe rendering of an identifier for metric aliases. */
  def safe(s: String): String = s.replaceAll("[^A-Za-z0-9]", "_")
  /** Shared comparison-operator compilation + a name-safe tag. */
  def compare(c: Column, op: String, v: Column): Column = op match {
    case ">" => c > v
    case ">=" => c >= v
    case "<" => c < v
    case "<=" => c <= v
    case "=" => c === v
    case "!=" => c =!= v
    case o => throw new IllegalArgumentException(s"bad comparison op $o")
  }
  def tag(op: String): String = op match {
    case ">" => "gt"; case ">=" => "ge"; case "<" => "lt"
    case "<=" => "le"; case "=" => "eq"; case "!=" => "ne"
    case o => throw new IllegalArgumentException(s"bad comparison op $o")
  }
  /** Name-safe rendering of a numeric threshold, so rule/metric names
    * carry the VALUE too — two same-op rules on one column (tiered
    * thresholds) must not collide in the shared aggregation. */
  def numTag(v: Double): String = {
    val s = if (v == v.floor && !v.isInfinite) v.toLong.toString
      else v.toString
    s.replace("-", "m").replace(".", "p")
  }
}

/** All values in `column` are non-null. (DQDL `IsComplete`; dbt's
  * `not_null` test is the same rule under its own name, [[NotNull]].) */
final case class IsComplete(column: String, ruleName: String = "is_complete")
    extends DqRule {
  val name = s"${ruleName}_$column"
  def metrics: Seq[Column] =
    Seq(sum(when(col(column).isNull, 1L).otherwise(0L)).as(s"null_$column"))
  def passed: Column = col(s"null_$column") === 0L
}

/** Every value of `column` has string length exactly `len`.
  * (DQDL `ColumnLength "song_id" = 18`.) */
final case class ColumnLength(column: String, len: Int) extends DqRule {
  val name = s"column_length_$column"
  def metrics: Seq[Column] = Seq(
    min(length(col(column))).as(s"min_len_$column"),
    max(length(col(column))).as(s"max_len_$column"))
  def passed: Column =
    col(s"min_len_$column") === len && col(s"max_len_$column") === len
}

/** Fraction of rows whose value occurs EXACTLY once, strictly above
  * `threshold` — AWS Glue DQDL `Uniqueness "user_id" > 0.95` semantics:
  * 100 rows with 4 values duplicated (2×) scores 92/100 = 0.92, not the
  * distinctness 96/100. Needs a grouped pre-aggregation, so it runs as
  * a side aggregation (two-phase: partial map-side combine on the key,
  * then one tiny global pass over the group counts). */
final case class Uniqueness(column: String, threshold: Double) extends DqRule {
  val name = s"uniqueness_$column"
  def metrics: Seq[Column] = Seq.empty
  override def hasSide: Boolean = true
  override def sideMetrics(df: DataFrame): Option[DataFrame] = Some(
    df.groupBy(col(column)).agg(count(lit(1)).as("__cnt"))
      .agg((sum(when(col("__cnt") === 1L, 1L).otherwise(0L)).cast("double") /
        sum(col("__cnt")).cast("double")).as(s"uniq_ratio_$column")))
  def passed: Column = col(s"uniq_ratio_$column") > threshold
}

/** Approximate DISTINCTNESS (not Glue Uniqueness): HyperLogLog++
  * distinct-count over total rows — one pass, no shuffle on the key;
  * the right scale tradeoff when a distinctness-style threshold has
  * slack. Named honestly: HLL cannot estimate the exactly-once ratio,
  * so this is a different (more lenient) metric than [[Uniqueness]]. */
final case class ApproxDistinctness(column: String, threshold: Double,
    rsd: Double = 0.01) extends DqRule {
  val name = s"approx_distinctness_$column"
  def metrics: Seq[Column] = Seq(
    (approx_count_distinct(col(column), rsd).cast("double") /
      count(lit(1)).cast("double")).as(s"distinct_ratio_$column"))
  def passed: Column = col(s"distinct_ratio_$column") > threshold
}

/** Row-level predicate holds for every row.
  * (DQDL `ColumnValues "price" <= 2`.) */
final case class ColumnValues(column: String, predicate: Column => Column)
    extends DqRule {
  val name = s"column_values_$column"
  def metrics: Seq[Column] = Seq(
    sum(when(!predicate(col(column)), 1L).otherwise(0L))
      .as(s"violations_$column"))
  def passed: Column = col(s"violations_$column") === 0L
}

/** No value of `column` occurs more than once. (dbt `unique` test.)
  * count(col) counts non-null rows; countDistinct ignores nulls — the
  * difference is exactly the number of surplus duplicate rows. */
final case class UniqueKey(column: String) extends DqRule {
  val name = s"unique_$column"
  def metrics: Seq[Column] = Seq(
    (count(col(column)) - countDistinct(col(column))).as(s"dup_rows_$column"))
  def passed: Column = col(s"dup_rows_$column") === 0L
}

/** Table row count satisfies `op` against `n`.
  * (DQDL `RowCount > 1000` — the emptiness/volume guard.) */
final case class RowCount(op: String, n: Long) extends DqRule {
  val name = s"row_count_${DqOps.tag(op)}_$n"
  def metrics: Seq[Column] = Seq.empty // row_count is always emitted
  def passed: Column = DqOps.compare(col("row_count"), op, lit(n))
}

/** Non-null ratio of `column` strictly above `threshold` — the
  * tolerance-carrying sibling of [[IsComplete]].
  * (DQDL `Completeness "email" > 0.9`.) */
final case class Completeness(column: String, threshold: Double)
    extends DqRule {
  val name = s"completeness_$column"
  def metrics: Seq[Column] = Seq(
    (count(col(column)).cast("double") / count(lit(1)).cast("double"))
      .as(s"complete_ratio_$column"))
  def passed: Column = col(s"complete_ratio_$column") > threshold
}

/** Mean of `column` within [lo, hi]. Sum rides DECIMAL(18,2) so the
  * mean is independent of partition merge order — at any parallelism
  * the metric is bit-stable. (DQDL `Mean "price" between 0 and 2`.) */
final case class MeanInRange(column: String, lo: Double, hi: Double)
    extends DqRule {
  val name = s"mean_$column"
  def metrics: Seq[Column] = Seq(
    (sum(col(column).cast(org.apache.spark.sql.types.DecimalType(18, 2)))
      .cast("double") / count(col(column)).cast("double"))
      .as(s"mean_$column"))
  def passed: Column =
    col(s"mean_$column") >= lo && col(s"mean_$column") <= hi
}

/** No COMBINATION of `columns` occurs more than once (dbt `unique`
  * over a composite key / `dbt_utils.unique_combination_of_columns`).
  * Rows with a null in ANY key column are excluded from the check
  * (countDistinct skips them, so the row side must too — the same
  * null-handling [[UniqueKey]] uses). */
final case class UniqueCombination(columns: Seq[String]) extends DqRule {
  require(columns.nonEmpty)
  // length-prefixed encoding keeps distinct column lists from
  // colliding to the same alias (Seq("a","b_c") vs Seq("a_b","c"))
  private val tag = columns.map(c => s"${c.length}$c").mkString("_")
  val name = s"unique_combo_$tag"
  private def allNonNull: Column =
    columns.map(col(_).isNotNull).reduce(_ && _)
  def metrics: Seq[Column] = Seq(
    (count(when(allNonNull, 1L)) - countDistinct(columns.map(col).head,
      columns.map(col).tail: _*)).as(s"dup_rows_$tag"))
  def passed: Column = col(s"dup_rows_$tag") === 0L
}

/** K-anonymity over quasi-identifier columns: every combination of
  * quasi-identifier values must be shared by at least `k` rows, so no
  * row is re-identifiable by that combination alone — the privacy
  * gate a training-data pipeline runs before releasing metadata
  * alongside text. Metrics: the smallest group size and the number of
  * EXPOSED rows (rows in groups under `k` — the suppression set a
  * failing table would need to drop). One grouped side-pass like
  * [[Uniqueness]]: group sizes aggregate per partition before the
  * key shuffle (partial aggregation), so the exchange carries one row
  * per distinct quasi-identifier combination, not per input row.
  * Aliases carry `k` so tiered thresholds on one column set coexist
  * in a single ruleset. An empty table passes vacuously. */
final case class KAnonymity(columns: Seq[String], k: Long) extends DqRule {
  require(columns.nonEmpty, "KAnonymity needs at least one column")
  require(k >= 1, s"KAnonymity needs k >= 1, got $k")
  private val tag = columns.map(c => s"${c.length}${DqOps.safe(c)}")
    .mkString("_")
  val name = s"k_anonymity_${k}_$tag"
  def metrics: Seq[Column] = Seq.empty
  override def hasSide: Boolean = true
  override def sideMetrics(df: DataFrame): Option[DataFrame] = Some(
    df.groupBy(columns.map(col): _*).agg(count(lit(1)).as("__cnt"))
      .agg(
        coalesce(min(col("__cnt")), lit(k)).as(s"min_group_${k}_$tag"),
        coalesce(sum(when(col("__cnt") < k, col("__cnt"))
          .otherwise(0L)), lit(0L)).as(s"exposed_rows_${k}_$tag")))
  def passed: Column = col(s"min_group_${k}_$tag") >= k
}

/** The column is present in the schema at all — the guard against a
  * renamed/dropped upstream field arriving as a silently-null column.
  * (DQDL `ColumnExists "c"`.) Schema-level: contributes a constant
  * 1-row side (no scan), so it composes with any evaluation shape. */
final case class ColumnExists(column: String) extends DqRule {
  val name = s"column_exists_$column"
  def metrics: Seq[Column] = Seq.empty
  override def hasSide: Boolean = true
  override def sideIsConstant: Boolean = true
  override def sideMetrics(df: DataFrame): Option[DataFrame] = Some(
    df.sparkSession.range(1)
      .select(lit(df.columns.contains(column)).as(s"exists_$column")))
  def passed: Column = col(s"exists_$column")
}

/** Sample standard deviation of `column` within [lo, hi]. Computed from
  * DECIMAL sums (sum and sum-of-squares), so the metric is bit-stable
  * under any partition merge order — the same determinism contract as
  * [[MeanInRange]]. (DQDL `StandardDeviation "c" between x and y`.) */
final case class StdDevInRange(column: String, lo: Double, hi: Double)
    extends DqRule {
  val name = s"stddev_$column"
  import org.apache.spark.sql.types.DecimalType
  def metrics: Seq[Column] = {
    // Exact-decimal variance numerator n·Σx² − (Σx)², then one double
    // division + sqrt. The naive all-double closed form catastrophically
    // cancels when stddev ≪ |mean| (epoch-second columns: Σx² and
    // (Σx)²/n agree in every representable digit), squaring in the
    // column's own integral type would wrap silently, and squaring in
    // double rounds above 2^26.5 — so squares are computed in DECIMAL
    // ((19,4)² is exact to |x| ~ 1e15) and the whole numerator stays
    // decimal-exact. If the combination overflows 38 digits
    // (astronomical sums), it nulls and falls back to the naive double
    // form — accurate exactly when values are that large, where the
    // mean dwarfs any thresholdable stddev anyway.
    val nL = count(col(column))
    val n = nL.cast("double")
    val s = sum(col(column).cast(DecimalType(28, 4)))
    val s2 = sum(col(column).cast(DecimalType(19, 4)) *
      col(column).cast(DecimalType(19, 4)))
    val numExact = (nL.cast(DecimalType(18, 0)) * s2) - (s * s)
    val varExact = numExact.cast("double") / (n * (n - lit(1.0)))
    val sD = s.cast("double"); val s2D = s2.cast("double")
    val varNaive = (s2D - sD * sD / n) / (n - lit(1.0))
    Seq(when(nL > 1, sqrt(coalesce(varExact, varNaive)))
      .as(s"stddev_$column"))
  }
  def passed: Column =
    col(s"stddev_$column") >= lo && col(s"stddev_$column") <= hi
}

/** DECIMAL-summed total of `column` compared against `value`.
  * (DQDL `Sum "c" > n`.) */
final case class SumCmp(column: String, op: String, value: Double)
    extends DqRule {
  // op AND value in the alias: two Sum rules on one column (tiered
  // thresholds like > 5 and > 100) must not collide in the shared
  // aggregation
  private val t = s"${DqOps.tag(op)}_${DqOps.numTag(value)}"
  val name = s"sum_${column}_$t"
  def metrics: Seq[Column] = Seq(
    sum(col(column).cast(org.apache.spark.sql.types.DecimalType(28, 4)))
      .cast("double").as(s"sum_${column}_$t"))
  def passed: Column =
    DqOps.compare(col(s"sum_${column}_$t"), op, lit(value))
}

/** EXACT distinct-value count of `column` compared against `n` — the
  * enumerable-domain guard (country codes, flags, currencies).
  * countDistinct shuffles on the value; for high-cardinality columns
  * with threshold slack use [[ApproxDistinctness]] instead.
  * (DQDL `DistinctValuesCount "c" = 3`.) */
final case class DistinctCount(column: String, op: String, n: Long)
    extends DqRule {
  private val t = s"${DqOps.tag(op)}_$n"
  val name = s"distinct_${column}_$t"
  def metrics: Seq[Column] =
    Seq(countDistinct(col(column)).as(s"distinct_${column}_$t"))
  def passed: Column =
    DqOps.compare(col(s"distinct_${column}_$t"), op, lit(n))
}

/** Newest event in `column` is at most `maxLagSeconds` behind `asOf`
  * (DQDL `DataFreshness`): the did-the-feed-stop guard. `asOf` is an
  * EXPLICIT reference instant rather than now() — rule evaluation
  * stays a pure function of (data, ruleset), so reruns and backfills
  * reproduce the same verdict; orchestration passes its window end. */
final case class DataFreshness(column: String,
    maxLagSeconds: Long, asOf: java.sql.Timestamp) extends DqRule {
  // threshold in the name AND alias: tiered freshness (warn at 10min,
  // fail at 1h) on one column must not collide in the shared agg
  private val t = s"${column}_${maxLagSeconds}s"
  val name = s"freshness_$t"
  def metrics: Seq[Column] = Seq(
    (lit(asOf).cast("long") - max(col(column)).cast("long"))
      .as(s"lag_seconds_$t"))
  def passed: Column =
    col(s"lag_seconds_$t").isNotNull &&
      col(s"lag_seconds_$t") <= maxLagSeconds
}

/** Arbitrary SQL metric compared against a threshold — Glue DQDL's
  * `CustomSql "select count(*) from primary" > 0` escape hatch. The
  * rule's frame is exposed as the temp view `primary` (Glue's
  * convention). The name is session-global, so evaluations are
  * SERIALIZED per JVM and a pre-existing user view called `primary`
  * is saved and restored around the rule rather than destroyed. The
  * query must return exactly ONE row (enforced loudly) and its FIRST
  * column is the metric. Runs as its own eager side evaluation (it
  * cannot fold into the shared single-pass aggregate), so prefer the
  * declarative rules where one exists — each CustomSql is an extra
  * scan. */
final case class CustomSql(sql: String, op: String, value: Double)
    extends DqRule {
  private val t = s"${DqOps.tag(op)}_${DqOps.numTag(value)}"
  // deterministic name/alias: a 64-bit digest of the statement text
  // plus the op/value tag, so the same SQL under two thresholds
  // (tiered guards) cannot collide and distinct statements would need
  // a 2^-64 MD5-prefix collision to alias each other
  private val sqlTag = s"${CustomSql.digest64(sql)}_$t"
  val name = s"custom_sql_$sqlTag"
  def metrics: Seq[Column] = Seq.empty
  override def hasSide: Boolean = true
  override def sideMetrics(df: DataFrame): Option[DataFrame] =
    CustomSql.primaryViewLock.synchronized {
      val spark = df.sparkSession
      val prior = GraftSqlShims.saveTempView(spark, "primary")
      df.createOrReplaceTempView("primary")
      val rows =
        try spark.sql(sql).limit(2).collect()
        finally {
          spark.catalog.dropTempView("primary")
          GraftSqlShims.restoreTempView(spark, "primary", prior)
        }
      require(rows.length == 1,
        s"CustomSql must return exactly one row, got ${rows.length}: $sql")
      val metric = Option(rows.head.get(0)).map(_.toString.toDouble)
      Some(spark.range(1).select(
        lit(metric.orNull).cast("double").as(s"custom_$sqlTag")))
    }
  def passed: Column =
    DqOps.compare(col(s"custom_$sqlTag"), op, lit(value))
}

object CustomSql {
  /** The `primary` view name is fixed by the Glue convention and
    * session-global, so two rulesets evaluating concurrently in one
    * JVM would race on it — one rule's SQL could read the other's
    * frame. The side pass is driver-side cheap (plan + collect of one
    * row), so a JVM-wide lock costs nothing measurable. */
  private[dq] val primaryViewLock = new Object
  /** First 64 bits of MD5 over the statement text, hex-encoded. */
  def digest64(sql: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(sql.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    d.take(8).map(b => f"$b%02x").mkString
  }
}

/** Fraction of primary rows whose `column` value exists in the named
  * reference dataset's `refColumn` — Glue DQDL
  * `ReferentialIntegrity "o_custkey" "customer.c_custkey" >= 0.99`.
  * Null primary values count as unmatched (null is in no set), so a
  * nullable FK column needs IsComplete alongside this rule to tell
  * orphans from nulls.
  *
  * Scale shape: distinct on the REFERENCE key only (the dimension
  * side), then one left join + aggregation over the primary's key
  * column — the primary never shuffles more than that single column,
  * and with a dimension-sized reference AQE turns the join into a
  * broadcast. */
final case class ReferentialIntegrity(column: String, refName: String,
    refColumn: String, op: String, value: Double) extends CrossFrameRule {
  private val t = s"${DqOps.safe(column)}_${DqOps.safe(refName)}_" +
    s"${DqOps.safe(refColumn)}_${DqOps.tag(op)}_${DqOps.numTag(value)}"
  val name = s"referential_integrity_$t"
  private val alias = s"ri_$t"
  def metrics: Seq[Column] = Seq.empty
  def crossMetrics(primary: DataFrame, ref: DataFrame): DataFrame = {
    val refKeys = ref.select(col(refColumn).as("__rk")).distinct()
    primary.select(col(column).as("__pk"))
      .join(refKeys, col("__pk") === col("__rk"), "left")
      .agg(try_divide(
        sum(when(col("__rk").isNotNull, 1L).otherwise(0L)).cast("double"),
        count(lit(1)).cast("double")).as(alias))
  }
  // empty primary → 0/0 → null ratio (try_divide under ANSI): a
  // failed rule, not a crash
  def passed: Column =
    coalesce(DqOps.compare(col(alias), op, lit(value)), lit(false))
}

/** Primary row count as a ratio of the named reference's row count —
  * Glue DQDL `RowCountMatch "reference" >= 0.9`. The side pass
  * contributes the reference count; the ratio reuses the shared
  * aggregation's `row_count`, so the primary is still scanned exactly
  * once for the whole ruleset. */
final case class RowCountMatch(refName: String, op: String,
    value: Double) extends CrossFrameRule {
  private val t =
    s"${DqOps.safe(refName)}_${DqOps.tag(op)}_${DqOps.numTag(value)}"
  val name = s"row_count_match_$t"
  private val alias = s"ref_rows_$t"
  def metrics: Seq[Column] = Seq.empty
  override def refAggMetrics: Option[Seq[Column]] =
    Some(Seq(count(lit(1)).as(alias)))
  def crossMetrics(primary: DataFrame, ref: DataFrame): DataFrame =
    ref.agg(count(lit(1)).as(alias))
  // an EMPTY reference makes the ratio null (try_divide — ANSI mode
  // would throw on the plain operator); that's a failed rule, not a
  // crash — the missing reference feed is exactly what this rule
  // exists to flag
  def passed: Column = coalesce(DqOps.compare(
    try_divide(col("row_count").cast("double"), col(alias).cast("double")),
    op, lit(value)), lit(false))
}

/** Keyed row-level reconciliation against the named reference — Glue
  * DQDL `DatasetMatch "reference" "id" >= 0.95`: the fraction of
  * primary rows for which SOME reference row with equal `keyCols` has
  * null-safe-equal values in every compared column (`matchCols`, or
  * every common non-key column when empty). The migration-validation
  * rule: "did the rows survive the copy unchanged".
  *
  * Any-match (left semi) semantics keep the metric deterministic even
  * when the reference has duplicate keys. Scale shape: one equi-join
  * shuffle on the key columns carrying only key+compared columns from
  * each side; the ratio reuses the shared aggregation's `row_count`,
  * so the primary's full width is scanned exactly once for the whole
  * ruleset. */
final case class DatasetMatch(refName: String, keyCols: Seq[String],
    op: String, value: Double, matchCols: Seq[String] = Nil)
    extends CrossFrameRule {
  require(keyCols.nonEmpty, "DatasetMatch needs at least one key column")
  // matchCols participates in the tag too (as a short digest — the list
  // can be long): two rules on the same ref/keys/op/value differing
  // only in WHICH columns they compare must not alias each other
  private val t =
    s"${DqOps.safe(refName)}_${keyCols.map(DqOps.safe).mkString("_")}_" +
      s"${DqOps.tag(op)}_${DqOps.numTag(value)}" +
      (if (matchCols.isEmpty) ""
       else s"_${CustomSql.digest64(matchCols.mkString("\u0000"))}")
  val name = s"dataset_match_$t"
  private val alias = s"matched_rows_$t"
  def metrics: Seq[Column] = Seq.empty
  def crossMetrics(primary: DataFrame, ref: DataFrame): DataFrame = {
    val cmp =
      if (matchCols.nonEmpty) matchCols
      else primary.columns.filter(c =>
        !keyCols.exists(_.equalsIgnoreCase(c)) &&
          ref.columns.exists(_.equalsIgnoreCase(c))).toSeq
    val refSide = ref.select((keyCols ++ cmp).map(c =>
      col(c).as(s"__r_$c")): _*)
    val cond = (keyCols.map(k => col(k) === col(s"__r_$k")) ++
      cmp.map(c => col(c) <=> col(s"__r_$c"))).reduce(_ && _)
    primary.join(refSide, cond, "left_semi")
      .agg(count(lit(1)).as(alias))
  }
  def passed: Column = coalesce(DqOps.compare(
    try_divide(col(alias).cast("double"), col("row_count").cast("double")),
    op, lit(value)), lit(false))
}

/** Schema similarity between the primary frame and the named reference
  * — Glue DQDL `SchemaMatch "reference" >= 0.9`. The metric is
  * |columns matching by case-insensitive name AND exact type| divided
  * by |union of column names| — 1.0 iff the schemas are identical up
  * to name case and column order. Pure metadata: no scan of either
  * side, so the "aggregation" is a literal 1-row frame. */
final case class SchemaMatch(refName: String, op: String,
    value: Double) extends CrossFrameRule {
  private val t =
    s"${DqOps.safe(refName)}_${DqOps.tag(op)}_${DqOps.numTag(value)}"
  val name = s"schema_match_$t"
  private val alias = s"schema_match_ratio_$t"
  def metrics: Seq[Column] = Seq.empty
  def crossMetrics(primary: DataFrame, ref: DataFrame): DataFrame = {
    val p = primary.schema.map(f => f.name.toLowerCase -> f.dataType).toMap
    val r = ref.schema.map(f => f.name.toLowerCase -> f.dataType).toMap
    val union = (p.keySet ++ r.keySet).size
    val matched = p.count { case (n, dt) => r.get(n).contains(dt) }
    primary.sparkSession.range(1).select(
      lit(matched.toDouble / union.toDouble).as(alias))
  }
  def passed: Column = DqOps.compare(col(alias), op, lit(value))
}

/** dbt `not_null` test — [[IsComplete]] under dbt's rule name. */
object NotNull {
  def apply(column: String): IsComplete = IsComplete(column, "not_null")
}

final case class Ruleset(name: String, rules: Seq[DqRule])

final case class DqVerdict(ruleset: String, passed: Boolean,
    ruleResults: Map[String, Boolean], metrics: Map[String, Any])

object Dqdl {

  /** Compile a ruleset to a one-row DataFrame: every metric column, one
    * `<rule.name>_passed` boolean per rule, and `all_passed`. One shared
    * aggregation over `df` for all plain-aggregate rules, plus one side
    * aggregation per rule that needs a grouped pre-pass (Uniqueness);
    * side results are 1-row and cross-join for free.
    */
  /** Shared metric list for one compiled pass. Rules that need the same
    * metric (a repeated rule, `IsComplete` beside `NotNull` on one
    * column) share one column of it, or `passed`'s col(alias) would be
    * ambiguous. */
  private def compiledMetrics(ruleset: Ruleset): Seq[Column] = {
    // verdicts are keyed by rule name, so two different rules under one
    // name (two thresholds of one Uniqueness) would leave one unchecked
    ruleset.rules.groupBy(_.name).foreach { case (n, rs) =>
      require(rs.distinct.size == 1,
        s"ruleset ${ruleset.name} has different rules named $n: ${rs.distinct}")
    }
    (ruleset.rules.flatMap(_.metrics) :+ count(lit(1)).as("row_count"))
      .distinct
  }

  /** Attach per-rule `_passed` flags + `all_passed` to an aggregated
    * frame (shared by the global and per-partition evaluators). */
  private def attachVerdicts(agg: DataFrame, ruleset: Ruleset): DataFrame = {
    val withPassed = ruleset.rules.foldLeft(agg) { (acc, r) =>
      acc.withColumn(s"${r.name}_passed", r.passed)
    }
    val allPassed = ruleset.rules.map(r => col(s"${r.name}_passed"))
      .reduceOption(_ && _).getOrElse(lit(true))
    withPassed.withColumn("all_passed", allPassed)
  }

  def evaluateDf(df: DataFrame, ruleset: Ruleset,
      refs: Map[String, DataFrame] = Map.empty): DataFrame = {
    val metricCols = compiledMetrics(ruleset)
    val mainAgg = df.agg(metricCols.head, metricCols.tail: _*)
    def resolveRef(r: CrossFrameRule): DataFrame =
      refs.getOrElse(r.refName,
        throw new IllegalArgumentException(
          s"rule ${r.name} references data source '${r.refName}' " +
            s"but refs provides ${refs.keys.mkString("{", ",", "}")}"))
    // fuse every ref-aggregate cross rule on the same reference into
    // ONE scan of that reference; other sides keep their own pass
    val fusable = ruleset.rules.collect {
      case r: CrossFrameRule if r.refAggMetrics.isDefined =>
        (r.refName, r.name, resolveRef(r), r.refAggMetrics.get)
    }
    val fusedSides = fusable.groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (_, group) =>
        // identical rules share a name and therefore identical metric
        // aliases — fuse them once, or the combined agg would carry
        // duplicate columns and `passed`'s col(alias) turns ambiguous
        val cols = group.distinctBy(_._2).flatMap(_._4)
        group.head._3.agg(cols.head, cols.tail: _*)
      }
    // a repeated rule's side is computed once
    val sides = ruleset.rules.distinct.flatMap {
      case r: CrossFrameRule if r.refAggMetrics.isDefined => None
      case r: CrossFrameRule => Some(r.crossMetrics(df, resolveRef(r)))
      case r => r.sideMetrics(df)
    } ++ fusedSides
    val agg = sides.foldLeft(mainAgg)(_ crossJoin _)
    attachVerdicts(agg, ruleset)
  }

  /** Per-partition verdicts: the same compiled metrics, grouped by a
    * partition column — one row per partition value, each with its own
    * pass flags. At 100 TB this answers "WHICH monthly increment is
    * bad" in the same single scan a global verdict costs (plus the
    * usual grouped side-pass per Uniqueness rule, joined back on the
    * partition key — a tiny table of one row per partition). */
  def evaluateByPartition(df: DataFrame, ruleset: Ruleset,
      partitionCol: String): DataFrame = {
    // defensive: every side-aggregating rule must have a per-partition
    // compilation below (today: Uniqueness, plus constant sides like
    // ColumnExists that hold for every partition unchanged). Checked
    // via the static hasSide flag — invoking sideMetrics here would
    // fire side effects (CustomSql) before the rejection
    ruleset.rules.filter(_.hasSide).foreach(r =>
      require(r.isInstanceOf[Uniqueness] || r.sideIsConstant,
        s"rule ${r.name} has no per-partition compilation"))
    val metricCols = compiledMetrics(ruleset)
    val main = df.groupBy(col(partitionCol))
      .agg(metricCols.head, metricCols.tail: _*)
    // side-pass join is NULL-SAFE on the partition key: a null
    // partition value (the malformed increment a DQ check most needs
    // to flag) must keep its verdict row, and null != null under a
    // plain equi-join
    val withSides = ruleset.rules.distinct.collect {
      case Uniqueness(column, _) =>
        df.groupBy(col(partitionCol), col(column))
          .agg(count(lit(1)).as("__cnt"))
          .groupBy(col(partitionCol))
          .agg((sum(when(col("__cnt") === 1L, 1L).otherwise(0L))
            .cast("double") / sum(col("__cnt")).cast("double"))
            .as(s"uniq_ratio_$column"))
          .withColumnRenamed(partitionCol, "__side_pc")
    }.foldLeft(main)((acc, side) =>
      acc.join(side, acc(partitionCol) <=> side("__side_pc"))
        .drop("__side_pc"))
    // schema-level constant sides (ColumnExists) apply to every
    // partition identically: 1-row cross join
    val withConstSides = ruleset.rules.distinct
      .filter(_.sideIsConstant).flatMap(_.sideMetrics(df))
      .foldLeft(withSides)(_ crossJoin _)
    attachVerdicts(withConstSides, ruleset)
  }

  /** Evaluate and collect the single verdict row (driver-side: one row).
    * `refs` supplies the named secondary frames any [[CrossFrameRule]]
    * in the ruleset compares against. */
  def evaluate(df: DataFrame, ruleset: Ruleset,
      refs: Map[String, DataFrame] = Map.empty): DqVerdict = {
    val row = evaluateDf(df, ruleset, refs).collect().head
    val schema = row.schema
    val ruleResults = ruleset.rules.map { r =>
      r.name -> row.getAs[Boolean](s"${r.name}_passed")
    }.toMap
    val metrics = schema.fieldNames.filterNot(_.endsWith("_passed"))
      .map(f => f -> row.getAs[Any](f)).toMap
    DqVerdict(ruleset.name, row.getAs[Boolean]("all_passed"), ruleResults, metrics)
  }

  /** The reference's three rulesets, verbatim semantics.
    * (reference: terraform/modules/data_quality/glue.tf:1-26) */
  val songsRuleset: Ruleset = Ruleset("songs_dq", Seq(
    IsComplete("song_id"), ColumnLength("song_id", 18),
    IsComplete("track_id"), ColumnLength("track_id", 18),
    IsComplete("artist_id")))

  val sessionsRuleset: Ruleset = Ruleset("sessions_dq", Seq(
    IsComplete("user_id"), ColumnLength("user_id", 36),
    IsComplete("session_id"), ColumnLength("session_id", 36),
    IsComplete("song_id"),
    ColumnValues("price", _ <= 2)))

  val usersRuleset: Ruleset = Ruleset("users_dq", Seq(
    IsComplete("user_id"), Uniqueness("user_id", 0.95),
    IsComplete("user_lastname"), IsComplete("user_name"),
    IsComplete("user_since")))
}
