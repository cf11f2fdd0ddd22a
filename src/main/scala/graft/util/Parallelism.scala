package graft.util

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions.col

object Parallelism {

  /** Hash-repartition `df` by `key` into one partition per core when its
    * plan has no exchange and fewer partitions than cores (one small
    * file scans as one task); otherwise return it unchanged — at scale a
    * scan has far more splits than cores. The count is explicit, so AQE,
    * which sizes partitions by bytes, cannot coalesce the exchange back
    * into one task. The probe plans `df` once and starts no job: adaptive
    * plans, subqueries and unbuilt caches are left alone, not counted. */
  def spread(df: DataFrame, key: String): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    val plan = df.queryExecution.executedPlan
    val unprobed = plan.isInstanceOf[AdaptiveSparkPlanExec] || plan.exists {
      case _: Exchange => true
      case s: InMemoryTableScanExec =>
        !s.relation.cacheBuilder.isCachedColumnBuffersLoaded
      case p => p.subqueries.nonEmpty
    }
    if (unprobed || plan.execute().getNumPartitions >= target) df
    else df.repartition(target, col(key))
  }
}
