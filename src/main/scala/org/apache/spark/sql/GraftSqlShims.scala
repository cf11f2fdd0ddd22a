package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into `private[sql]` surface needed to expose custom Catalyst
  * expressions as `Column`s (the classic Column↔Expression converters
  * moved behind ColumnNode in Spark 4). Standard extension-library
  * shim — no Spark internals are modified. */
object GraftSqlShims {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Block until every event posted so far reached every listener. */
  def waitForListeners(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** The EXACT coercion Spark applies to the two sides of an equality
    * comparison (and therefore to mismatched equi-join keys). Not the
    * same as findWiderTypeForTwo: e.g. string-vs-bigint compares as
    * DOUBLE, while the "wider" type would be STRING — an operator that
    * hashes join keys must follow the comparison rule or it hashes
    * values the join would consider equal to different buckets. */
  def joinKeyCommonType(t1: org.apache.spark.sql.types.DataType,
      t2: org.apache.spark.sql.types.DataType)
      : Option[org.apache.spark.sql.types.DataType] =
    if (t1 == t2) Some(t1)
    else org.apache.spark.sql.catalyst.analysis.TypeCoercion
      .findCommonTypeForBinaryComparison(t1, t2,
        org.apache.spark.sql.internal.SQLConf.get)
      .orElse(org.apache.spark.sql.catalyst.analysis.TypeCoercion
        .findWiderTypeForTwo(t1, t2))

  /** Capture a session temp view's raw definition so an operator that
    * must temporarily claim a fixed view name (DQDL's `primary`
    * convention) can put the user's view back afterwards. Opaque
    * handle: pass the result to [[restoreTempView]]. */
  def saveTempView(spark: SparkSession, name: String): Option[AnyRef] =
    spark.asInstanceOf[classic.SparkSession].sessionState.catalog
      .getRawTempView(name)

  def restoreTempView(spark: SparkSession, name: String,
      saved: Option[AnyRef]): Unit = saved.foreach { v =>
    spark.asInstanceOf[classic.SparkSession].sessionState.catalog
      .createTempView(name,
        v.asInstanceOf[org.apache.spark.sql.catalyst.catalog.TemporaryViewRelation],
        overrideIfExists = true)
  }

  /** Replace a catalog table's DATA schema (non-partition columns) —
    * the metadata-only half of type widening: `ALTER TABLE ... ALTER
    * COLUMN ... TYPE` is not available for v1 parquet tables, but the
    * session catalog updates the schema directly and Spark 4's parquet
    * readers handle widened reads (int32 files under a bigint column —
    * SPARK-40876). */
  def alterTableDataSchema(spark: SparkSession, table: String,
      newDataSchema: org.apache.spark.sql.types.StructType): Unit = {
    val session = spark.asInstanceOf[classic.SparkSession]
    // parse rather than wrap: `db.table` must resolve as a QUALIFIED
    // identifier (a single-part TableIdentifier would look the dotted
    // string up as a table named "db.table" in the current database)
    val ident = session.sessionState.sqlParser.parseTableIdentifier(table)
    val catalog = session.sessionState.catalog
    val db = ident.database.getOrElse(catalog.getCurrentDatabase)
    // the EXTERNAL catalog, not SessionCatalog.alterTableDataSchema:
    // the session-level wrapper hard-refuses column DROPS ("We don't
    // support dropping columns yet"), but the swap is safe on parquet
    // — readers request the catalog schema, so orphan columns left in
    // old files are simply never read again (sync_all_columns needs
    // exactly this)
    session.sharedState.externalCatalog.alterTableDataSchema(
      db, ident.table, newDataSchema)
    catalog.refreshTable(ident)
  }
}
