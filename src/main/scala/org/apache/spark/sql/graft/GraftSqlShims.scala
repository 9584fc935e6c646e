package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge to `private[sql]` Spark internals that Spark 4 exposes no
  * public equivalent for, among them:
  *
  *   - crossing between a Catalyst [[Expression]] and a [[Column]]
  *     (`Column.expr`/`new Column(expr)` are gone in Spark 4;
  *     `classic.ExpressionUtils` is the blessed internal), so the SQL
  *     row-level command rule ([[graft.plans.GraftRowLevelSqlRule]])
  *     and Column helpers built on Catalyst expressions can use them;
  *   - turning an analyzed [[LogicalPlan]] (a MERGE statement's
  *     source relation) into a [[DataFrame]]
  *     (`classic.Dataset.ofRows`);
  *   - the collation, broadcast, streaming and catalog hooks below.
  *
  * Living inside the `org.apache.spark.sql` namespace is the
  * established ecosystem pattern for exactly this seam (Delta Lake
  * and Iceberg ship such shims the same way); everything else in this
  * repo stays under `graft.*`. These entry points are stable across
  * the 4.x line.
  */
object GraftSqlShims {

  /** Wrap a (possibly unresolved) expression as a user-facing Column. */
  def column(e: Expression): Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)

  /** A Column as an expression. The Column's tree is converted when the
    * enclosing plan is analyzed, so lambda variables and unresolved
    * names inside it stay valid. */
  def expression(c: Column): Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)

  /** Whether a string column's collation is the default UTF8_BINARY —
    * the one whose sort IS the unsigned UTF-8 byte order parquet
    * envelope stats fold under (`isUTF8BinaryCollation` is
    * private[sql]; this is the supported crossing point). */
  def isUtf8Binary(st: org.apache.spark.sql.types.StringType): Boolean =
    st.isUTF8BinaryCollation

  /** Destroy a broadcast and return only once the block manager has
    * dropped its blocks (the public `destroy()` does not wait;
    * `destroy(blocking)` is private[spark]). */
  def destroyNow(b: org.apache.spark.broadcast.Broadcast[_]): Unit =
    b.destroy(blocking = true)

  /** DataFrame over an already-analyzed logical plan. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Re-wrap a micro-batch's "streaming" DataFrame as a plain batch
    * one (same rows, same plan, isStreaming = false) — what a V1
    * streaming Sink must do before any batch write API can touch the
    * data; Spark's own ForeachBatchSink does the equivalent re-wrap. */
  def toBatchDF(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
      .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    spark.internalCreateDataFrame(
      df.queryExecution.toRdd, df.schema, isStreaming = false)
  }

  /** The session's catalog manager — resolves the INITIALIZED catalog
    * instances (the session caches them on first use), which is what
    * a by-name maintenance entry point must consult rather than
    * re-deriving state from the conf. */
  def catalogManager(spark: SparkSession)
      : org.apache.spark.sql.connector.catalog.CatalogManager =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.catalogManager
}
