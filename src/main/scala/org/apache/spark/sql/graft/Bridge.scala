package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge to Spark's `private[sql]` API. Spark 4 made the `Column(expr)`
  * constructor and `.expr` accessor `private[sql]` (Column is API-agnostic
  * now); custom Catalyst expressions still need both, and the Avro archive
  * reads build DataFrames over their own plans, so this lives in an
  * org.apache.spark.sql subpackage — the standard extension seam.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** DataFrame over a logical plan — the Avro archive reads build their
    * DataSourceV2 relation directly (an explicit file list is no reader
    * option), then analyze it like any other query.
    */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Run `body` with `spark`'s job artifact state active, so every job it
    * submits (a raw RDD action included) runs under that session's
    * executor class loader. Jobs under one class loader share
    * `CodeGenerator`'s compiled-class cache, keyed by (loader, code).
    */
  def withArtifacts[T](spark: SparkSession)(body: => T): T =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .artifactManager.withResources(body)

  /** Unwrap a sort Column (`col.desc` / `col.asc`) into its child column,
    * whether it ascends, and whether the null ordering is the direction's
    * default — Spark 4 Columns carry `sql.internal.SortOrder` NODES (not
    * catalyst SortOrder expressions), so the inspection has to happen at
    * the node layer. Returns None for a non-sort column.
    */
  def sortOrder(c: Column): Option[(Column, Boolean, Boolean)] = c.node match {
    case so: org.apache.spark.sql.internal.SortOrder =>
      val asc = so.sortDirection == org.apache.spark.sql.internal.SortOrder.Ascending
      val defaultNulls =
        if (asc) so.nullOrdering == org.apache.spark.sql.internal.SortOrder.NullsFirst
        else so.nullOrdering == org.apache.spark.sql.internal.SortOrder.NullsLast
      Some((Column(so.child), asc, defaultNulls))
    case _ => None
  }
}
