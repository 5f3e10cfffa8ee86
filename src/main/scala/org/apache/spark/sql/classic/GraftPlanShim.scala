package org.apache.spark.sql.classic

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge for building a DataFrame from a custom LogicalPlan.
  * `Dataset.ofRows` is `private[sql]`, so libraries that ship their own
  * logical operators (graft's as-of join) need one in-package forwarder —
  * the established pattern for Spark extension libraries. Kept to these
  * forwarders; everything else of graft lives under `graft.*`. */
object GraftPlanShim {
  def ofRows(spark: org.apache.spark.sql.SparkSession, plan: LogicalPlan): org.apache.spark.sql.DataFrame =
    Dataset.ofRows(spark.asInstanceOf[SparkSession], plan)

  /** Column → Catalyst Expression (Spark 4's Column wraps a ColumnNode;
    * the converter lives behind `private[sql]`). */
  def expression(c: org.apache.spark.sql.Column): org.apache.spark.sql.catalyst.expressions.Expression =
    ExpressionUtils.expression(c)

  /** Catalyst Expression → Column, the inverse of [[expression]]. */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): org.apache.spark.sql.Column =
    ExpressionUtils.column(e)
}
