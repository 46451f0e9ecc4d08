package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into the `private[sql]` classic Column↔Expression converters —
  * Spark 4 hid `Column.expr` behind the connect-agnostic API; extension
  * libraries registering custom Catalyst expressions use this standard
  * in-package accessor pattern.
  */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Non-blocking read of an [[Observation]]'s metrics (`getOrEmpty` is
    * `private[sql]`; `get()` blocks forever if the metric event never
    * arrives — wrong failure mode for a probe that has a cheap fallback). */
  def observedOrEmpty(obs: Observation): Map[String, Any] = obs.getOrEmpty

  /** DataFrame over a logical plan (`Dataset.ofRows` is `private[sql]`) —
    * for probes that time SUB-plans of a query (e.g. the pipeline below a
    * gate's global sort) without rebuilding them from the API. */
  def ofRows(spark: SparkSession,
             plan: catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

}
