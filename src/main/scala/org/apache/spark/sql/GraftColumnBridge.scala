package org.apache.spark.sql

import scala.concurrent.duration._
import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into the `private[sql]` classic Column↔Expression converters —
  * Spark 4 hid `Column.expr` behind the connect-agnostic API; extension
  * libraries registering custom Catalyst expressions use this standard
  * in-package accessor pattern.
  */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Non-blocking read of an [[Observation]]'s metrics, empty unless they
    * arrive within 100 ms (AQE prunes a `CollectMetrics` under an empty
    * join): `get()` would block forever, and Spark's `getOrEmpty` throws
    * on that timeout (its empty Row has no schema). */
  def observedOrEmpty(obs: Observation): Map[String, Any] =
    scala.util.Try(scala.concurrent.Await.result(obs.future, 100.millis))
      .fold(_ => Map.empty, r => r.getValuesMap(r.schema.fieldNames.toSeq))

  /** DataFrame over a logical plan (`Dataset.ofRows` is `private[sql]`) —
    * for probes that time SUB-plans of a query (e.g. the pipeline below a
    * gate's global sort) without rebuilding them from the API. */
  def ofRows(spark: SparkSession,
             plan: catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

}
