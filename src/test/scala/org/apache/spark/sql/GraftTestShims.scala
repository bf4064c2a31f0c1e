package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Test-only bridge into `private[sql]` plan execution.
  *
  * BoundaryAuditSpec re-executes each audited query with its `round()`
  * calls STRIPPED from the analyzed plan, so it can measure how close the
  * un-rounded double sums sit to a rounding boundary. Turning a surgically
  * transformed [[LogicalPlan]] back into a collectable DataFrame requires
  * `Dataset.ofRows`, which is `private[sql]` — hence this one-method shim
  * living in the `org.apache.spark.sql` package. Test classpath only;
  * the library itself never uses internal entry points.
  */
object GraftTestShims {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
