package org.apache.spark.sql.graftx

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic

/** Wraps a Catalyst logical plan as a DataFrame. `Dataset.ofRows` is
  * `private[sql]` in Spark 4.x; this shim sits under `org.apache.spark.sql`
  * for that access qualifier only, as `ColumnBridge` does for columns.
  */
object PlanBridge {
  def frame(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
