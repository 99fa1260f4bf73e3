package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic

/** The one `private[sql]` doorway a library-level custom operator
  * needs: turning a hand-built [[LogicalPlan]] back into a
  * [[DataFrame]]. Spark exposes plan CONSTRUCTION through
  * `SparkSessionExtensions` but plan INJECTION only inside its own
  * package — this bridge (the standard extension-library pattern)
  * lives in `org.apache.spark.sql.*` solely to forward to
  * `Dataset.ofRows`. Nothing else reaches into internals. */
object PlanBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
