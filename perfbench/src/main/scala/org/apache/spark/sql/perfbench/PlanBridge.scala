package org.apache.spark.sql.perfbench

import org.apache.spark.sql.{classic, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Runs a logical plan as a count; building a frame from a plan is
  * `private[sql]`.
  */
object PlanBridge {
  def count(spark: SparkSession, plan: LogicalPlan): Long =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan).count()
}
