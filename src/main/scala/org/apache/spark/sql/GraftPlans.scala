package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** LogicalPlan → DataFrame for graft's prepared plans. Spark's
  * `classic.Dataset.ofRows` is `private[sql]`, which is why this lives
  * in Spark's package, like [[GraftColumns]]: it lets an operator plan a
  * query once and run it again with new leaf data. */
object GraftPlans {
  def dataFrame(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
