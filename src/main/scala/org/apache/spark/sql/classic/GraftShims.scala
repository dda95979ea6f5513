package org.apache.spark.sql.classic

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Narrow bridge into `private[sql]` Spark internals (the standard
  * connector pattern): the DML extension turns an analyzed source plan
  * back into a DataFrame, and driver-small snapshot replay wraps its
  * local relation in one — `Dataset.ofRows` is the only door. Nothing
  * else crosses this boundary.
  */
object GraftShims {
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: LogicalPlan): org.apache.spark.sql.DataFrame =
    Dataset.ofRows(spark.asInstanceOf[SparkSession], plan)
}
