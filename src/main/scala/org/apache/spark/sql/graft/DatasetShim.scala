package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.classic.Dataset

/** Bridge for plans built directly in Catalyst: Spark 4's `Dataset.ofRows`
  * (a DataFrame over a logical plan, no encoder round trip) is
  * private[sql], so it is exposed here, beside [[ColumnShim]].
  */
object DatasetShim {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    Dataset.ofRows(castToImpl(spark), plan)
}
