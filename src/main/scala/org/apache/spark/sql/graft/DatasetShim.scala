package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.classic.Dataset
import org.apache.spark.sql.execution.SQLExecution

/** Bridge for plans built directly in Catalyst: Spark 4's `Dataset.ofRows`
  * (a DataFrame over a logical plan, no encoder round trip) is
  * private[sql], so it is exposed here, beside [[ColumnShim]].
  */
object DatasetShim {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    Dataset.ofRows(castToImpl(spark), plan)

  /** `df` collected in one job as Spark's compact internal rows, decoded
    * one at a time from the collected bytes (`SparkPlan`'s
    * `executeCollectIterator`, private[spark]): the driver never holds
    * the decoded rows all at once.
    */
  def collectIterator(df: DataFrame): Iterator[InternalRow] = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("collect"))(
      qe.executedPlan.executeCollectIterator())._2
  }
}
