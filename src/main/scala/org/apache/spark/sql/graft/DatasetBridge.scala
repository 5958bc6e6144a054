package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic

/** `Dataset.ofRows` — a DataFrame over a logical plan the library built
  * itself (e.g. a `DataSourceV2Relation` over a chosen file set) — is
  * private[sql]; this accessor sits inside the sql package namespace,
  * like [[ColumnBridge]]. */
object DatasetBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
