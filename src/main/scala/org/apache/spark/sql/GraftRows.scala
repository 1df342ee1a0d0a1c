package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Statistics}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.types.StructType

/** Bridge to a DataFrame over rows already in Catalyst's internal form:
  * the public `createDataFrame` takes external `Row`s and converts every
  * one, and the plan node that takes internal rows is built by
  * `private[sql]` code. The planner sizes the relation at `sizeInBytes`
  * (the default for an RDD is "too large to broadcast"). The GraftColumn
  * pattern. */
object GraftRows {
  def of(spark: SparkSession, rows: RDD[InternalRow], schema: StructType, sizeInBytes: BigInt): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan(spark, rows, schema, sizeInBytes))

  /** The relation of [[of]] as a resolved plan, with no Dataset (whose
    * construction runs the analyzer). */
  def plan(spark: SparkSession, rows: RDD[InternalRow], schema: StructType, sizeInBytes: BigInt): LogicalPlan =
    LogicalRDD(DataTypeUtils.toAttributes(schema), rows)(
      spark.asInstanceOf[classic.SparkSession], Some(Statistics(sizeInBytes)))
}
