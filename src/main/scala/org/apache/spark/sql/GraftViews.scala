package org.apache.spark.sql

import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.command.ViewHelper

/** Bridge to a temp view installed in the session catalog as
  * `createOrReplaceTempView` installs it, without the command around it:
  * the command is a SQL execution, planned to render its plan string for
  * the execution event, and parses the view name. `plan` must be
  * resolved; the view stores it as it is, the temporary view relation
  * that the command would build for it (`ViewHelper`, `private[sql]`
  * code). The GraftRows pattern. */
object GraftViews {
  def install(spark: SparkSession, name: String, plan: LogicalPlan): Unit = {
    val catalog = spark.asInstanceOf[classic.SparkSession].sessionState.catalog
    val view = ViewHelper.createTemporaryViewRelation(TableIdentifier(name), spark, replace = true,
      catalog.getRawTempView, originalText = None, plan, plan, referredTempFunctions = Nil)
    catalog.createTempView(name, view, overrideIfExists = true)
  }
}
