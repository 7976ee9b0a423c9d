package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset, SparkSession => ClassicSparkSession}

/** Bridge into the package-private Dataset factory, so graft can wrap a
  * custom [[LogicalPlan]] node as a public DataFrame. (The standard
  * pattern for Spark extension libraries; same approach as public
  * extension projects that ship custom operators.)
  */
object GraftDataset {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    Dataset.ofRows(spark.asInstanceOf[ClassicSparkSession], plan)
}
