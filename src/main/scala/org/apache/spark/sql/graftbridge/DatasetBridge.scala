package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.classic.ClassicConversions._
import org.apache.spark.sql.classic.Dataset

/** Frame ⇄ session bridge. `Dataset.ofRows` is `private[sql]`, so this
  * shim lives inside the sql package scope, like [[ColumnBridge]].
  */
object DatasetBridge {
  /** `df`'s logical plan as a frame of `spark`: the same rows, planned
    * and run in `spark`. A streamed micro-batch's plan is a `LogicalRDD`
    * over its scan, so no row is converted on the way.
    */
  def rehome(spark: SparkSession, df: DataFrame): DataFrame =
    Dataset.ofRows(spark, df.queryExecution.logical)
}
