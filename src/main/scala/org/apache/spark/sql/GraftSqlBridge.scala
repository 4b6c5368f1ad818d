package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset => ClassicDataset, ExpressionUtils, SparkSession => ClassicSession}

/** Bridge into `private[sql]` plan construction — the standard technique a
  * Spark library uses to turn a custom LogicalPlan into a DataFrame
  * (Delta, Iceberg, et al. ship equivalent shims).
  */
object GraftSqlBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    ClassicDataset.ofRows(spark.asInstanceOf[ClassicSession], plan)

  def logicalPlan(df: DataFrame): LogicalPlan =
    df.asInstanceOf[ClassicDataset[Row]].logicalPlan

  /** A session over the same context and shared state that starts from a
    * copy of `spark`'s runtime conf, temp views and functions.
    */
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[ClassicSession].cloneSession()

  def column(e: Expression): Column = ExpressionUtils.column(e)

  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
