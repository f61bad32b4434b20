package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Spark 4 removed the public `new Column(Expression)` constructor; the
  * supported bridge lives behind `private[sql]`. This shim (the standard
  * pattern used by Spark-extension libraries, cf. GraphFrames) re-exports
  * just the two conversions graft's native expressions need.
  */
object shims {
  def columnOf(e: Expression): Column = ExpressionUtils.column(e)
  def expressionOf(c: Column): Expression = ExpressionUtils.expression(c)

  /** `Dataset.ofRows` is `private[sql]` in Spark 4; graft's custom logical
    * plan (AsOfJoinPlan) needs it to wrap a hand-built plan back into the
    * public DataFrame API. */
  def dataFrameOf(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** `SparkSession.internalCreateDataFrame` is `private[sql]` in Spark 4:
    * a DataFrame of `schema` over internal-form rows that tasks compute,
    * without a driver-side copy. */
  def dataFrameOf(spark: org.apache.spark.sql.SparkSession,
      rows: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType): org.apache.spark.sql.DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rows, schema)
}
