package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Spark 4 made the Column↔Expression bridge (`ExpressionUtils`) and
  * `sessionState` private[sql]; this object lives inside the sql
  * package tree to re-expose exactly the two conversions and the
  * function-registration hook graft's custom expressions need.
  * Public-API surface otherwise.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Build a DataFrame from a raw logical plan (classic
    * Dataset.ofRows is private[sql]).
    */
  def ofRows(spark: SparkSession, plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Block until every event posted so far has reached every listener
    * (the listener bus is private[spark]): a per-query trace reads its
    * listeners only after the query's last job-end and progress events
    * have been delivered.
    */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Register a SQL-callable function backed by a Catalyst expression
    * builder, e.g. `registerFunction(spark, "simhash64", es => SimHash64(es.head))`.
    */
  def registerFunction(spark: SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "scala_udf")
}
