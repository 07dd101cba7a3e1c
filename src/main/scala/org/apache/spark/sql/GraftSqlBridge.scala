package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Minimal bridge into `private[sql]` surface: Column ⇄ Expression
  * conversion for registering custom Catalyst expressions from the graft
  * packages (Spark 4 moved these behind org.apache.spark.sql.classic). */
object GraftSqlBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Block until every listener event posted so far is delivered (the bus
    * is `private[spark]`; QueryExecutionListener callbacks ride it). */
  def drainListeners(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
