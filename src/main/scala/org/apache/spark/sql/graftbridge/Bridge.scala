package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal bridge to Spark internals. Spark 4 made the classic
  * Column ↔ Expression converters `private[sql]`; custom Catalyst
  * expressions still need them to surface as `Column`s. The listener
  * bus is `private[spark]`; the query-cost recorder and the listener
  * specs drain it before reading what their listeners saw. This
  * one-file shim lives inside the sql package tree for both. No other
  * Spark internals are touched.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Blocks until the listener bus has delivered every queued event:
    * listener callbacks run asynchronously. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
