package org.apache.spark.sql.graft

import org.apache.spark.SparkContext
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into Spark's package-private Column↔Expression converters and
  * listener bus.
  *
  * Spark 4 hides `Column(expr)` behind `private[sql]`
  * (`org.apache.spark.sql.classic.ExpressionUtils`); third-party Catalyst
  * expressions conventionally bridge through a shim object living in the
  * `org.apache.spark.sql` namespace. The listener bus is `private[spark]`.
  * This is the only place the engine reaches into Spark internals.
  */
object bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Block until every event posted so far has reached every listener
    * (throws `TimeoutException` after a minute). */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000)
}
