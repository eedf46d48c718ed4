package org.apache.spark.sql.graft

import org.apache.spark.{SparkContext, TaskContext}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset, ExpressionUtils}
import org.apache.spark.sql.execution.SQLExecution
import scala.collection.mutable.ArrayBuffer

/** Bridge into Spark's package-private Column↔Expression converters,
  * Dataset constructor, SQL execution tracking and listener bus.
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

  /** A DataFrame over a logical plan (no `Row` encoding of its data). */
  def frame(session: SparkSession, plan: LogicalPlan): DataFrame =
    Dataset.ofRows(session.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Runs `df` once, in one job tracked as one SQL execution (so
    * query-execution listeners see it, as they see `collect`), and returns
    * its rows in Catalyst's internal form, or `None` once they pass
    * `maxBytes` (`UnsafeRow` bytes). A task stops reading at the first row
    * past the bound, and the driver drops the rows it holds once their sum
    * passes it, so the driver holds at most about twice `maxBytes`. */
  def collectWithin(df: DataFrame, maxBytes: Long): Option[Seq[InternalRow]] = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("collect")) {
      val rdd = qe.executedPlan.execute()
      val parts = new Array[Array[UnsafeRow]](rdd.getNumPartitions)
      var total = 0L
      def bytes(rows: Array[UnsafeRow]) = rows.iterator.map(_.getSizeInBytes.toLong).sum
      rdd.sparkContext.runJob(rdd, (_: TaskContext, it: Iterator[InternalRow]) => {
        val out = ArrayBuffer[UnsafeRow]()
        var read = 0L
        while (read <= maxBytes && it.hasNext) {
          val r = it.next().asInstanceOf[UnsafeRow].copy()
          read += r.getSizeInBytes
          out += r
        }
        out.toArray
      }, parts.indices, (i: Int, rows: Array[UnsafeRow]) => {
        total += bytes(rows)
        if (total <= maxBytes) parts(i) = rows
        else java.util.Arrays.fill(parts.asInstanceOf[Array[AnyRef]], null)
      })
      if (total <= maxBytes) Some(parts.toSeq.flatten) else None
    }
  }

  /** Block until every event posted so far has reached every listener
    * (throws `TimeoutException` after a minute). */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000)
}
