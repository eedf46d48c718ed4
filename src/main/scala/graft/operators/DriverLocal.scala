package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types.StructType

/** The engine's one driver-local block: run a request-sized plan over
  * in-memory inputs once, now, and hand its rows on as a `LocalRelation`,
  * so every later use of them plans and runs on the driver.
  *
  * The gate keeps the eager run to memory reads and its result to the
  * session's broadcast budget, `spark.sql.autoBroadcastJoinThreshold`
  * (`-1` disables the block): every leaf of the plan is local rows or a
  * loaded cache (a cache not yet filled counts as not in memory: until its
  * first use Spark sizes it from the plan it caches, and running it would
  * read its inputs), the caller's size figure is within the budget, and
  * so are the collected rows' bytes (counted as they arrive; a run that
  * passes the budget is dropped). Any other plan (a file scan, a range, an
  * unfilled cache, a relation over the budget) is left to the caller's
  * lazy plan, so a 100 TB caller is charged nothing at call time. Users:
  * [[Search.hasChild]] (its hit set) and the ETag gates
  * ([[Etag.conditionalRead]], [[Etag.conditionalWrite]]; the key-cut
  * store of a driver-local request). */
object DriverLocal {

  /** `df`'s rows, from one run (one job) of its plan, when every leaf of
    * its optimized plan is in memory and both `bytes` and the rows' own
    * bytes are within the broadcast budget; `None` otherwise (then nothing
    * has run, or the run passed the budget). */
  def rows(df: DataFrame, bytes: BigInt): Option[Seq[InternalRow]] = {
    val budget = df.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    val inMemory = df.queryExecution.optimizedPlan.collectLeaves().forall {
      case r: InMemoryRelation => r.cacheBuilder.isCachedColumnBuffersLoaded
      case _: LocalRelation => true
      case _ => false
    }
    if (budget >= 0 && bytes <= budget && inMemory) bridge.collectWithin(df, budget) else None
  }

  /** [[rows]] as a DataFrame of `df`'s schema, planned as one
    * `LocalRelation`. */
  def relation(df: DataFrame, bytes: BigInt): Option[DataFrame] =
    rows(df, bytes).map(frame(df.sparkSession, df.schema, _))

  /** A `LocalRelation` over `rows` (internal rows in `schema`'s order),
    * with attributes of its own, so joining it back to the inputs it was
    * computed from is no self-join. */
  def frame(session: SparkSession, schema: StructType, rows: Seq[InternalRow]): DataFrame =
    bridge.frame(session, LocalRelation(DataTypeUtils.toAttributes(schema), rows))
}
