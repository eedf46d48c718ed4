package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, EqualTo, InSet}
import org.apache.spark.sql.catalyst.plans.LeftSemi
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, LocalRelation, LogicalPlan}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types.{StringType, StructType}

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
  * [[Search.hasChild]] (its child keys and hit set) and the ETag gates
  * ([[Etag.conditionalRead]], [[Etag.conditionalWrite]]; the key-cut
  * store of a driver-local request).
  *
  * Its consumers' half is [[keyCut]]: a left-semi join against such a
  * relation becomes a key filter on the join's left side. */
object DriverLocal {

  /** The session's broadcast budget in bytes; `None` when `-1` disables it. */
  private def budget(session: SparkSession): Option[Long] =
    Some(session.sessionState.conf.autoBroadcastJoinThreshold).filter(_ >= 0)

  /** Every leaf of `df`'s optimized plan is local rows or a loaded cache. */
  def inMemory(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collectLeaves().forall {
      case r: InMemoryRelation => r.cacheBuilder.isCachedColumnBuffersLoaded
      case _: LocalRelation => true
      case _ => false
    }

  /** `df`'s rows, from one run (one job) of its plan, when every leaf of
    * its optimized plan is in memory and both `bytes` and the rows' own
    * bytes are within the broadcast budget; `None` otherwise (then nothing
    * has run, or the run passed the budget). */
  def rows(df: DataFrame, bytes: BigInt): Option[Seq[InternalRow]] =
    budget(df.sparkSession).filter(b => bytes <= b && inMemory(df))
      .flatMap(bridge.collectWithin(df, _))

  /** [[rows]] as a DataFrame of `df`'s schema, planned as one
    * `LocalRelation`. */
  def relation(df: DataFrame, bytes: BigInt): Option[DataFrame] =
    rows(df, bytes).map(frame(df.sparkSession, df.schema, _))

  /** A `LocalRelation` over `rows` (internal rows in `schema`'s order),
    * with attributes of its own, so joining it back to the inputs it was
    * computed from is no self-join. */
  def frame(session: SparkSession, schema: StructType, rows: Seq[InternalRow]): DataFrame =
    bridge.frame(session, LocalRelation(DataTypeUtils.toAttributes(schema), rows))

  /** `df` with every left-semi join on one key, `left.k = right.k`,
    * against a right side that plans as a `LocalRelation` within the
    * broadcast budget, replaced by `InSet(left.k, right's non-null keys)`
    * on the left side: the same rows (a semi-join keeps each matching left
    * row once however often its key repeats on the right, and a null key
    * matches nothing on either side) and the same schema. Both keys must be
    * default-collation strings, whose equality is the set's byte equality.
    *
    * The filter is what Catalyst can move: it pushes through projections
    * and a `Generate` down to the scan, so an exploded node path reads and
    * explodes only the rows it keeps, where the semi-join it replaces sits
    * above the explode and costs a job to broadcast its driver-local build
    * side. Any other join (another type, condition, key type or right
    * side, or a right side over the budget) is left as it is. */
  def keyCut(df: DataFrame): DataFrame = {
    val plan = df.queryExecution.analyzed
    val cut = budget(df.sparkSession).fold(plan) { b =>
      plan.transformUp {
        case j @ Join(left, right, LeftSemi, Some(EqualTo(x: Attribute, y: Attribute)), _) =>
          val key = if (left.outputSet.contains(x) && right.outputSet.contains(y)) Some((x, y))
            else if (left.outputSet.contains(y) && right.outputSet.contains(x)) Some((y, x))
            else None
          key.filter { case (l, r) => l.dataType == StringType && r.dataType == StringType }
            .flatMap { case (l, r) => keys(df.sparkSession, right, r, b).map(ks => Filter(InSet(l, ks), left)) }
            .getOrElse(j)
      }
    }
    if (cut eq plan) df else bridge.frame(df.sparkSession, cut)
  }

  /** The non-null values of `key` in `plan`, when it plans as a
    * `LocalRelation` within `budget` bytes. */
  private def keys(session: SparkSession, plan: LogicalPlan, key: Attribute,
                   budget: Long): Option[Set[Any]] =
    if (!plan.collectLeaves().forall(_.isInstanceOf[LocalRelation])) None
    else bridge.frame(session, plan).queryExecution.optimizedPlan match {
      case lr: LocalRelation if lr.stats.sizeInBytes <= budget =>
        // the optimizer keeps the plan's output attributes
        val i = lr.output.indexWhere(_.exprId == key.exprId)
        Some(lr.data.iterator.filterNot(_.isNullAt(i)).map(_.getUTF8String(i): Any).toSet)
      case _ => None
    }
}
