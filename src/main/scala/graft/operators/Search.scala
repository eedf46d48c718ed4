package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

/** P1–P10 — the reference's search surface re-expressed as joins/filters.
  *
  * The reference builds ES query-DSL JSON by hand
  * (`/root/reference/src/utils/apiLogicForSearch.ts`) and relies on the
  * parent/child `join` field plus shard routing for `has_child` queries.
  * In Spark each of those is a declarative plan Catalyst optimizes freely:
  * conjunctive predicates push into the parquet scan, `has_child`/
  * `has_parent` become left-semi joins (broadcast when the filtered side is
  * small, sort-merge otherwise; co-partitioned and shuffle-free when both
  * sides are bucketed by the routing key, mirroring ES routing).
  */
object Search {

  /** P1 — conjunctive exact-match (`/search/plans`,
    * `apiLogicForSearch.ts:295-326`): every `field=value` pair ANDed;
    * `match_phrase` on a whole field ≈ exact equality. Dotted paths address
    * nested struct columns, as in the reference's `linkedService.name`. */
  def conjEquals(df: DataFrame, params: Seq[(String, Any)]): DataFrame =
    params.foldLeft(df) { case (d, (f, v)) => d.where(col(f) === lit(v)) }

  /** P2 — match_all (`elasticSearch.ts:206-208`). */
  def matchAll(df: DataFrame): DataFrame = df

  /** P3 — `has_child` with a range predicate
    * (`/allChildrenHavingCopayLessOrGreater`,
    * `apiLogicForSearch.ts:182-244`): parents with ≥1 child of the relation
    * where `valueCol` is below/above the threshold (`lt` picks direction,
    * README item 4). Left-semi join — the child side is filtered *before*
    * the join, so the range predicate is pushed to the child scan. */
  def hasChildRange(parents: DataFrame, children: DataFrame,
                    parentKey: String, childParentKey: String,
                    valueCol: Column, threshold: Double, lt: Boolean): DataFrame = {
    val pred = if (lt) valueCol < lit(threshold) else valueCol > lit(threshold)
    hasChild(parents, children.where(pred), parentKey, childParentKey)
  }

  /** P4/P5 — `has_child` with conjunctive equality on arbitrary child
    * properties (`/allParentsHaving`, `apiLogicForSearch.ts:245-294`; canned
    * corpus `:69-122,164-180`). */
  def hasChildEquals(parents: DataFrame, children: DataFrame,
                     parentKey: String, childParentKey: String,
                     params: Seq[(String, Any)]): DataFrame =
    hasChild(parents, conjEquals(children, params), parentKey, childParentKey)

  /** The shared semi-join. Key columns are addressed by name under fresh
    * aliases, so parent/child slices of the *same* nodes table (the common
    * case) never trip Spark's ambiguous-self-join detection.
    *
    * The child side is collapsed to DISTINCT keys before the join — the
    * aggregate-below-join rewrite, and at scale the load-bearing choice:
    * a semi-join's probe side only ever answers "does this key exist", so
    * shipping every child row across the exchange is pure waste, and under
    * a hot root (one parent with millions of children — the likeliest real
    * skew at 100×) it is a single-task straggler that AQE CANNOT repair:
    * `OptimizeSkewedJoin.canSplitRightSide` excludes LeftSemi, because
    * splitting the probe side of a semi-join would emit a stream row once
    * per split it matches. The distinct's map-side partial aggregation
    * instead collapses the hot key to ≤ one row per source partition
    * BEFORE the exchange, so no skewed partition ever exists; the post-agg
    * key set is also far smaller than the raw child table, putting the
    * broadcast semi-join (zero parent shuffle) within reach where raw
    * children would never fit. Null keys are dropped pre-agg: an equality
    * join can never match them, and a null-heavy child column would
    * otherwise BE the hot key. SkewSpec pins shape and output.
    *
    * Two paths return the same rows under the same schema:
    *  - driver-local: when both inputs are in memory (local rows or loaded
    *    caches), both keys are default-collation strings and the parents'
    *    size (exact: a loaded cache reports its materialized bytes) is
    *    within the broadcast budget ([[DriverLocal]]), the hit set is
    *    computed here in two jobs with no exchange: one collects the
    *    filtered child keys (within the budget; de-duplicated on the
    *    driver, so no aggregate runs), and one collects the parents cut by
    *    an `InSet` on their key ([[DriverLocal.keyCut]]). The rows come back
    *    as a `LocalRelation`, so a search that semi-joins every node path
    *    against the hit set (the `doc_read` search, `p10_search_renest`)
    *    has [[Renest]] cut each path by the same `InSet` instead of
    *    re-running this subtree once per path (under AQE no exchange above
    *    a cached relation is reused: `TableCacheQueryStageExec` has no
    *    `doCanonicalize`) or broadcasting the hit set (a
    *    `BroadcastExchange` over a `LocalTableScan` runs a job of its own:
    *    `LocalTableScanExec` does not override `executeCollectIterator`).
    *    Counted with a listener over loaded node caches on Spark 4.1.2, a
    *    search then runs 4 jobs, down from 6: these 2, and 2 in the
    *    renest's collect, the broadcast of the `lineitems.part` path (the
    *    build side of the renest's LeftOuter join) and the result stage.
    *    That holds at sf0.001 under both the test session's 10 MB budget
    *    and the perfbench session's 64 MB one; the traced perfbench
    *    `doc_read` (20k documents, 64 MB) counts 4 per search as well.
    *  - lazy: any other input gets the plan itself (the child-key
    *    aggregate and the semi-join, run within the caller's plan), and so
    *    does a driver-local run that passes the budget. */
  def hasChild(parents: DataFrame, filteredChildren: DataFrame,
               parentKey: String, childParentKey: String): DataFrame = {
    val childKeys = filteredChildren
      .select(col(childParentKey))
      .where(col(childParentKey).isNotNull)
    val aliased = parents.alias("__p")
    def semiJoin(keys: DataFrame) = aliased.join(keys.alias("__c"),
      col(s"__p.$parentKey") === col(s"__c.$childParentKey"), "left_semi")
    // a semi-join's size estimate is its parents', read off a plan of its
    // own: a memoized parents frame keeps the estimate it was planned with
    val bytes = aliased.queryExecution.optimizedPlan.stats.sizeInBytes
    val strings = parents.schema.find(_.name == parentKey).exists(_.dataType == StringType) &&
      childKeys.schema.head.dataType == StringType
    val local = if (!strings || !DriverLocal.inMemory(aliased)) None else for {
      keys <- DriverLocal.rows(childKeys, bytes)
      distinct = DriverLocal.frame(parents.sparkSession, childKeys.schema,
        keys.distinctBy(_.getUTF8String(0)))
      hits <- DriverLocal.relation(DriverLocal.keyCut(semiJoin(distinct)), bytes)
    } yield hits
    local.getOrElse(semiJoin(childKeys.distinct()))
  }

  /** P6 — `has_parent` (the reference *attempted* this and kept the failed
    * queries, `apiLogicForSearch.ts:123-162`; trivial as a semi-join the
    * other way): children whose parent satisfies the filtered parent set. */
  def hasParent(children: DataFrame, filteredParents: DataFrame,
                childParentKey: String, parentKey: String): DataFrame = {
    // same distinct-keys collapse as [[hasChild]]; parent keys are unique
    // in the common case, but the rewrite keeps the probe side minimal
    // (and broadcastable) regardless of what the caller filtered
    val parentKeys = filteredParents
      .select(col(parentKey))
      .where(col(parentKey).isNotNull)
      .distinct()
    children.alias("__c").join(parentKeys.alias("__p"),
      col(s"__c.$childParentKey") === col(s"__p.$parentKey"), "left_semi")
  }

  /** P7 — metadata lookups: by doc `_id` (`apiLogicForSearch.ts:44-55`) and
    * by `_routing` (`:56-67` — all docs co-routed with a root). */
  def byId(nodes: DataFrame, key: String): DataFrame =
    nodes.where(col("key") === lit(key))
  def byRouting(nodes: DataFrame, rootKey: String): DataFrame =
    nodes.where(col("rootKey") === lit(rootKey))

  /** P8 — hit count (`apiLogicForSearch.ts:274`). */
  def hitCount(df: DataFrame): Long = df.count()

  /** P9 — `_source` projection (`apiLogicForSearch.ts:227-230`): drop
    * engine metadata, keep payload columns. */
  def projectSource(df: DataFrame, payloadCols: Seq[String]): DataFrame =
    df.select(payloadCols.map(col): _*)

  /** S11 — mapping introspection (`GET /getMapping`,
    * `elasticSearch.ts:301-310`): one row per top-level field with its
    * index-vocabulary type — the ES `keyword`/`long`/`double`/`date` names
    * the reference's mapping exposes. Pure catalog metadata (the analyzed
    * schema), no data scan — exactly like the reference's single metadata
    * GET. */
  def mapping(df: DataFrame, table: String): DataFrame = {
    import org.apache.spark.sql.types._
    val rows = df.schema.fields.zipWithIndex.map { case (f, i) =>
      val esType = f.dataType match {
        case LongType | IntegerType | ShortType | ByteType => "long"
        case StringType => "keyword"
        case DoubleType | FloatType => "double"
        case TimestampType | TimestampNTZType | DateType => "date"
        case BooleanType => "boolean"
        case BinaryType => "binary"
        case _: ArrayType => "nested"
        case _: StructType => "object"
        case t => t.simpleString
      }
      (table, i + 1, f.name, esType)
    }.toSeq
    df.sparkSession.createDataFrame(rows)
      .toDF("table_name", "ordinal", "field", "es_type")
  }
}
