package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The plan↔star-schema mapping (FIXTURES.md §B): the driver's TPC-H-ish
  * tables recast as the reference's nested-document domain so every
  * document operator is exercisable — and DuckDB-checkable — on the
  * fixture data.
  *
  *   - `orders` row ≡ the root document ("plan", objectType `order`)
  *   - `lineitem` rows ≡ the child array (`linkedPlanServices` analogue)
  *   - `part` via `l_partkey` ≡ the nested grandchild (`linkedService`)
  *
  * The assembly is one broadcast-joined projection (part is dimension-
  * sized) plus one `collect_list` aggregation shuffling on `l_orderkey` —
  * the document-build cost the reference pays per-request at read time
  * (its N+1 re-nest), paid here once, distributed.
  */
object StarDocs {

  // One persisted instance per (session, dataset): the assembled documents
  // table is a SHARED materialized artifact (at scale: a stored table
  // written once, read by the whole workload). Memoizing the DataFrame —
  // instead of calling .persist() on every structurally-equal copy — keeps
  // exactly ONE cache entry alive, silences the CacheManager
  // "already cached" churn, and gives long-lived sessions an explicit
  // release valve ([[invalidate]]). Round-2 persisted per call with no
  // unpersist path, which double-cached the documents alongside the
  // shredded derivative and slowed every later query via memory pressure.
  private val registry =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  /** Nested documents: one per order, children sorted by l_linenumber.
    * Returns the same persisted instance for repeated calls; the cache
    * entry is rebuilt transparently if something (e.g. `clearCache`)
    * dropped it. Synchronized with [[invalidate]] so a concurrent sweep
    * cannot strand a just-re-persisted entry outside the registry. */
  def docs(spark: SparkSession, sfDir: String): DataFrame = synchronized {
    val df = registry.computeIfAbsent((spark, sfDir), _ => build(spark, sfDir))
    if (df.storageLevel == org.apache.spark.storage.StorageLevel.NONE) df.persist()
    df
  }

  /** Drop this session's memoized documents (and their cache entries). */
  def invalidate(spark: SparkSession): Unit = synchronized {
    val it = registry.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getKey._1 eq spark) { e.getValue.unpersist(); it.remove() }
    }
  }

  private def build(spark: SparkSession, sfDir: String): DataFrame = {
    val orders = Tables.orders(spark, sfDir)
    val li = Tables.lineitem(spark, sfDir)
    val part = Tables.part(spark, sfDir)
    // the assembled documents table is the engine's most-shared stored
    // artifact — disk-backed via ArtifactStore, so every session (the
    // building one included) holds the parquet read of the committed
    // table and the ETag store and node tables over it plan over one scan,
    // not the assembly (fingerprinted on the three source tables; a driver
    // fixture regen changes the key)
    graft.ArtifactStore.getOrBuildDf(spark, graft.ArtifactStore.dfKey(
      graft.PlanMemo.tag("stardocs"), Seq(orders, li, part))) {
      assemble(orders, li, part)
    }
  }

  private def assemble(orders: DataFrame, li: DataFrame, part: DataFrame): DataFrame = {
    // grandchild: the lineitem's part, a broadcast-joined nested struct
    // (l_orderkey, l_linenumber) is NOT unique in the fixture data, so the
    // child objectId is a deterministic per-order sequence: row_number over
    // the full natural ordering (identical duplicate rows are
    // interchangeable, so results stay deterministic — and the DuckDB
    // oracle reproduces the same numbering).
    import org.apache.spark.sql.expressions.Window
    val seqW = Window.partitionBy(col("l_orderkey")).orderBy(
      col("l_linenumber"), col("l_partkey"), col("l_suppkey"), col("l_quantity"),
      col("l_extendedprice"), col("l_discount"), col("l_tax"),
      col("l_returnflag"), col("l_linestatus"), col("l_shipdate"))
    val liWithPart = li.withColumn("__seq", row_number().over(seqW)).join(
      broadcast(part.select(col("p_partkey"), col("p_name"), col("p_brand"), col("p_type"))),
      col("l_partkey") === col("p_partkey"))
    val child = liWithPart.select(
      col("l_orderkey"),
      struct(
        concat(lit("li"), col("l_orderkey"), lit("_"), col("__seq")).as("objectId"),
        lit("lineitem").as("objectType"),
        col("l_linenumber"), col("l_quantity"), col("l_extendedprice"),
        col("l_discount"), col("l_returnflag"), col("l_linestatus"),
        struct(
          col("p_partkey").cast("string").as("objectId"),
          lit("part").as("objectType"),
          col("p_name"), col("p_brand"), col("p_type")).as("part"),
        col("__seq").as("__ordkey")).as("li"))
    val children = child.groupBy(col("l_orderkey"))
      .agg(transform(array_sort(collect_list(struct(col("li.__ordkey").as("o"), col("li").as("v")))),
        x => x("v").dropFields("__ordkey")).as("lineitems"))
    orders.alias("o").join(children.alias("c"),
        col("o.o_orderkey") === col("c.l_orderkey"), "left")
      .select(
        col("o_orderkey").cast("string").as("objectId"),
        lit("order").as("objectType"),
        col("o_orderstatus"), col("o_totalprice"),
        col("o_orderdate"), col("o_orderpriority"),
        col("lineitems"))
  }
}
