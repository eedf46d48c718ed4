package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

/** M2/M3/M4 — canonical content hashes and optimistic-concurrency gates.
  *
  * The reference hashes `JSON.stringify` of the re-nested document
  * (`/root/reference/src/utils/jwtAuth.ts:71-73`, call sites
  * `apiLogicForCRUD.ts:75,132,185,270`), where key order is JS insertion
  * order. A distributed engine needs a *canonical* form instead
  * (`SURVEY.md` §7.4): we hash `to_json` of the document struct — field
  * order = schema order, deterministic — after sorting every
  * `objectId`-keyed array by `objectId`, so the hash is invariant to the
  * nondeterministic row order a shuffle could introduce. Hashes are
  * self-consistent (all M3/M4 gates recompute the same way), not
  * byte-compatible with the reference's.
  */
object Etag {

  /** Canonical form: arrays of keyed structs sorted by objectId, recursively. */
  def canonicalize(c: Column, dt: DataType): Column = dt match {
    case s: StructType =>
      when(c.isNull, lit(null)).otherwise(
        struct(s.fields.toSeq.map(f =>
          canonicalize(c.getField(f.name), f.dataType).as(f.name)): _*))
    case ArrayType(e: StructType, _) if Shred.isNodeStruct(e) =>
      // NULL objectIds sort FIRST (explicitly — a bare </> comparator
      // returns NULL against a null id, which array_sort reads as "equal
      // to everything": non-transitive, and the sort degenerates to the
      // shuffle-dependent input order, breaking hash canonicality)
      array_sort(
        transform(c, x => canonicalize(x, e)),
        (l, r) => {
          val lo = l.getField("objectId"); val ro = r.getField("objectId")
          when(lo.isNull && ro.isNull, 0)
            .when(lo.isNull, -1)
            .when(ro.isNull, 1)
            .when(lo < ro, -1).when(lo > ro, 1)
            .otherwise(0)
        })
    case ArrayType(e, _) => transform(c, x => canonicalize(x, e))
    case _ => c
  }

  /** All-nullable copy of a type — the canonical form is nullable at every
    * level (its null branches), so casts target this relaxation. */
  def nullableCopy(dt: DataType): DataType = dt match {
    case s: StructType =>
      StructType(s.fields.map(f => f.copy(dataType = nullableCopy(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(nullableCopy(a.elementType), containsNull = true)
    case m: MapType => MapType(m.keyType, nullableCopy(m.valueType), valueContainsNull = true)
    case o => o
  }

  /** ETag column for a whole document row of `schema`. */
  def etag(schema: StructType): Column =
    md5(to_json(canonicalize(struct(schema.fieldNames.map(col): _*),
      schema).cast(nullableCopy(schema))))

  /** docs + `key` + `etag` columns. */
  def withEtag(docs: DataFrame): DataFrame =
    docs
      .withColumn("__etag", etag(docs.schema))
      .withColumn("__key",
        concat_ws("_", col("objectType").cast("string"), col("objectId").cast("string")))

  /** The tagged store a gate joins its requests against. `docs` may
    * already carry `__key`/`__etag` (any self-consistent tagging scheme);
    * otherwise the canonical [[withEtag]] is applied.
    *
    * A left outer join may only build its hash table on the store side.
    * When the request table is driver-local (its optimized plan is a
    * `LocalRelation`: an HTTP request, a `createDataFrame` of rows, a
    * `Seq(...).toDF`), its keys are read from that relation on the driver
    * and the store is cut to `__key IN (keys)` before the join, so the
    * build side holds at most |requests| rows instead of the whole store.
    * Null keys never match and are dropped. A distributed request table
    * keeps the unrestricted plan. */
  private def storeFor(docs: DataFrame, requests: DataFrame): DataFrame = {
    val d = if (docs.columns.contains("__etag") && docs.columns.contains("__key")) docs
      else withEtag(docs)
    requests.queryExecution.optimizedPlan match {
      case lr: LocalRelation =>
        val i = lr.output.indexWhere(a => SQLConf.get.resolver(a.name, "key"))
        if (i < 0) d // no key column: the join reports it
        else {
          val dt = lr.output(i).dataType
          val keys = lr.data.filterNot(_.isNullAt(i)).map(_.get(i, dt)).distinct
          d.where(d("__key").isin(keys.map(k => bridge.column(Literal(k, dt))): _*))
        }
      case _ => d
    }
  }

  /** M3 — batch conditional read (`If-None-Match`,
    * `apiLogicForCRUD.ts:76-78`): join read requests (key, ifNoneMatch)
    * against current docs; status 304 when the tag still matches, 404 when
    * absent, else 200 with the document. Two request shapes, one result:
    * the HTTP point read is a driver-local request table, joined against
    * the store cut to its keys ([[storeFor]]), so a read never broadcasts
    * the whole store; a distributed request table (a batch of reads) joins
    * the whole store, hash-partitioned or broadcast as the planner sees
    * fit.
    */
  def conditionalRead(docs: DataFrame, requests: DataFrame): DataFrame = {
    val d = storeFor(docs, requests)
    requests.join(d, requests("key") === d("__key"), "left")
      .withColumn("status",
        when(col("__key").isNull, lit(404))
          .when(col("ifNoneMatch").isNotNull && col("ifNoneMatch") === col("__etag"), lit(304))
          .otherwise(lit(200)))
      .withColumn("etag", col("__etag"))
      .drop("__key", "__etag")
  }

  /** M4 — batch conditional-write gate (`If-Match`,
    * `apiLogicForCRUD.ts:185-188,270-273`): for each write request
    * (key, ifMatch), status 404 when the doc is absent, 412 when a
    * supplied tag no longer matches the current canonical ETag, else 200
    * (write may proceed). An ABSENT If-Match (NULL) skips the gate and
    * proceeds — the reference's guard is
    * `if (clientEtag && clientEtag !== generatedEtag)`, so an
    * unconditional PUT/DELETE was never rejected there. Request shapes as
    * in [[conditionalRead]]. */
  def conditionalWrite(docs: DataFrame, requests: DataFrame): DataFrame = {
    val d = storeFor(docs, requests)
    requests.join(d.select(col("__key"), col("__etag")), requests("key") === col("__key"), "left")
      .withColumn("status",
        when(col("__key").isNull, lit(404))
          .when(col("ifMatch").isNotNull && col("ifMatch") =!= col("__etag"), lit(412))
          .otherwise(lit(200)))
      .drop("__key", "__etag")
  }
}
