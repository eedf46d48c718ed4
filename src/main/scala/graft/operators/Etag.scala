package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
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
  *
  * The M3/M4 gates left-join requests to the tagged store on
  * `key = __key`. Three request/store shapes, one result:
  *  - distributed requests (a batch of reads, `m3_if_none_match`,
  *    `m4_if_match`): the plain join against the whole store,
  *    hash-partitioned or broadcast as the planner sees fit.
  *  - driver-local requests (the optimized plan is a `LocalRelation`: an
  *    HTTP request, a `createDataFrame` of rows, a `Seq(...).toDF`) over a
  *    store in memory (local rows or a loaded cache): the store is cut to
  *    `__key IN (keys)` (null keys never match and are dropped), the cut
  *    is collected once through [[DriverLocal]], and the join runs on the
  *    driver. The answer is a `LocalRelation`; the gates' status
  *    projection folds into it, so the gate call runs one job and the
  *    caller's collect none.
  *  - driver-local requests over any other store (file-backed, a cache not
  *    yet filled) or outside the gate below: the key-cut store joined
  *    lazily, so its broadcast holds at most |requests| keys, not the store.
  *
  * Why the driver-local gate is what it is:
  *  - every leaf of the key-cut store is in memory, so the call-time run
  *    reads memory only: no file is scanned, no unfilled cache is filled
  *    at call time, and a lazily composed caller is charged nothing;
  *  - the request relation and the collected key-cut rows are both within
  *    `spark.sql.autoBroadcastJoinThreshold` (`-1` disables the path), so
  *    the driver holds a budget's worth of rows (at most about twice the
  *    budget while they arrive, `bridge.collectWithin`); a cut
  *    that passes the budget while it is collected (keys may repeat in a
  *    store that brings its own `__key`, documents may be large) is
  *    dropped, and the read takes the lazy plan after that one job;
  *  - the request key and `__key` are both default-collation strings (the
  *    key every caller builds), so the driver's byte-wise hash match is
  *    the join's equality: no implicit cast or collation is left out.
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

  /** `docs` may already carry `__key`/`__etag` (any self-consistent
    * tagging scheme); otherwise the canonical [[withEtag]] is applied. */
  private def tagged(docs: DataFrame): DataFrame =
    if (docs.columns.contains("__etag") && docs.columns.contains("__key")) docs
    else withEtag(docs)

  /** `requests` left-joined to the tagged `store` on `key = __key`, in
    * the join's schema (request columns, then the store's, nullable). */
  private def joinStore(requests: DataFrame, store: DataFrame): DataFrame = {
    def lazyJoin(s: DataFrame) = requests.join(s, requests("key") === s("__key"), "left")
    requests.queryExecution.optimizedPlan match {
      case lr: LocalRelation =>
        val i = lr.output.indexWhere(a => SQLConf.get.resolver(a.name, "key"))
        if (i < 0) lazyJoin(store) // no key column: the join reports it
        else {
          val dt = lr.output(i).dataType
          val keys = lr.data.filterNot(_.isNullAt(i)).map(_.get(i, dt)).distinct
          val cut = store.where(store("__key").isin(keys.map(k => bridge.column(Literal(k, dt))): _*))
          val local =
            if (dt != StringType || cut.schema("__key").dataType != StringType) None
            else DriverLocal.rows(cut, lr.stats.sizeInBytes)
          local.fold(lazyJoin(cut))(rows => localJoin(requests, lr, i, cut.schema, rows))
        }
      case _ => lazyJoin(store)
    }
  }

  /** The left outer join of the driver-local requests `lr` (key at `i`)
    * and the collected store `rows`, on the driver: each request row once
    * per store row of its key, or once with a null store side. */
  private def localJoin(requests: DataFrame, lr: LocalRelation, i: Int,
                        store: StructType, rows: Seq[InternalRow]): DataFrame = {
    val k = store.fieldIndex("__key")
    val keyType = store(k).dataType
    val (reqTypes, storeTypes) = (lr.output.map(_.dataType), store.map(_.dataType))
    val byKey = rows.groupBy(_.get(k, keyType))
    val absent: Seq[Seq[Any]] = Seq(Seq.fill(store.length)(null))
    val joined = lr.data.flatMap { r =>
      val matches = if (r.isNullAt(i)) None else byKey.get(r.get(i, keyType))
      val req = r.toSeq(reqTypes)
      matches.fold(absent)(_.map(_.toSeq(storeTypes))).map(s => InternalRow.fromSeq(req ++ s))
    }
    DriverLocal.frame(requests.sparkSession,
      StructType(requests.schema ++ store.map(_.copy(nullable = true))), joined)
  }

  /** M3 — batch conditional read (`If-None-Match`,
    * `apiLogicForCRUD.ts:76-78`): join read requests (key, ifNoneMatch)
    * against current docs; status 304 when the tag still matches, 404 when
    * absent, else 200 with the document. Request and store shapes as in
    * the object doc: an HTTP point read over a loaded store runs one job,
    * in this call, and returns a driver-local answer.
    */
  def conditionalRead(docs: DataFrame, requests: DataFrame): DataFrame =
    joinStore(requests, tagged(docs))
      .withColumn("status",
        when(col("__key").isNull, lit(404))
          .when(col("ifNoneMatch").isNotNull && col("ifNoneMatch") === col("__etag"), lit(304))
          .otherwise(lit(200)))
      .withColumn("etag", col("__etag"))
      .drop("__key", "__etag")

  /** M4 — batch conditional-write gate (`If-Match`,
    * `apiLogicForCRUD.ts:185-188,270-273`): for each write request
    * (key, ifMatch), status 404 when the doc is absent, 412 when a
    * supplied tag no longer matches the current canonical ETag, else 200
    * (write may proceed). An ABSENT If-Match (NULL) skips the gate and
    * proceeds — the reference's guard is
    * `if (clientEtag && clientEtag !== generatedEtag)`, so an
    * unconditional PUT/DELETE was never rejected there. Request shapes as
    * in [[conditionalRead]]. */
  def conditionalWrite(docs: DataFrame, requests: DataFrame): DataFrame =
    joinStore(requests, tagged(docs).select(col("__key"), col("__etag")))
      .withColumn("status",
        when(col("__key").isNull, lit(404))
          .when(col("ifMatch").isNotNull && col("ifMatch") =!= col("__etag"), lit(412))
          .otherwise(lit(200)))
      .drop("__key", "__etag")
}
