package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** J2 — re-nest shredded node tables back into whole documents.
  *
  * The reference (`/root/reference/src/utils/elasticSearch.ts:257-300`,
  * `reconstructObject`) re-reads every `objectId`-bearing sub-object with an
  * individual point lookup — an N+1 nested-loop join, one network
  * round-trip per nested object. Here the same semantics become a bottom-up
  * tree of hash joins plus `collect_list` aggregation: one distributed job,
  * no per-object round-trips.
  *
  * Every join and group-by includes `__rootKey` — the reference's ES
  * routing key analogue — so when the node tables are stored bucketed by
  * `rootKey` (the 100 TB layout) all of these joins/aggregations are
  * co-partitioned and plan with zero shuffles.
  *
  * Array order is restored from the shredded `__ord` column (the original
  * array position), so `renest(shredTyped(docs))` is the identity on
  * documents whose arrays are non-empty and null-free. Two lossy corners,
  * both documented and deliberate: an originally-empty (or null) array
  * comes back as null, and a NULL array ELEMENT is dropped during shred
  * (a null child has no key to shred under — `Shred` filters
  * `__node.isNotNull`), so `[a, null, b]` round-trips as `[a, b]`.
  */
object Renest {

  /** Rebuild documents with the original `schema` from the per-path typed
    * tables produced by [[Shred.shredTyped]].
    *
    * A search hands each path in cut to its hits, as a left-semi join on
    * `__rootKey` against the hit set. Where that hit set is driver-local
    * ([[Search.hasChild]]), each input's semi-join becomes an `InSet` on
    * `__rootKey` ([[DriverLocal.keyCut]]), which Catalyst pushes through
    * the path's explode into its cache scan: only hit documents are
    * exploded and assembled, and the hit set is never broadcast. */
  def apply(typed: Map[String, DataFrame], schema: StructType): DataFrame =
    build(typed.map { case (path, nodes) => path -> DriverLocal.keyCut(nodes) }, schema, "")
      .select(col("__doc.*"))

  private def joinPath(path: String, field: String): String =
    if (path.isEmpty) field else s"$path.$field"

  /** Returns a DataFrame of (__key, __parentKey, __rootKey, __ord, __doc)
    * where __doc is the fully assembled struct for this node path. */
  private def build(typed: Map[String, DataFrame], schema: StructType, path: String): DataFrame = {
    var df = typed(path)
    // Accumulate assembled child columns by joining each child path back in.
    val childCol = scala.collection.mutable.Map[String, String]() // field -> working col
    schema.fields.foreach { f =>
      f.dataType match {
        case s: StructType if Shred.isNodeStruct(s) =>
          val c = build(typed, s, joinPath(path, f.name))
            .select(col("__parentKey").as("__jk"), col("__rootKey").as("__jr"),
              col("__doc").as(s"__c_${f.name}"))
          df = df.join(c,
            df("__key") === c("__jk") && df("__rootKey") === c("__jr"), "left")
            .drop("__jk", "__jr")
          childCol(f.name) = s"__c_${f.name}"
        case ArrayType(s: StructType, _) if Shred.isNodeStruct(s) =>
          val c = build(typed, s, joinPath(path, f.name))
            .select(col("__parentKey").as("__jk"), col("__rootKey").as("__jr"),
              struct(col("__ord"), col("__doc")).as("__od"))
            .groupBy(col("__jk"), col("__jr"))
            // array_sort on struct(ord, doc) orders by the leading __ord
            // field — the original array position.
            .agg(transform(array_sort(collect_list(col("__od"))), x => x("__doc"))
              .as(s"__c_${f.name}"))
          df = df.join(c,
            df("__key") === c("__jk") && df("__rootKey") === c("__jr"), "left")
            .drop("__jk", "__jr")
          childCol(f.name) = s"__c_${f.name}"
        case _ => ()
      }
    }
    val docFields: Seq[Column] = schema.fields.toSeq.map { f =>
      childCol.get(f.name).map(c => col(c).as(f.name)).getOrElse(col(f.name).as(f.name))
    }
    df.select(
      col("__key"), col("__parentKey"), col("__rootKey"), col("__ord"),
      struct(docFields: _*).as("__doc"))
  }
}
