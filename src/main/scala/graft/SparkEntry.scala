package graft

import graft.operators._
import graft.sources.{StarDocs, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2 (+ the mandated LLM-pipeline extensions), each with a
  * DuckDB-equivalent `oracleSql` over the same parquet fixtures
  * (plan↔star-schema mapping: FIXTURES.md §B).
  *
  * Oracle-compat conventions (the driver hash-compares values after
  * sorting columns by name):
  *  - aggregate/computed columns aliased identically on both sides;
  *  - money aggregates go through DECIMAL(18,2) before SUM (exact and
  *    order-independent in both engines) and only then to DOUBLE;
  *  - counts cast to BIGINT in DuckDB (its count/sum would widen to
  *    HUGEINT);
  *  - result sets are either keyed (every row unique by a key column) or
  *    explicitly ordered where a LIMIT applies.
  */
object SparkEntry {

  /** Flagship: P3/P4-family parent-child semi-join + renest-shaped output
    * on sf0.001 — the reference's `/allParentsHaving` path end-to-end. */
  def entry(spark: SparkSession): DataFrame =
    queries("p3_child_range_gt")(spark, "/root/testdata/sf0.001")

  private final class Ctx(val s: SparkSession, val d: String) {
    def t(name: String): DataFrame = Tables.load(s, d, name)
  }

  // Decimal-safe revenue-ish aggregation helper (shared across the
  // query batches — ONE definition of the cross-engine money convention)
  private[graft] def dec(c: Column): Column = c.cast("decimal(18,2)")

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    SparkEntryExt.queries ++ SparkEntryIdx.queries ++ SparkEntryLay.queries ++
      SparkEntryUni.queries ++ SparkEntryEvt.queries ++ SparkEntryRel.queries ++
      SparkEntryEr.queries ++ Map(
    // ----- P: search surface (SURVEY §2.3) -----
    "p1_conj_eq" -> { (s, dir) => val c = new Ctx(s, dir); import c.t;
      Search.conjEquals(t("orders"),
        Seq(("o_orderstatus", "F"), ("o_orderpriority", "1-URGENT")))
    },
    "p3_child_range_gt" -> { (s, dir) => val c = new Ctx(s, dir); import c.t;
      Search.hasChildRange(t("orders"), t("lineitem"),
        "o_orderkey", "l_orderkey", col("l_quantity"), 45.0, lt = false)
    },
    "p3_child_range_lt" -> { (s, dir) => val c = new Ctx(s, dir); import c.t;
      Search.hasChildRange(t("orders"), t("lineitem"),
        "o_orderkey", "l_orderkey", col("l_quantity"), 2.0, lt = true)
    },
    "p4_child_eq" -> { (s, dir) => val c = new Ctx(s, dir); import c.t;
      Search.hasChildEquals(t("orders"), t("lineitem"), "o_orderkey", "l_orderkey",
        Seq(("l_returnflag", "R"), ("l_linestatus", "F")))
    },
    "p5_child_dotted" -> { (s, dir) => val c = new Ctx(s, dir); import c.t;
      // dotted-path child property (reference: linkedService.name) — the
      // child's nested part attribute; part is dimension-sized → broadcast
      val liBrand = t("lineitem").join(
        broadcast(t("part").where(col("p_brand") === "Brand#13").select("p_partkey")),
        col("l_partkey") === col("p_partkey"))
      Search.hasChild(t("orders"), liBrand, "o_orderkey", "l_orderkey")
    },
    "p6_has_parent" -> { (s, dir) => val c = new Ctx(s, dir); import c.t;
      Search.hasParent(t("lineitem"),
        t("orders").where(col("o_orderstatus") === "P"), "l_orderkey", "o_orderkey")
    },
    "p7_by_id" -> { (s, dir) => val c = new Ctx(s, dir); import c.t;
      t("orders").where(col("o_orderkey") === 7L)
    },
    "p7_routing" -> { (s, dir) =>
      // P7b — `_routing` lookup (apiLogicForSearch.ts:56-67): every node
      // co-routed with root order_7, straight off the rootKey stamp (the
      // ES routing analogue); one prunable equality predicate
      Search.byRouting(Shred.nodes(StarDocs.docs(s, dir)), "order_7")
        .select("key", "objectType", "parentKey", "relName", "field", "ord", "path")
    },
    "j4_subtree_counts" -> { (s, dir) =>
      // J4b — NON-root subtree cascade (elasticSearch.ts:311-357 on an
      // inner node): the parentKey-closure walk removes lineitem li7_1 and
      // its part child. Key-addressed semantics: the part KEY is removed
      // everywhere it appears (the store holds one object per key).
      Kv.cascadeDelete(Shred.nodes(StarDocs.docs(s, dir)), "lineitem_li7_1")
        .groupBy(col("relName").as("rel_name")).agg(count(lit(1)).as("n"))
    },
    "p8_count" -> { (s, dir) => val c = new Ctx(s, dir); import c.t;
      t("lineitem").agg(count(lit(1)).as("n_rows"))
    },
    "s9_scan_cap" -> { (s, dir) => val c = new Ctx(s, dir); import c.t;
      Kv.cappedScan(t("orders"), 1000, "o_orderkey")
    },
    "s2_exists" -> { (s, dir) => val c = new Ctx(s, dir); import c.t;
      // batch existence probe: first 100 order keys (present) plus five
      // unknown keys (absent) — the 409/404 gate verdicts, distributed
      val kv = t("orders").select(col("o_orderkey").cast("string").as("key"))
      val probes = t("orders").where(col("o_orderkey") <= 100)
        .select(col("o_orderkey").cast("string").as("key"))
        .unionByName(s.range(1, 6).select(concat(lit("Z"), col("id")).as("key")))
      Kv.existsAll(kv, probes)
    },
    "s11_mapping" -> { (s, dir) => val c = new Ctx(s, dir); import c.t;
      Search.mapping(t("orders"), "orders")
    },

    // ----- J: shred / renest (SURVEY §2.2) -----
    "j1_shred_counts" -> { (s, dir) => val c = new Ctx(s, dir); import c.t;
      Shred.nodes(StarDocs.docs(s, dir))
        .groupBy(col("relName").as("rel_name")).agg(count(lit(1)).as("n"))
    },
    "j2_renest_flat" -> { (s, dir) => val c = new Ctx(s, dir); import c.t;
      // full shred → renest round trip, then flattened for the oracle
      val docs = StarDocs.docs(s, dir)
      val back = Renest(Shred.shredTyped(docs), docs.schema)
      back.select(col("objectId").as("order_id"), col("o_orderstatus"),
          col("o_totalprice"), explode(col("lineitems")).as("li"))
        .select(col("order_id"), col("o_orderstatus"), col("o_totalprice"),
          col("li.objectId").as("li_id"), col("li.l_quantity").as("qty"),
          col("li.part.p_brand").as("brand"))
    },
    "j4_cascade_counts" -> { (s, dir) => val c = new Ctx(s, dir); import c.t;
      // cascading delete of root order_7: one anti-predicate on the routing
      // key removes the whole subtree (vs the reference's recursive DFS)
      Kv.cascadeDeleteRoot(Shred.nodes(StarDocs.docs(s, dir)), "order_7")
        .groupBy(col("relName").as("rel_name")).agg(count(lit(1)).as("n"))
    },

    // ----- S/M: KV + mutation algebra (SURVEY §2.1, §2.4) -----
    "s3_create_only" -> { (s, dir) => val c = new Ctx(s, dir); import c.t;
      // create-only gate: customers whose key is NOT already present among
      // order owners (the 409 path is the complement)
      t("customer").join(
        t("orders").where(col("o_orderpriority") === "1-URGENT").select(col("o_custkey")),
        col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
    },
    "s4_upsert" -> { (s, dir) => val c = new Ctx(s, dir); import c.t;
      val kv = t("orders").select(col("o_orderkey").cast("string").as("key"),
        col("o_totalprice"), col("o_orderpriority"))
      val updates = t("orders").where(col("o_orderkey") % 10 === 0)
        .select(col("o_orderkey").cast("string").as("key"),
          (col("o_totalprice") + 1000.0).as("o_totalprice"),
          lit("0-UPSERTED").as("o_orderpriority"))
      Kv.upsert(kv, updates)
    },
    "m2_etag" -> { (s, dir) => val c = new Ctx(s, dir); import c.t;
      t("orders").select(col("o_orderkey").cast("string").as("key"),
        md5(concat_ws("|", col("o_orderkey").cast("string"),
          col("o_orderstatus"), col("o_orderpriority"))).as("etag"))
    },
    "m2_etag_canonical" -> { (s, dir) =>
      // M2 proper — the canonical document ETag: md5 of the canonical JSON
      // form (schema field order; objectId-keyed arrays sorted by objectId)
      // of the re-nested document, the distributed analogue of the
      // reference hashing JSON.stringify of the re-nest (jwtAuth.ts:71-73).
      // Exercised on a string-typed projection of the nested docs so the
      // JSON text is engine-reproducible (double/timestamp rendering is
      // engine-specific); the child array is REVERSED first, so the hash
      // matches the oracle only because canonicalize restores objectId
      // order.
      val docs = StarDocs.docs(s, dir)
      val slim = docs.select(
        col("objectId"), col("objectType"), col("o_orderstatus"), col("o_orderpriority"),
        reverse(transform(col("lineitems"), li => struct(
          li.getField("objectId").as("objectId"),
          li.getField("objectType").as("objectType"),
          li.getField("l_returnflag").as("l_returnflag"),
          li.getField("l_linestatus").as("l_linestatus"),
          struct(
            li.getField("part").getField("objectId").as("objectId"),
            li.getField("part").getField("objectType").as("objectType"),
            li.getField("part").getField("p_brand").as("p_brand")).as("part"))))
          .as("lineitems"))
      Etag.withEtag(slim).select(col("__key").as("key"), col("__etag").as("etag"))
    },
    "m3_if_none_match" -> { (s, dir) => val c = new Ctx(s, dir); import c.t;
      // conditional-read gate over a deterministic request mix: even keys
      // send the current etag (→304), odd send a stale one (→200)
      val tag = md5(concat_ws("|", col("o_orderkey").cast("string"), col("o_orderstatus")))
      val tagged = t("orders").select(col("o_orderkey").cast("string").as("__key"),
        tag.as("__etag"), col("o_orderstatus"))
      val reqs = t("orders").select(col("o_orderkey").cast("string").as("key"),
        when(col("o_orderkey") % 2 === 0,
          md5(concat_ws("|", col("o_orderkey").cast("string"), col("o_orderstatus"))))
          .otherwise(lit("stale")).as("ifNoneMatch"))
      Etag.conditionalRead(tagged, reqs).select("key", "status")
    },

    // ----- ST: streaming upsert semantics, batch-checkable core (SURVEY §2.6) -----
    "st3_upsert_latest" -> { (s, dir) => val c = new Ctx(s, dir); import c.t;
      // the changelog-apply kernel: latest event per user wins (idempotent
      // under replay — applying twice yields the same table)
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").desc, col("event_id").desc)
      t("events").withColumn("__rn", row_number().over(w))
        .where(col("__rn") === 1)
        .select(col("user_id"), col("event_id").as("last_event_id"),
          col("event_type").as("last_type"), col("value").as("last_value"))
    },

    // ----- X: LLM-pipeline extensions (north star) -----
    "x_dedup_exact" -> { (s, dir) => val c = new Ctx(s, dir); import c.t;
      // exact dedup: content-hash groupBy, keep lowest doc_id per group
      graft.ext.Dedup.exact(t("documents"))
    },
    "x_text_tokens" -> { (s, dir) => val c = new Ctx(s, dir); import c.t;
      t("documents").select(col("doc_id"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_tokens"),
        length(col("text")).cast("long").as("n_chars_obs"))
    },
    "x_window_tumbling" -> { (s, dir) => val c = new Ctx(s, dir); import c.t;
      // event-time tumbling window aggregation (batch form; streaming form
      // in graft.streaming uses the same expressions behind a watermark)
      t("events").groupBy(date_trunc("hour", col("ts")).as("hour"),
          col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(dec(col("value"))).cast("double").as("total_value"))
    }
  )

  /** The query names a run selects: `names` trimmed, blanks dropped, and
    * none left selects every query. An unknown name fails, naming it, so a
    * typo cannot time or dump zero queries and read as success. */
  def select(names: Iterable[String]): Set[String] = {
    val all = queries.keySet
    val picked = names.map(_.trim).filter(_.nonEmpty).toSet
    val unknown = picked -- all
    require(unknown.isEmpty, s"unknown query names: ${unknown.toSeq.sorted.mkString(", ")}")
    if (picked.isEmpty) all else picked
  }

  /** [[select]] over `SPARK_GRAFT_ONLY`'s comma-separated form (unset or
    * empty selects every query). */
  def selectOnly(spec: Option[String]): Set[String] =
    select(spec.toSeq.flatMap(_.split(",")))

  def oracleSql: Map[String, String] =
    SparkEntryExt.oracleSql ++ SparkEntryIdx.oracleSql ++ SparkEntryLay.oracleSql ++
      SparkEntryUni.oracleSql ++ SparkEntryEvt.oracleSql ++ SparkEntryRel.oracleSql ++
      SparkEntryEr.oracleSql ++ Map(
    "p1_conj_eq" ->
      "SELECT * FROM orders WHERE o_orderstatus = 'F' AND o_orderpriority = '1-URGENT'",
    "p3_child_range_gt" ->
      ("SELECT * FROM orders o WHERE EXISTS (SELECT 1 FROM lineitem l " +
        "WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45.0)"),
    "p3_child_range_lt" ->
      ("SELECT * FROM orders o WHERE EXISTS (SELECT 1 FROM lineitem l " +
        "WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity < 2.0)"),
    "p4_child_eq" ->
      ("SELECT * FROM orders o WHERE EXISTS (SELECT 1 FROM lineitem l " +
        "WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R' AND l.l_linestatus = 'F')"),
    "p5_child_dotted" ->
      ("SELECT * FROM orders o WHERE EXISTS (SELECT 1 FROM lineitem l JOIN part p " +
        "ON l.l_partkey = p.p_partkey WHERE l.l_orderkey = o.o_orderkey AND p.p_brand = 'Brand#13')"),
    "p6_has_parent" ->
      ("SELECT * FROM lineitem l WHERE EXISTS (SELECT 1 FROM orders o " +
        "WHERE o.o_orderkey = l.l_orderkey AND o.o_orderstatus = 'P')"),
    "p7_by_id" -> "SELECT * FROM orders WHERE o_orderkey = 7",
    "p7_routing" ->
      ("WITH li AS (SELECT *, row_number() OVER (PARTITION BY l_orderkey ORDER BY " +
        "l_linenumber, l_partkey, l_suppkey, l_quantity, l_extendedprice, l_discount, " +
        "l_tax, l_returnflag, l_linestatus, l_shipdate) AS seq FROM lineitem WHERE l_orderkey = 7) " +
        "SELECT 'order_7' AS key, 'order' AS objectType, CAST(NULL AS VARCHAR) AS parentKey, " +
        "'order' AS relName, CAST(NULL AS VARCHAR) AS field, CAST(NULL AS INT) AS ord, '' AS path " +
        "UNION ALL SELECT 'lineitem_li7_' || CAST(seq AS VARCHAR), 'lineitem', 'order_7', " +
        "'order_lineitem', 'lineitems', CAST(seq - 1 AS INT), 'lineitems' FROM li " +
        "UNION ALL SELECT 'part_' || CAST(l_partkey AS VARCHAR), 'part', " +
        "'lineitem_li7_' || CAST(seq AS VARCHAR), 'lineitem_part', 'part', " +
        "CAST(NULL AS INT), 'lineitems.part' FROM li"),
    "j4_subtree_counts" ->
      ("WITH li AS (SELECT *, row_number() OVER (PARTITION BY l_orderkey ORDER BY " +
        "l_linenumber, l_partkey, l_suppkey, l_quantity, l_extendedprice, l_discount, " +
        "l_tax, l_returnflag, l_linestatus, l_shipdate) AS seq FROM lineitem), " +
        "doomed AS (SELECT l_partkey FROM li WHERE l_orderkey = 7 AND seq = 1) " +
        "SELECT 'order' AS rel_name, CAST(count(*) AS BIGINT) AS n FROM orders " +
        "UNION ALL SELECT 'order_lineitem', CAST(count(*) AS BIGINT) FROM li " +
        "WHERE NOT (l_orderkey = 7 AND seq = 1) " +
        "UNION ALL SELECT 'lineitem_part', CAST(count(*) AS BIGINT) FROM li " +
        "WHERE l_partkey NOT IN (SELECT l_partkey FROM doomed)"),
    "p8_count" -> "SELECT CAST(count(*) AS BIGINT) AS n_rows FROM lineitem",
    "s9_scan_cap" -> "SELECT * FROM orders ORDER BY o_orderkey LIMIT 1000",
    "s2_exists" ->
      ("SELECT CAST(o_orderkey AS VARCHAR) AS key, true AS present FROM orders WHERE o_orderkey <= 100 " +
        "UNION ALL SELECT 'Z' || CAST(r AS VARCHAR), false FROM range(1, 6) t(r)"),
    "s11_mapping" ->
      ("SELECT * FROM (VALUES " +
        "('orders', CAST(1 AS INT), 'o_orderkey', 'long'), " +
        "('orders', 2, 'o_custkey', 'long'), " +
        "('orders', 3, 'o_orderstatus', 'keyword'), " +
        "('orders', 4, 'o_totalprice', 'double'), " +
        "('orders', 5, 'o_orderdate', 'date'), " +
        "('orders', 6, 'o_orderpriority', 'keyword')" +
        ") t(table_name, ordinal, field, es_type)"),
    "j1_shred_counts" ->
      ("SELECT 'order' AS rel_name, CAST(count(*) AS BIGINT) AS n FROM orders " +
        "UNION ALL SELECT 'order_lineitem', CAST(count(*) AS BIGINT) FROM lineitem " +
        "UNION ALL SELECT 'lineitem_part', CAST(count(*) AS BIGINT) FROM lineitem"),
    "j2_renest_flat" ->
      ("WITH li AS (SELECT *, row_number() OVER (PARTITION BY l_orderkey ORDER BY " +
        "l_linenumber, l_partkey, l_suppkey, l_quantity, l_extendedprice, l_discount, " +
        "l_tax, l_returnflag, l_linestatus, l_shipdate) AS seq FROM lineitem) " +
        "SELECT CAST(o.o_orderkey AS VARCHAR) AS order_id, o.o_orderstatus, o.o_totalprice, " +
        "'li' || CAST(l.l_orderkey AS VARCHAR) || '_' || CAST(l.seq AS VARCHAR) AS li_id, " +
        "l.l_quantity AS qty, p.p_brand AS brand " +
        "FROM orders o JOIN li l ON o.o_orderkey = l.l_orderkey " +
        "JOIN part p ON l.l_partkey = p.p_partkey"),
    "j4_cascade_counts" ->
      ("SELECT 'order' AS rel_name, CAST(count(*) AS BIGINT) AS n FROM orders WHERE o_orderkey <> 7 " +
        "UNION ALL SELECT 'order_lineitem', CAST(count(*) AS BIGINT) FROM lineitem WHERE l_orderkey <> 7 " +
        "UNION ALL SELECT 'lineitem_part', CAST(count(*) AS BIGINT) FROM lineitem WHERE l_orderkey <> 7"),
    "s3_create_only" ->
      ("SELECT c_custkey, c_name FROM customer c WHERE NOT EXISTS (SELECT 1 FROM orders o " +
        "WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')"),
    "s4_upsert" ->
      ("SELECT CAST(o_orderkey AS VARCHAR) AS key, " +
        "CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice + 1000.0 ELSE o_totalprice END AS o_totalprice, " +
        "CASE WHEN o_orderkey % 10 = 0 THEN '0-UPSERTED' ELSE o_orderpriority END AS o_orderpriority " +
        "FROM orders"),
    "m2_etag" ->
      ("SELECT CAST(o_orderkey AS VARCHAR) AS key, " +
        "md5(concat_ws('|', CAST(o_orderkey AS VARCHAR), o_orderstatus, o_orderpriority)) AS etag " +
        "FROM orders"),
    "m2_etag_canonical" ->
      // reproduces Spark's to_json of the canonical form byte-for-byte:
      // no spaces, schema field order, children sorted by objectId (the
      // string_agg ORDER BY mirrors canonicalize's array_sort comparator;
      // binary collation on both engines), absent child arrays omitted
      // (to_json drops null fields — the coalesce('') branch)
      ("WITH li AS (SELECT *, row_number() OVER (PARTITION BY l_orderkey ORDER BY " +
        "l_linenumber, l_partkey, l_suppkey, l_quantity, l_extendedprice, l_discount, " +
        "l_tax, l_returnflag, l_linestatus, l_shipdate) AS seq FROM lineitem), " +
        "lij AS (SELECT l.l_orderkey AS ok, " +
        "'li' || CAST(l.l_orderkey AS VARCHAR) || '_' || CAST(l.seq AS VARCHAR) AS li_id, " +
        "'{\"objectId\":\"li' || CAST(l.l_orderkey AS VARCHAR) || '_' || CAST(l.seq AS VARCHAR) || " +
        "'\",\"objectType\":\"lineitem\",\"l_returnflag\":\"' || l.l_returnflag || " +
        "'\",\"l_linestatus\":\"' || l.l_linestatus || " +
        "'\",\"part\":{\"objectId\":\"' || CAST(p.p_partkey AS VARCHAR) || " +
        "'\",\"objectType\":\"part\",\"p_brand\":\"' || p.p_brand || '\"}}' AS j " +
        "FROM li l JOIN part p ON l.l_partkey = p.p_partkey) " +
        "SELECT 'order_' || CAST(o_orderkey AS VARCHAR) AS key, " +
        "md5('{\"objectId\":\"' || CAST(o_orderkey AS VARCHAR) || " +
        "'\",\"objectType\":\"order\",\"o_orderstatus\":\"' || o_orderstatus || " +
        "'\",\"o_orderpriority\":\"' || o_orderpriority || '\"' || " +
        "coalesce(',\"lineitems\":[' || (SELECT string_agg(j, ',' ORDER BY li_id) " +
        "FROM lij WHERE lij.ok = o_orderkey) || ']', '') || '}') AS etag " +
        "FROM orders"),
    "m3_if_none_match" ->
      ("SELECT CAST(o_orderkey AS VARCHAR) AS key, " +
        "CAST(CASE WHEN o_orderkey % 2 = 0 THEN 304 ELSE 200 END AS INT) AS status FROM orders"),
    "st3_upsert_latest" ->
      ("SELECT user_id, event_id AS last_event_id, event_type AS last_type, value AS last_value " +
        // CAST(ts AS TIMESTAMP) truncates DuckDB's nanos to micros, matching
        // the engine's Tables.events precision, so the event_id tiebreak
        // picks the same winner even with sub-microsecond ts collisions
        "FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) rn " +
        "FROM events) WHERE rn = 1"),
    "x_dedup_exact" ->
      ("SELECT md5(text) AS h, CAST(min(doc_id) AS BIGINT) AS keep_id, " +
        "CAST(count(*) AS BIGINT) AS n_dupes FROM documents GROUP BY md5(text)"),
    "x_text_tokens" ->
      ("SELECT doc_id, CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens, " +
        "CAST(length(text) AS BIGINT) AS n_chars_obs FROM documents"),
    "x_window_tumbling" ->
      ("SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour, event_type, " +
        "CAST(count(*) AS BIGINT) AS n, " +
        "CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value " +
        "FROM events GROUP BY 1, 2")
  )
}
