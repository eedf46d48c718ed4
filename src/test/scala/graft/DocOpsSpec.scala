package graft

import graft.functions.JsonSchema
import graft.operators._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Fixtures shaped like the reference's canonical plan document
  * (`/root/reference/src/jsonFile.json:1-49`, reproduced in FIXTURES.md
  * §A.1) and its runtime schema (`schema.txt:1-57`, FIXTURES.md §A.2). */
object PlanFixture {
  // draft-04 schema equivalent to the reference's schema.txt (written from
  // the FIXTURES.md description, not copied).
  val schemaJson: String =
    """{
      "$schema": "http://json-schema.org/draft-04/schema#",
      "type": "object",
      "additionalProperties": false,
      "required": ["objectId", "creationDate", "objectType"],
      "properties": {
        "objectId": {"type": "string"},
        "objectType": {"type": "string"},
        "planType": {"type": "string"},
        "_org": {"type": "string"},
        "creationDate": {"type": "string",
          "pattern": "^(0[1-9]|[12][0-9]|3[01])-(0[1-9]|1[012])-([0-9]{4})$"},
        "planCostShares": {"$ref": "#/definitions/costShare"},
        "linkedPlanServices": {"type": "array", "items": {"$ref": "#/definitions/planService"}}
      },
      "definitions": {
        "costShare": {
          "type": "object",
          "required": ["objectId", "objectType"],
          "properties": {
            "deductible": {"type": "number"}, "copay": {"type": "number"},
            "_org": {"type": "string"},
            "objectId": {"type": "string"}, "objectType": {"type": "string"}
          }
        },
        "service": {
          "type": "object",
          "required": ["objectId", "objectType"],
          "properties": {
            "_org": {"type": "string"}, "name": {"type": "string"},
            "objectId": {"type": "string"}, "objectType": {"type": "string"}
          }
        },
        "planService": {
          "type": "object",
          "required": ["objectId", "objectType"],
          "properties": {
            "_org": {"type": "string"},
            "objectId": {"type": "string"}, "objectType": {"type": "string"},
            "linkedService": {"$ref": "#/definitions/service"},
            "planserviceCostShares": {"$ref": "#/definitions/costShare"}
          }
        }
      }
    }"""

  def planJson(id: String, services: Seq[(String, String, Double)]): String = {
    val svc = services.map { case (sid, name, copay) =>
      s"""{"_org":"example.com","objectId":"ps$sid","objectType":"planservice",
          "linkedService":{"_org":"example.com","objectId":"sv$sid","objectType":"service","name":"$name"},
          "planserviceCostShares":{"deductible":10.0,"copay":$copay,"_org":"example.com","objectId":"cs$sid","objectType":"membercostshare"}}"""
        .replaceAll("\n\\s*", "")
    }.mkString("[", ",", "]")
    s"""{"objectId":"$id","objectType":"plan","planType":"inNetwork","_org":"example.com","creationDate":"12-12-2017",
        "planCostShares":{"deductible":20.0,"copay":10.0,"_org":"example.com","objectId":"pcs$id","objectType":"membercostshare"},
        "linkedPlanServices":$svc}""".replaceAll("\n\\s*", "")
  }

  lazy val sparkSchema: StructType =
    JsonSchema.sparkType(JsonSchema.parse(schemaJson)).asInstanceOf[StructType]

  def docs(spark: org.apache.spark.sql.SparkSession, jsons: Seq[String]): DataFrame = {
    import spark.implicits._
    spark.createDataset(jsons).toDF("j")
      .select(from_json(col("j"), sparkSchema).as("d")).select("d.*")
  }
}

class ShredRenestSpec extends SparkSpec {
  import PlanFixture._

  lazy val twoPlans: DataFrame = docs(spark, Seq(
    planJson("A", Seq(("1", "Yearly physical", 175.0), ("2", "well baby", 20.0))),
    planJson("B", Seq(("3", "dental", 30.0)))))

  test("shredTyped emits one table per node path with meta columns") {
    val typed = Shred.shredTyped(twoPlans)
    assert(typed.keySet == Set("", "planCostShares", "linkedPlanServices",
      "linkedPlanServices.linkedService", "linkedPlanServices.planserviceCostShares"))
    assert(typed("").count() == 2)
    assert(typed("planCostShares").count() == 2)
    assert(typed("linkedPlanServices").count() == 3)
    assert(typed("linkedPlanServices.linkedService").count() == 3)
    val ps = typed("linkedPlanServices").where(col("__rootKey") === "plan_A")
    assert(ps.count() == 2)
    assert(ps.select("__parentKey").distinct().head().getString(0) == "plan_A")
  }

  test("nodes table carries reference-style relNames and routing key") {
    val nodes = Shred.nodes(twoPlans)
    assert(nodes.count() == 2 + 2 + 3 + 3 + 3)
    val rels = nodes.select("relName").distinct().collect().map(_.getString(0)).toSet
    assert(rels == Set("plan", "plan_membercostshare", "plan_planservice",
      "planservice_service", "planservice_membercostshare"))
    // every non-root routed to its root (ES routing analogue)
    assert(nodes.where(col("rootKey") === "plan_A").count() == 1 + 1 + 2 + 2 + 2)
    assert(nodes.where(col("key") === "service_sv1").select("parentKey")
      .head().getString(0) == "planservice_ps1")
  }

  test("renest ∘ shred = identity (array order preserved via ord)") {
    val typed = Shred.shredTyped(twoPlans)
    val back = Renest(typed, twoPlans.schema)
    // same structure (nullability flags may differ after outer joins)
    assert(back.schema.simpleString == twoPlans.schema.simpleString)
    val a = twoPlans.select(to_json(struct(twoPlans.columns.map(col): _*)).as("j"))
      .collect().map(_.getString(0)).sorted
    val b = back.select(to_json(struct(back.columns.map(col): _*)).as("j"))
      .collect().map(_.getString(0)).sorted
    assert(a.sameElements(b))
  }
}

class MergePatchSpec extends SparkSpec {
  import PlanFixture._

  test("scalar replace, struct deep-merge, keyed-array upsert") {
    val current = docs(spark, Seq(
      planJson("A", Seq(("1", "Yearly physical", 175.0), ("2", "well baby", 20.0)))))
    // patch: change planType, deep-merge copay in planCostShares, replace
    // service ps1, append new service ps9
    val patchJson =
      """{"objectId":"A","objectType":"plan","planType":"outNetwork",
          "planCostShares":{"copay":99.0,"objectId":"pcsA","objectType":"membercostshare"},
          "linkedPlanServices":[
            {"_org":"ex2.com","objectId":"ps1","objectType":"planservice",
             "linkedService":{"objectId":"sv1","objectType":"service","name":"Monthly physical"}},
            {"_org":"example.com","objectId":"ps9","objectType":"planservice",
             "linkedService":{"objectId":"sv9","objectType":"service","name":"vision"}}]}"""
        .replaceAll("\n\\s*", "")
    val patches = docs(spark, Seq(patchJson))
    val merged = MergePatch(current, patches)
    val row = merged.head()
    assert(merged.select("planType").head().getString(0) == "outNetwork")
    // unpatched scalar kept
    assert(merged.select("creationDate").head().getString(0) == "12-12-2017")
    // deep merge: copay replaced, deductible kept
    assert(merged.select("planCostShares.copay").head().getDouble(0) == 99.0)
    assert(merged.select("planCostShares.deductible").head().getDouble(0) == 20.0)
    // keyed-array upsert: order [ps1(replaced), ps2(kept), ps9(appended)]
    val svc = merged.select(expr("transform(linkedPlanServices, x -> x.objectId)"))
      .head().getSeq[String](0)
    assert(svc == Seq("ps1", "ps2", "ps9"))
    val names = merged.select(expr("transform(linkedPlanServices, x -> x.linkedService.name)"))
      .head().getSeq[String](0)
    // ps1 replaced wholesale (reference Map.set semantics, modifyObject.ts:74-83)
    assert(names == Seq("Monthly physical", "well baby", "vision"))
  }

  test("rows without a patch pass through unchanged") {
    val current = docs(spark, Seq(
      planJson("A", Seq(("1", "a", 1.0))), planJson("B", Seq(("2", "b", 2.0)))))
    val patches = docs(spark, Seq(
      """{"objectId":"A","objectType":"plan","planType":"x"}"""))
    val merged = MergePatch(current, patches)
    assert(merged.count() == 2)
    assert(merged.where(col("objectId") === "B").select("planType")
      .head().getString(0) == "inNetwork")
  }

  private def jsonMerge(doc: String, patch: String): String = {
    import spark.implicits._
    Seq((doc, Option(patch))).toDF("doc", "patch")
      .select(graft.plans.JsonExpressions.jsonMergePatch(col("doc"), col("patch")).as("m"))
      .head().getString(0)
  }

  test("json-level merge: explicit null clears, absent keeps (modifyObject.ts:55-60)") {
    val out = jsonMerge(
      """{"objectId":"A","objectType":"plan","planType":"inNetwork","creationDate":"12-12-2017"}""",
      """{"objectId":"IGNORED","planType":null,"note":"added"}""")
    // root objectId immutable; explicit null OVERWRITES planType; absent
    // creationDate kept; new member appended in patch order
    assert(out ==
      """{"objectId":"A","objectType":"plan","planType":null,"creationDate":"12-12-2017","note":"added"}""",
      out)
  }

  test("json-level merge: keyed-array upsert and struct deep-merge match the typed operator") {
    val doc =
      """{"objectId":"A","objectType":"plan","planType":"inNetwork",
         "planCostShares":{"objectId":"pcsA","objectType":"membercostshare","deductible":20.0,"copay":5.0},
         "linkedPlanServices":[
           {"objectId":"ps1","objectType":"planservice","name":"old1"},
           {"objectId":"ps2","objectType":"planservice","name":"old2"}]}"""
        .replaceAll("\n\\s*", "")
    val patch =
      """{"planCostShares":{"copay":99.0},
         "linkedPlanServices":[
           {"objectId":"ps1","objectType":"planservice","name":"new1"},
           {"objectId":"ps9","objectType":"planservice","name":"new9"}]}"""
        .replaceAll("\n\\s*", "")
    val out = jsonMerge(doc, patch)
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(out)
    // deep merge: copay replaced, deductible kept
    assert(node.get("planCostShares").get("copay").asDouble() == 99.0)
    assert(node.get("planCostShares").get("deductible").asDouble() == 20.0)
    // keyed upsert: [ps1 replaced wholesale, ps2 kept, ps9 appended]
    val svc = (0 until node.get("linkedPlanServices").size()).map(i =>
      node.get("linkedPlanServices").get(i))
    assert(svc.map(_.get("objectId").asText()) == Seq("ps1", "ps2", "ps9"))
    assert(svc.map(_.get("name").asText()) == Seq("new1", "old2", "new9"))
  }

  test("json-level merge: NULL patch passes through; malformed input poisons to NULL") {
    import spark.implicits._
    val doc = """{"objectId":"A","objectType":"plan","x":1}"""
    assert(jsonMerge(doc, null) == doc)
    val bad = Seq((doc, "not json"), ("not json", "{}"))
      .toDF("doc", "patch")
      .select(graft.plans.JsonExpressions.jsonMergePatch(col("doc"), col("patch")).as("m"))
      .collect()
    assert(bad.forall(_.isNullAt(0)), bad.mkString)
    // non-keyed arrays replace wholesale (RFC 7386 / reference behavior)
    val arr = jsonMerge("""{"objectId":"A","tags":[1,2,3]}""", """{"tags":[9]}""")
    assert(arr == """{"objectId":"A","tags":[9]}""", arr)
  }

  test("json-level merge: hostile 5000-deep nesting poisons to NULL, no stack overflow") {
    // Jackson's StreamReadConstraints (default max depth 1000 since 2.15)
    // rejects the parse, which the malformed-input branch turns into NULL —
    // so the recursive merge can never see unbounded depth
    val deep = "{\"a\":" * 5000 + "1" + "}" * 5000
    import spark.implicits._
    val out = Seq((deep, deep)).toDF("doc", "patch")
      .select(graft.plans.JsonExpressions.jsonMergePatch(col("doc"), col("patch")).as("m"))
      .head()
    assert(out.isNullAt(0), "hostile nesting should poison to NULL")
  }
}

class EtagSpec extends SparkSpec {
  import PlanFixture._

  test("etag is stable under array reordering (canonical form)") {
    val d1 = docs(spark, Seq(planJson("A", Seq(("1", "x", 1.0), ("2", "y", 2.0)))))
    // same doc, array elements swapped
    val j = planJson("A", Seq(("2", "y", 2.0), ("1", "x", 1.0)))
    val d2 = docs(spark, Seq(j))
    val e1 = Etag.withEtag(d1).select("__etag").head().getString(0)
    val e2 = Etag.withEtag(d2).select("__etag").head().getString(0)
    assert(e1 == e2)
  }

  test("etag changes when content changes") {
    val d1 = docs(spark, Seq(planJson("A", Seq(("1", "x", 1.0)))))
    val d2 = docs(spark, Seq(planJson("A", Seq(("1", "x", 2.0)))))
    val e1 = Etag.withEtag(d1).select("__etag").head().getString(0)
    val e2 = Etag.withEtag(d2).select("__etag").head().getString(0)
    assert(e1 != e2)
  }

  test("conditional read: 200 / 304 / 404") {
    import spark.implicits._
    val d = docs(spark, Seq(planJson("A", Seq(("1", "x", 1.0)))))
    val tag = Etag.withEtag(d).select("__etag").head().getString(0)
    val reqs = Seq(
      ("plan_A", tag),                    // → 304
      ("plan_A", "stale-tag"),            // → 200
      ("plan_MISSING", null.asInstanceOf[String])) // → 404
      .toDF("key", "ifNoneMatch")
    val byReq = Etag.conditionalRead(d, reqs).select("ifNoneMatch", "status")
      .collect().map(r => (Option(r.getString(0)).getOrElse("null"), r.getInt(1))).toMap
    assert(byReq(tag) == 304)
    assert(byReq("stale-tag") == 200)
    assert(byReq("null") == 404)
  }

  test("conditional write: 200 / 412 / 404") {
    import spark.implicits._
    val d = docs(spark, Seq(planJson("A", Seq(("1", "x", 1.0)))))
    val tag = Etag.withEtag(d).select("__etag").head().getString(0)
    val reqs = Seq(
      ("plan_A", tag),            // → 200
      ("plan_A", "stale"),        // → 412
      ("plan_Z", tag))            // → 404
      .toDF("key", "ifMatch")
    val res = Etag.conditionalWrite(d, reqs).select("key", "ifMatch", "status")
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getInt(2))).toMap
    assert(res(("plan_A", tag)) == 200)
    assert(res(("plan_A", "stale")) == 412)
    assert(res(("plan_Z", tag)) == 404)
  }

  test("gates answer a driver-local and a distributed request table identically") {
    import org.apache.spark.sql.catalyst.expressions.{In, InSet}
    import org.apache.spark.sql.catalyst.plans.logical.{Join, LocalRelation}
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    import org.apache.spark.sql.types.{LongType, StringType, StructField}
    import spark.implicits._
    val tagged = Etag.withEtag(docs(spark, Seq(
      planJson("A", Seq(("1", "x", 1.0))), planJson("B", Seq(("2", "y", 2.0))))))
    val tagA = tagged.where(col("__key") === "plan_A").select("__etag").head().getString(0)
    // read: 304, 304 (duplicate key), 200 (stale), 200 (no tag), 404
    // (absent key), 404 (null key, with and without a tag); as a write
    // gate the same rows give 200, 200, 412, 200, 404, 404, 404
    val rows = Seq(Row("plan_A", tagA), Row("plan_A", tagA), Row("plan_A", "stale"),
      Row("plan_B", null), Row("plan_Z", "x"), Row(null, "x"), Row(null, null))
    def requests(tagCol: String) = spark.createDataFrame(java.util.Arrays.asList(rows: _*),
      StructType(Seq(StructField("key", StringType), StructField(tagCol, StringType))))
    def sorted(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    def isLazy(df: DataFrame) = df.queryExecution.analyzed.exists(_.isInstanceOf[Join])
    def keyPruned(df: DataFrame) = df.queryExecution.analyzed.exists(_.expressions.exists(_.exists {
      case i: In => i.value.references.exists(_.name == "__key")
      case i: InSet => i.child.references.exists(_.name == "__key")
      case _ => false
    }))
    val gates = Seq(
      (Etag.conditionalRead _, "ifNoneMatch", Seq(304, 304, 200, 200, 404, 404, 404)),
      (Etag.conditionalWrite _, "ifMatch", Seq(200, 200, 412, 200, 404, 404, 404)))
    val store = tagged.persist()
    try {
      store.count()
      for ((gate, tagCol, want) <- gates) {
        // a loaded store: the gate runs one job (the key-cut store's
        // collect), its answer is one LocalRelation and collecting it runs none
        val (local, gateJobs) = withJobCount(gate(store, requests(tagCol)))
        assert(gateJobs == 1, s"$tagCol: the gate call ran $gateJobs jobs")
        assert(local.queryExecution.optimizedPlan.isInstanceOf[LocalRelation],
          s"$tagCol:\n${local.queryExecution.optimizedPlan}")
        val (localRows, collectJobs) = withJobCount(sorted(local))
        assert(collectJobs == 0, s"$tagCol: collecting the answer ran $collectJobs jobs")
        val distributed = gate(store, requests(tagCol).repartition(2))
        assert(isLazy(distributed), tagCol)
        // LifecycleSpec reads gate columns by position
        assert(local.schema == distributed.schema, tagCol)
        assert(local.collect().map(_.getAs[Int]("status")).sorted.toSeq == want.sorted, tagCol)
        assert(localRows == sorted(distributed), tagCol)
      }
    } finally store.unpersist()

    // every other shape keeps the lazy plan over the key-cut store (the
    // distributed request joins the whole store) and answers as the
    // distributed one; both gates are planned before either runs, since
    // running one fills an unfilled cache
    def fallsBack(what: String, s: DataFrame, reqs: String => DataFrame): Unit = {
      val answers = gates.map { case (gate, tagCol, _) =>
        (s"$what/$tagCol", gate(s, reqs(tagCol)), gate(s, reqs(tagCol).repartition(2)))
      }
      answers.foreach { case (at, local, distributed) =>
        assert(isLazy(local), s"$at: expected the lazy plan:\n${local.queryExecution.analyzed}")
        assert(keyPruned(local) && !keyPruned(distributed), s"$at: key cut")
        assert(local.schema == distributed.schema, at)
      }
      answers.foreach { case (at, local, distributed) =>
        assert(sorted(local) == sorted(distributed), at)
      }
    }
    val unfilled = tagged.persist()
    try fallsBack("unfilled cache", unfilled, requests) finally unfilled.unpersist()
    val dir = java.nio.file.Files.createTempDirectory("graft_etag_store").toString
    tagged.write.mode("overwrite").parquet(dir)
    val fromFiles = spark.read.parquet(dir)
    fallsBack("parquet store", fromFiles, requests)
    assert(Etag.conditionalRead(fromFiles, requests("ifNoneMatch"))
      .queryExecution.analyzed.exists(_.isInstanceOf[LogicalRelation]), "parquet scan kept")
    val cached = tagged.persist()
    try {
      cached.count()
      for (budget <- Seq("-1", "1"))
        withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> budget) {
          fallsBack(s"budget $budget", cached, requests)
        }
      // a long request key against the string __key: the join casts, and
      // the driver-local join matches string keys only
      val numbered = Seq(("1", "t1"), ("2", "t2")).toDF("__key", "__etag").persist()
      try {
        numbered.count()
        fallsBack("long key", numbered, tagCol => spark.createDataFrame(
          java.util.Arrays.asList(Row(1L, "t1"), Row(2L, "x"), Row(3L, null), Row(null, "t1")),
          StructType(Seq(StructField("key", LongType), StructField(tagCol, StringType)))))
      } finally numbered.unpersist()
    } finally cached.unpersist()
    // requests well within the budget whose key-cut rows are not: the
    // collect passes the budget and the gate takes the lazy plan
    val bulky = Seq(("k1", "a" * 5000), ("k2", "b" * 5000), ("k2", "c" * 5000))
      .toDF("__key", "__etag").persist()
    try {
      bulky.count()
      withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> "4096") {
        fallsBack("bulky rows", bulky, tagCol => spark.createDataFrame(
          java.util.Arrays.asList(Row("k1", "a" * 5000), Row("k2", "x"), Row("k3", null)),
          StructType(Seq(StructField("key", StringType), StructField(tagCol, StringType)))))
      }
    } finally bulky.unpersist()
  }

  test("m3/m4 request mixes answer driver-local as the distributed entries do") {
    // the entries' own request and tagged relations (the two sides of
    // their join), with the requests collected to a driver-local table and
    // the tagged relation a loaded cache: the driver-local path over
    // oracle-checked input
    import org.apache.spark.sql.catalyst.plans.logical.{Join, LocalRelation}
    import org.apache.spark.sql.graft.bridge
    def sorted(df: DataFrame) = df.collect().map(r => (r.getString(0), r.getInt(1))).sorted.toSeq
    for ((entry, gate, absent) <- Seq(
        ("m3_if_none_match", Etag.conditionalRead _, 0),
        ("m4_if_match", Etag.conditionalWrite _, 5))) {
      val q = SparkEntry.queries(entry)(spark, sf)
      val want = sorted(q)
      assert(want.map(_._2).toSet.size > 1 && want.count(_._2 == 404) == absent, entry)
      val j = q.queryExecution.analyzed.collectFirst { case j: Join => j }.get
      val reqs = bridge.frame(spark, j.left)
      val local = spark.createDataFrame(reqs.collectAsList(), reqs.schema)
      val store = bridge.frame(spark, j.right).persist()
      try {
        store.count()
        val res = gate(store, local).select("key", "status")
        assert(res.queryExecution.optimizedPlan.isInstanceOf[LocalRelation], entry)
        assert(sorted(res) == want, entry)
      } finally store.unpersist()
    }
  }
}

class ValidateSpec extends SparkSpec {
  import PlanFixture._
  import org.apache.spark.sql.functions.{col, size}

  def errsOf(json: String): Seq[String] = {
    import spark.implicits._
    val df = Seq(json).toDF("j")
      .select(Validate.errors(col("j"), JsonSchema.parse(schemaJson)).as("e"))
    df.head().getSeq[String](0)
  }

  test("valid canonical document passes") {
    assert(errsOf(planJson("A", Seq(("1", "x", 1.0)))).isEmpty)
  }

  test("negative fixtures from FIXTURES.md A.2 each fail") {
    // extra top-level field (additionalProperties: false)
    assert(errsOf("""{"objectId":"A","objectType":"plan","creationDate":"12-12-2017","bogus":1}""")
      .exists(_.contains("additional properties")))
    // missing required objectId
    assert(errsOf("""{"objectType":"plan","creationDate":"12-12-2017"}""")
      .exists(_.contains("missing required $.objectId")))
    // non-numeric copay
    assert(errsOf(
      """{"objectId":"A","objectType":"plan","creationDate":"12-12-2017",
         "planCostShares":{"copay":"abc","objectId":"c","objectType":"membercostshare"}}"""
        .replaceAll("\n\\s*", ""))
      .exists(_.contains("not a number")))
    // QUOTED number — lexically numeric, but a JSON string: must fail the
    // number type check (get_json_object alone cannot see the quotes)
    assert(errsOf(
      """{"objectId":"A","objectType":"plan","creationDate":"12-12-2017",
         "planCostShares":{"copay":"12","objectId":"c","objectType":"membercostshare"}}"""
        .replaceAll("\n\\s*", ""))
      .exists(_.contains("not a number")))
    // number where a string is required
    assert(errsOf("""{"objectId":7,"objectType":"plan","creationDate":"12-12-2017"}""")
      .exists(_.contains("not a string")))
    // wrong date format (pattern)
    assert(errsOf("""{"objectId":"A","objectType":"plan","creationDate":"2017-12-12"}""")
      .exists(_.contains("pattern mismatch")))
    // malformed json
    assert(errsOf("""{nope""").exists(_.contains("malformed")))
    // bad SECOND array element (missing objectId) — element-wise check
    assert(errsOf(
      """{"objectId":"A","objectType":"plan","creationDate":"12-12-2017",
         "linkedPlanServices":[
           {"objectId":"ps1","objectType":"planservice"},
           {"objectType":"planservice"}]}"""
        .replaceAll("\n\\s*", ""))
      .exists(_.contains("missing required objectId in an element")))
  }

  test("NULL, empty, and whitespace-only documents FAIL validation (absent body = 400)") {
    import spark.implicits._
    // a NULL document must not sail through with zero errors
    val nullErrs = Seq(Option.empty[String]).toDF("j")
      .select(Validate.errors(col("j"), JsonSchema.parse(schemaJson)).as("e"))
      .head().getSeq[String](0)
    assert(nullErrs == Seq("malformed json"), nullErrs.toString)
    // Jackson ≥2.10 parses ""/whitespace to MissingNode rather than
    // throwing — still an unparseable document, not a JSON null
    assert(errsOf("") == Seq("malformed json"))
    assert(errsOf("   \n") == Seq("malformed json"))
  }

  test("non-object / JSON-null array elements flag element-wise required") {
    // intended verdict (pinned): an array element that is not an object —
    // a bare number or an explicit null — cannot carry the required field,
    // so the element-wise check flags it. (The pre-fusion from_json path's
    // verdict here depended on PERMISSIVE partial-result nulling; the
    // fused expression is deliberately strict, like the reference's 400.)
    assert(errsOf(
      """{"objectId":"A","objectType":"plan","creationDate":"12-12-2017",
         "linkedPlanServices":[
           {"objectId":"ps1","objectType":"planservice"}, 7]}"""
        .replaceAll("\n\\s*", ""))
      .exists(_.contains("missing required objectId in an element")))
    assert(errsOf(
      """{"objectId":"A","objectType":"plan","creationDate":"12-12-2017",
         "linkedPlanServices":[
           {"objectId":"ps1","objectType":"planservice"}, null]}"""
        .replaceAll("\n\\s*", ""))
      .exists(_.contains("missing required objectId in an element")))
  }

  test("M6: calendar-valid dates only (31-02 rejected)") {
    import spark.implicits._
    val df = Seq("12-12-2017", "31-02-2020", "29-02-2020", "2020-12-12")
      .toDF("d").withColumn("ok", Validate.validDate(col("d")))
    val m = df.collect().map(r => (r.getString(0), r.getBoolean(1))).toMap
    assert(m("12-12-2017")); assert(!m("31-02-2020"))
    assert(m("29-02-2020")); assert(!m("2020-12-12"))
  }

  test("partition splits valid and rejected") {
    import spark.implicits._
    val (ok, bad) = Validate.partition(
      Seq(planJson("A", Seq(("1", "x", 1.0))),
        """{"objectType":"plan","creationDate":"12-12-2017"}""").toDF("j"),
      "j", schemaJson)
    assert(ok.count() == 1)
    assert(bad.count() == 1)
  }
}

class KvSearchSpec extends SparkSpec {
  import PlanFixture._
  import spark.implicits._

  lazy val plans: DataFrame = docs(spark, Seq(
    planJson("A", Seq(("1", "Yearly physical", 175.0), ("2", "well baby", 20.0))),
    planJson("B", Seq(("3", "dental", 30.0)))))
  lazy val nodes: DataFrame = Shred.nodes(plans).cache()

  test("kv point get / exists / delete") {
    assert(Kv.get(nodes, "plan_A").count() == 1)
    assert(Kv.exists(nodes, "planservice_ps3"))
    assert(!Kv.exists(nodes, "plan_Z"))
    assert(Kv.delete(nodes, "plan_A").count() == nodes.count() - 1)
  }

  test("setIfAbsent rejects existing keys (409 semantics)") {
    val rows = Seq(("plan_A", "dup"), ("plan_NEW", "fresh")).toDF("key", "payload")
    val (next, rejected) = Kv.setIfAbsent(nodes.select("key", "payload"), rows)
    assert(rejected.select("key").head().getString(0) == "plan_A")
    assert(next.count() == nodes.count() + 1)
  }

  test("setIfAbsent admits exactly one row per in-batch duplicate key") {
    val rows = Seq(("plan_N", "a"), ("plan_N", "b"), ("plan_M", "c"))
      .toDF("key", "payload")
    val (next, rejected) = Kv.setIfAbsent(nodes.select("key", "payload"), rows)
    assert(next.where($"key" === "plan_N").count() == 1)
    // deterministic winner: min by remaining columns
    assert(next.where($"key" === "plan_N").select("payload").head().getString(0) == "a")
    assert(rejected.count() == 1)
    assert(next.count() == nodes.count() + 2)
  }

  test("upsert: updates win per key, inserts appended") {
    val kv = nodes.select("key", "payload")
    val ups = Seq(("plan_A", """{"new":1}"""), ("plan_NEW", """{"n":2}""")).toDF("key", "payload")
    val next = Kv.upsert(kv, ups)
    assert(next.count() == kv.count() + 1)
    assert(next.where($"key" === "plan_A").select("payload").head().getString(0) == """{"new":1}""")
  }

  test("setIfAbsent tolerates key-only batches (no payload columns)") {
    val rows = Seq("plan_N", "plan_N", "plan_M").toDF("key")
    val (next, rejected) = Kv.setIfAbsent(nodes.select("key"), rows)
    assert(next.where($"key" === "plan_N").count() == 1)
    assert(next.count() === nodes.select("key").count() + 2)
    assert(rejected.count() == 1)
  }

  test("upsert collapses in-batch duplicate keys to one winner (latest by seq)") {
    val kv = nodes.select("key", "payload")
    // two writes to the same key in one batch: seq picks the winner, the
    // next table keeps the key-uniqueness invariant (no join fan-out dupes)
    val ups = Seq(("plan_A", """{"v":1}""", 1L), ("plan_A", """{"v":2}""", 2L),
        ("plan_NEW", """{"n":1}""", 3L))
      .toDF("key", "payload", "seq")
    val next = Kv.upsert(kv, ups)
    assert(next.where($"key" === "plan_A").count() == 1)
    assert(next.where($"key" === "plan_A").select("payload").head().getString(0) == """{"v":2}""")
    assert(next.count() == kv.count() + 1)
    // without a seq column the winner is still unique and deterministic
    val next2 = Kv.upsert(kv, ups.drop("seq"))
    assert(next2.where($"key" === "plan_A").count() == 1)
    assert(next2.where($"key" === "plan_A").select("payload").head().getString(0) == """{"v":2}""")
  }

  test("cascade delete removes the whole subtree (J4)") {
    // root cascade: one predicate on rootKey
    assert(Kv.cascadeDeleteRoot(nodes, "plan_A").count() ==
      nodes.where($"rootKey" === "plan_B").count())
    // subtree cascade: planservice ps1 and its 2 descendants
    val after = Kv.cascadeDelete(nodes, "planservice_ps1")
    assert(after.count() == nodes.count() - 3)
    assert(!Kv.exists(after, "service_sv1"))
    assert(!Kv.exists(after, "membercostshare_cs1"))
  }

  test("keyPath materializes the ancestry chain; prefix closure ≡ BFS closure") {
    // the materialized-path column is the full root→node key chain
    val kp = nodes.where($"key" === "service_sv1").select("keyPath").head().getString(0)
    assert(kp == "/plan_A/planservice_ps1/service_sv1/")
    // fast path (single filter) and BFS fallback agree on every node key
    for (k <- Seq("plan_A", "planservice_ps1", "service_sv1", "membercostshare_pcsB")) {
      val fast = Kv.subtreeKeys(nodes, k).collect().map(_.getString(0)).toSet
      val bfs = Kv.subtreeKeysBfs(nodes, k).collect().map(_.getString(0)).toSet
      assert(fast == bfs, s"closure mismatch for $k: fast=$fast bfs=$bfs")
    }
    // pathless store (keyPath projected away) transparently takes the BFS
    val pathless = Kv.subtreeKeys(nodes.drop("keyPath"), "planservice_ps1")
      .collect().map(_.getString(0)).toSet
    assert(pathless == Set("planservice_ps1", "service_sv1", "membercostshare_cs1"))
  }

  test("keyPath segments escape '/': slash-bearing user ids cannot alias boundaries") {
    // objectIds come from USER payloads — 'ps1/x' under plan S must not
    // make subtreeKeys("planservice_ps1") (a key that does NOT exist
    // here) match the '/planservice_ps1%2Fx/' segment, nor break the
    // closure of the slash-bearing key itself
    val adversarial = docs(spark, Seq(
      """{"objectId":"S","objectType":"plan","planType":"inNetwork",
         "planCostShares":{"copay":1.0,"objectId":"pcsS","objectType":"membercostshare"},
         "linkedPlanServices":[{"objectId":"ps1/x","objectType":"planservice",
           "linkedService":{"objectId":"sv/1","objectType":"service","name":"n"}}]}"""
        .replaceAll("\n\\s*", "")))
    val advNodes = Shred.nodes(adversarial)
    // the phantom prefix key matches nothing
    assert(Kv.subtreeKeys(advNodes, "planservice_ps1").isEmpty)
    // fast path and BFS agree on the slash-bearing key's real subtree
    val fast = Kv.subtreeKeys(advNodes, "planservice_ps1/x")
      .collect().map(_.getString(0)).toSet
    val bfs = Kv.subtreeKeysBfs(advNodes, "planservice_ps1/x")
      .collect().map(_.getString(0)).toSet
    assert(fast == Set("planservice_ps1/x", "service_sv/1") && fast == bfs)
  }

  test("search: conj equality, has_child range/eq, has_parent, routing") {
    val parents = nodes.where($"relName" === "plan")
    val costShares = nodes.where($"relName" === "planservice_membercostshare")
      .withColumn("copay", get_json_object($"payload", "$.copay").cast("double"))
    // P3: plans having a planservice cost share with copay > 100 — needs
    // grandparent hop: child's parent is the planservice; join via rootKey
    // here since costShares' root IS the plan (routing-based has_child).
    val hot = Search.hasChild(parents, costShares.where($"copay" > 100),
      "key", "rootKey")
    assert(hot.select("objectId").collect().map(_.getString(0)).toSet == Set("A"))
    // P4: plans having a service named "dental" (dotted-path equality)
    val services = nodes.where($"relName" === "planservice_service")
      .withColumn("name", get_json_object($"payload", "$.name"))
    val dental = Search.hasChildEquals(parents, services, "key",
      "rootKey", Seq(("name", "dental")))
    assert(dental.select("objectId").collect().map(_.getString(0)).toSet == Set("B"))
    // P6: services whose parent planservice belongs to plan A
    val planservices = nodes.where($"relName" === "plan_planservice")
    val svcOfA = Search.hasParent(services, planservices.where($"rootKey" === "plan_A"),
      "parentKey", "key")
    assert(svcOfA.count() == 2)
    // P7: routing lookup = all nodes of plan A
    assert(Search.byRouting(nodes, "plan_A").count() == 8)
    // P1 conj equality on parents
    assert(Search.conjEquals(plans, Seq(("planType", "inNetwork"), ("objectId", "B"))).count() == 1)
  }
}
