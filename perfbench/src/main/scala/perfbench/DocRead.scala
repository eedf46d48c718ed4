package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Caches
import graft.operators.{Etag, Renest, Search, Shred}
import graft.sources.StarDocs

/** `doc_read`: one closed-loop client over a document store built in
  * set-up. About four ETag point reads per `has_child` search. The request
  * stream and its expected answers come from the input generator; the
  * client learns ETags only from the store's own 200 responses. */
object DocRead {
  /** Store builds per run; their median is `setup_s`. */
  val SetupRuns = 3
  private val requestSchema = StructType(Seq(
    StructField("key", StringType, nullable = false),
    StructField("ifNoneMatch", StringType, nullable = true)))

  def run(ctx: Ctx, out: Outcome): Unit = {
    import ctx.{spark, tracer}
    val plan = Json.read(s"${ctx.dataDir}/doc_read_ops.json")
    val ops = plan.get("ops").elements().asScala.toVector
    val warmup = plan.get("warmup").asInt()
    val cycle = plan.get("cycle").asInt()

    // set-up: assemble, tag and shred the store from empty caches and an
    // empty artifact store, several times; the loop reads the last one
    def setUp(i: Int) = {
      Caches.invalidate(spark)
      spark.catalog.clearCache()
      System.setProperty("graft.artifacts.dir", ctx.path(s"artifacts-$i"))
      tracer.op("setup") {
        val docs = tracer.span("sources.StarDocs.docs")(StarDocs.docs(spark, ctx.dataDir))
        val tagged = tracer.span("operators.Etag.withEtag")(Etag.withEtag(docs)).persist()
        tracer.span("spark.count")(tagged.count())
        val nodes = tracer.span("operators.Shred.shredTyped")(Shred.shredTyped(docs))
        tracer.span("spark.count")(nodes("").count())
        (docs, tagged)
      }
    }
    val setups = (1 to SetupRuns).map(setUp)
    val (docs, tagged) = setups.last._1
    setups.foreach(s => out.sample("setup", s._2))
    out.put("setup_s", Stats.median(setups.map(_._2 / 1000)), "s")
    val etags = scala.collection.mutable.Map[String, String]()

    def get(op: com.fasterxml.jackson.databind.JsonNode): Unit = {
      val key = op.get("key").asText()
      val mode = op.get("mode").asText()
      val inm = if (mode == "cond") etags.get(key).orNull else null
      val req = spark.createDataFrame(java.util.List.of(Row(key, inm)), requestSchema)
      val res = tracer.span("operators.Etag.conditionalRead")(Etag.conditionalRead(tagged, req))
      val rows = tracer.span("spark.collect")(res.collect())
      tracer.rows(rows.length)
      val exp = op.get("expect")
      val status = exp.get("status").asInt()
      out.check(rows.length == 1, s"get $key: ${rows.length} rows")
      rows.headOption.foreach { r =>
        val got = r.getAs[Int]("status")
        out.check(got == status, s"get $key ($mode): status $got, expected $status")
        if (got == status && got == 200) {
          val items = Option(r.getAs[scala.collection.Seq[Row]]("lineitems")).map(_.size).getOrElse(0)
          out.check(items == exp.get("n_items").asInt() &&
            r.getAs[Double]("o_totalprice") == exp.get("total").asDouble(),
            s"get $key: document has $items items, expected ${exp.get("n_items")}")
          val tag = r.getAs[String]("etag")
          etags.get(key).foreach(t => out.check(t == tag, s"get $key: ETag changed on an unchanged document"))
          etags(key) = tag
        }
        if (got == status && got == 304)
          out.check(r.getAs[String]("etag") == inm, s"get $key: 304 with another ETag")
      }
    }

    def search(op: com.fasterxml.jackson.databind.JsonNode): Unit = {
      val pred = op.get("kind").asText() match {
        case "range" => col("l_extendedprice") > lit(op.get("value").asDouble())
        case "eq" => col("l_quantity") === lit(op.get("quantity").asDouble()) &&
          col("l_returnflag") === lit(op.get("returnflag").asText())
      }
      val nodes = tracer.span("operators.Shred.shredTyped")(Shred.shredTyped(docs))
      val hitRoots = tracer.span("operators.Search.hasChild")(
        Search.hasChild(nodes(""), nodes("lineitems").where(pred), "__key", "__parentKey"))
        .select(col("__rootKey"))
      val hits = nodes.map { case (path, n) =>
        path -> n.alias("__n").join(hitRoots.alias("__h"),
          col("__n.__rootKey") === col("__h.__rootKey"), "left_semi")
      }
      val renested = tracer.span("operators.Renest")(Renest(hits, docs.schema))
      val rows = tracer.span("spark.collect")(renested.collect())
      tracer.rows(rows.length)
      val got = rows.map { r =>
        val items = Option(r.getAs[scala.collection.Seq[Row]]("lineitems")).map(_.size).getOrElse(0)
        s"${r.getAs[String]("objectId")}:$items"
      }.sorted.toSeq
      val want = op.get("expect").get("hits").elements().asScala.map(_.asText()).toSeq.sorted
      out.check(got == want,
        s"search ${op}: ${got.size} hits, expected ${want.size}; first diff " +
          got.zipAll(want, "-", "-").find(p => p._1 != p._2).getOrElse(""))
    }

    def exec(op: com.fasterxml.jackson.databind.JsonNode, traced: Boolean): (String, Double) = {
      val kind = op.get("t").asText()
      val (_, ms) = tracer.op(kind, traced) { if (kind == "get") get(op) else search(op) }
      (kind, ms)
    }

    ops.take(warmup).foreach(exec(_, traced = true))

    // the closed loop: the next request goes out when the previous returns.
    // It runs whole cycles, so point reads and searches weigh the same in
    // every run's ops_per_s whatever the speed
    val t0 = System.nanoTime()
    var i = warmup
    while ((System.nanoTime() - t0) / 1e9 < ctx.seconds || (i - warmup) % cycle != 0) {
      val op = ops(i % ops.size)
      // traced runs alternate point reads with tracing off, for the overhead
      val untraced = tracer.enabled && op.get("t").asText() == "get" && i % 2 == 0
      val (kind, ms) = exec(op, traced = !untraced)
      out.sample(if (untraced) "get_untraced" else kind, ms)
      out.completed += 1
      i += 1
    }
    out.timedWallMs = (System.nanoTime() - t0) / 1e6
    val gets = out.samples.getOrElse("get", Nil).toSeq
    out.put("ops_per_s", out.completed / (out.timedWallMs / 1000), "1/s")
    out.put("light_ms_p50", Stats.median(gets), "ms")
    out.put("heavy_ms_p50", Stats.median(out.samples("search").toSeq), "ms")
    out.put("store_mb", spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1e6, "MB")
    out.put("artifact.bytes_written", Disk.dirBytes(System.getProperty("graft.artifacts.dir")).toDouble, "bytes")
  }
}
