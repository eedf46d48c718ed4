package perfbench

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import graft.{Caches, SparkEntry}
import graft.sources.StarDocs
import graft.streaming.Ingest

/** `corpus_build`: build the stored indexes from scratch, as a batch job.
  * One build is
  *   1. the stored-index queries, run through the `SparkEntry.queries`
  *      registry against an empty artifact store and empty memos; their
  *      results land as parquet, and the Python side checks each against
  *      its DuckDB oracle;
  *   2. the streaming document store: a changelog of inserts, then batches
  *      of updates, creates and deletes, each applied by `Ingest.run`,
  *      then read back key by key and in full.
  * A run does two builds, each from empty memos and its own empty
  * artifact store: a cold one in set-up, which pays class loading, the
  * JIT and query codegen, then the timed one. */
object CorpusBuild {
  /** Left out to fit the run budget: x_dedup_clusters, as x_er_clusters
    * drives the same star-CC loop (`Dedup.clusters`), and x_bm25_topk,
    * the costliest query to compile, about 5 s cold and 2.5 s warm. */
  val Queries = Seq("j1_shred_counts", "x_er_clusters", "x_knn_ivf", "x_text_quality")
  /** Few buckets and short chains, so every batch after the first folds. */
  val Buckets = 4
  val MaxDeltas = 1

  def run(ctx: Ctx, out: Outcome): Unit = {
    import ctx.{spark, tracer}
    val plan = Json.read(s"${ctx.dataDir}/store_plan.json")
    val batches = plan.get("batches").elements().asScala.map(_.elements().asScala.map(_.asText()).toSeq).toSeq
    val reads = plan.get("reads").elements().asScala.map(_.asText()).toSeq
    val expect = plan.get("expect").fields().asScala.map(e => e.getKey -> e.getValue.asText()).toMap

    def queries(results: String): Unit = {
      // the documents are assembled once and shared by j1
      tracer.span("sources.StarDocs.docs")(StarDocs.docs(spark, ctx.dataDir))
      Queries.foreach { q =>
        out.timed(s"query.$q") {
          val df = tracer.span(s"entry.SparkEntry.queries.$q")(SparkEntry.queries(q)(spark, ctx.dataDir))
          tracer.span("spark.write")(df.coalesce(1).write.parquet(s"$results/$q"))
        }
      }
    }

    def store(dir: String): Unit = out.timed("store") {
      val log = s"$dir/changelog"
      val state = s"$dir/state"
      val ckpt = s"$dir/checkpoint"
      Files.createDirectories(Paths.get(log))
      batches.zipWithIndex.foreach { case (lines, i) =>
        // the file source skips names starting with '.', so a batch lands
        // whole: written under one, then renamed into place
        val tmp = Paths.get(log, s".batch-$i.json")
        Files.write(tmp, lines.asJava)
        val userBytes = Files.size(tmp)
        Files.move(tmp, Paths.get(log, f"batch-$i%03d.json"), java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        val before = Disk.dirBytes(state)
        val commits = manifests(state)
        val t = System.nanoTime()
        tracer.span("streaming.Ingest.run")(Ingest.run(spark, log, state, ckpt, Buckets, MaxDeltas))
        val ms = (System.nanoTime() - t) / 1e6
        // from the batch landing to Ingest.run returning with it committed
        out.sample("visible", ms)
        tracer.count("streaming.run_ms", ms)
        // a batch commits one manifest; a chain fold after it one more
        if (manifests(state) - commits >= 2) tracer.count("streaming.fold_ms", ms)
        if (i > 0) tracer.count("streaming.write_amp", math.max(0L, Disk.dirBytes(state) - before).toDouble / userBytes)
      }
      reads.foreach { k =>
        val t = System.nanoTime()
        val rows = tracer.span("streaming.Ingest.readStateKey")(
          tracer.span("spark.collect")(Ingest.readStateKey(spark, state, k).collect()))
        tracer.count("streaming.read_state_key_ms", (System.nanoTime() - t) / 1e6)
        tracer.count("streaming.versions", chainLength(state, k))
        out.check(rows.map(_.getString(1)).toSeq == expect.get(k).toSeq,
          s"store read $k: ${rows.map(_.getString(1)).mkString} is not ${expect.get(k)}")
      }
      val t = System.nanoTime()
      val all = tracer.span("streaming.Ingest.readState")(
        tracer.span("spark.collect")(Ingest.readState(spark, state).collect()))
      tracer.count("streaming.read_state_ms", (System.nanoTime() - t) / 1e6)
      val got = all.map(r => r.getString(0) -> r.getString(1)).toMap
      out.check(got.size == all.length && got == expect,
        s"store state: ${got.size} keys, ${got.count { case (k, d) => !expect.get(k).contains(d) }} differ " +
          s"from the ${expect.size} expected")
      out.put("streaming.state_bytes_per_doc_byte",
        Disk.dirBytes(state).toDouble / expect.values.map(_.length.toLong).sum, "ratio")
    }

    /** Build `n` from empty memos and an empty artifact store of its own;
      * returns its wall ms and the bytes it committed to the store. */
    def build(n: Int, kind: String): (Double, Long) = {
      val dir = ctx.path(s"build-$n")
      tracer.span("artifact.Caches.invalidate") {
        Caches.invalidate(spark)
        spark.catalog.clearCache()
      }
      System.setProperty("graft.artifacts.dir", s"$dir/artifacts")
      val (_, ms) = tracer.op(kind) { queries(s"$dir/results"); store(dir) }
      (ms, Disk.dirBytes(s"$dir/artifacts"))
    }

    // set-up is the JVM and session start and one cold build, which pays
    // class loading, the JIT and query codegen; it is checked like the
    // timed one. A cold start cannot be repeated inside one JVM, so this
    // is one sample per run
    val (coldMs, _) = build(0, "setup")
    // the cold build's samples stay in the record under `cold.`
    val cold = out.samples.toSeq
    out.samples.clear()
    cold.foreach { case (k, v) => out.samples(s"cold.$k") = v }
    out.sample("cold.build", coldMs)
    out.put("setup_s", (System.currentTimeMillis() - ctx.jvmStartMs) / 1000.0, "s")
    // the timed build: warm, from empty memos and its own empty store. One
    // takes longer than `--seconds`, and the run budget has room for one.
    // It starts on a collected heap, so the cold build's garbage is not
    // collected inside it
    System.gc()
    val (ms, artifactBytes) = build(1, "build")
    out.timedWallMs = ms
    out.completed = Queries.size + 1
    // one build per run, so ops_per_s is (queries + store) / heavy_ms_p50
    out.put("ops_per_s", out.completed / (ms / 1000), "1/s")
    out.put("light_ms_p50", Stats.median(out.samples("visible").toSeq), "ms")
    out.put("heavy_ms_p50", ms, "ms")
    out.put("store_mb", artifactBytes / 1e6, "MB")
    out.put("artifact.bytes_written", artifactBytes.toDouble, "bytes")
    // x_knn_ivf's oracle replays the centroids the last build learned, so
    // the oracles are read after the builds
    Files.writeString(Paths.get(ctx.path("build.json")), Json(Map(
      "results" -> Seq(0, 1).map(n => ctx.path(s"build-$n/results")),
      "oracles" -> Queries.map(q => q -> SparkEntry.oracleSql(q)).toMap)))
  }

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Id of the latest committed manifest (-1 before the first). */
  private def manifests(state: String): Long = {
    val m = Paths.get(state, "manifest")
    if (!Files.exists(m)) -1L
    else Files.list(m).iterator().asScala.map(_.getFileName.toString)
      .filter(n => n.startsWith("m") && n.endsWith(".json"))
      .map(_.stripPrefix("m").stripSuffix(".json").toLong).maxOption.getOrElse(-1L)
  }

  /** Versions in the key's bucket chain, from the latest manifest: what a
    * point lookup merges. Same Murmur3 bucket rule as the store. */
  private def chainLength(state: String, key: String): Double = {
    val node = mapper.readTree(Paths.get(state, "manifest", s"m${manifests(state)}.json").toFile)
    val n = node.get("n").asInt()
    val h = new org.apache.spark.sql.catalyst.expressions.Murmur3Hash(Seq(
      org.apache.spark.sql.catalyst.expressions.Literal.create(key, org.apache.spark.sql.types.StringType)))
      .eval(org.apache.spark.sql.catalyst.InternalRow.empty).asInstanceOf[Int]
    val b = ((h % n) + n) % n
    Option(node.get("buckets").get(b.toString)).map(_.size.toDouble).getOrElse(0.0)
  }
}
