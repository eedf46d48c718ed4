package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What one workload hands back: its timed samples per operation kind,
  * its own metrics, and its correctness tally. */
final class Outcome {
  val samples = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  val metrics = mutable.LinkedHashMap[String, (Double, String)]()
  var attempted = 0L
  var failed = 0L
  val errors = mutable.ArrayBuffer[String]()
  var timedWallMs = 0.0
  var completed = 0L

  def sample(kind: String, ms: Double): Unit =
    samples.getOrElseUpdate(kind, mutable.ArrayBuffer[Double]()) += ms
  def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)
  /** Run `body` and record its wall time as a `kind` sample. */
  def timed[T](kind: String)(body: => T): T = {
    val t = System.nanoTime()
    try body finally sample(kind, (System.nanoTime() - t) / 1e6)
  }
  /** Count one checked answer; a wrong one is a failure with its reason. */
  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; if (errors.size < 20) errors += what }
  }
}

/** Everything a workload needs: the session, the tracer, its inputs and
  * a scratch directory of its own. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val dataDir: String,
                val workDir: Path, val seed: Long, val seconds: Double,
                val jvmStartMs: Long) {
  def path(name: String): String = workDir.resolve(name).toString
}

/** Entry point: `perfbench.Main <workload> <seed> <seconds> <trace> <dataDir>
  * <workDir> <resultFile>`. Runs one workload on Spark `local[N]` and writes
  * the result record as JSON. */
object Main {
  private def procLine(path: String): String =
    try new String(Files.readAllBytes(Paths.get(path)), "UTF-8").trim
    catch { case _: Exception => "" }

  private def gcMillis(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(b => math.max(0L, b.getCollectionTime)).sum
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, dataDir, workDirS, resultFile) = args
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val loadStart = procLine("/proc/loadavg")
    val nproc = Runtime.getRuntime.availableProcessors()
    // one core stays free for the driver thread, the JIT and the GC: with
    // every core running tasks, their contention doubled the spread
    val cores = math.max(1, math.min(4, nproc) - 1)
    val workDir = Paths.get(workDirS)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
      .config("spark.sql.autoBroadcastJoinThreshold", String.valueOf(64L * 1024 * 1024))
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", workDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", workDir.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer(spark, traceS == "1")
    val ctx = new Ctx(spark, tracer, dataDir, workDir, seedS.toLong, secondsS.toDouble, jvmStartMs)
    val degradesBefore = graft.ArtifactStore.degradeEvents.get()
    val out = new Outcome
    val gc0 = gcMillis()
    workload match {
      case "doc_read"     => DocRead.run(ctx, out)
      case "corpus_build" => CorpusBuild.run(ctx, out)
      case other          => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val gcMs = gcMillis() - gc0
    // a degraded artifact store re-pays derivations the run claims are
    // stored, so every degrade is a failed operation
    val degrades = graft.ArtifactStore.degradeEvents.get() - degradesBefore
    out.attempted += 1
    if (degrades > 0) { out.failed += degrades; out.errors += s"ArtifactStore degraded $degrades times" }

    val layers: scala.collection.Map[String, (Double, String)] =
      if (tracer.enabled) { tracer.drain(); Layers.summarize(ctx, out, gcMs, degrades) }
      else Map.empty
    val record = mutable.LinkedHashMap[String, Any](
      "workload" -> workload,
      "correct" -> (out.failed == 0),
      "attempted" -> out.attempted,
      "failed" -> out.failed,
      "errors" -> out.errors.toSeq,
      "samples_ms" -> out.samples.map { case (k, v) => k -> v.map(x => math.round(x * 10) / 10.0).toSeq },
      "metrics" -> (out.metrics ++ layers).map { case (k, (v, u)) =>
        k -> Map("value" -> v, "unit" -> u) },
      "context" -> Map(
        "nproc" -> nproc,
        "master" -> spark.sparkContext.master,
        "driver_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
        "loadavg_start" -> loadStart,
        "loadavg_end" -> procLine("/proc/loadavg"),
        "spark_version" -> spark.version,
        "samples" -> out.samples.map { case (k, v) => k -> v.size }))
    if (tracer.enabled)
      Files.writeString(workDir.resolve("spans.jsonl"), tracer.allSpans.map { s =>
        Json(Map("id" -> s.id, "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
          "parent" -> s.parent, "op" -> s.op))
      }.mkString("", "\n", "\n"))
    Files.writeString(Paths.get(resultFile), Json(record) + "\n")
    graft.Caches.invalidate(spark)
    spark.stop()
  }
}
