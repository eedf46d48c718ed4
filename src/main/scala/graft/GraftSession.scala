package graft

import org.apache.spark.sql.SparkSession

/** The one place a SparkSession is built: every main (`Bench`, `Verify`,
  * [[graft.tools.Probe]]) and the test harness's `TestSpark` go through
  * [[GraftSession.build]], so the bench, the oracle dump, the probes and
  * the plan-shape pins cannot drift apart conf by conf.
  *
  * Two profiles; only the master, the partition count, the broadcast
  * budget and the warehouse differ between them:
  *  - [[GraftSession.bench]]: `local[$SPARK_GRAFT_CPUS]` (default 4),
  *    one shuffle partition per core, a 64 MB broadcast budget;
  *  - [[GraftSession.test]]: `local[4]`, 4 partitions, Spark's default
  *    broadcast budget and a temp warehouse — the session the suites
  *    (and the plan budgets they pin) run under.
  */
object GraftSession {
  final case class Profile(
      name: String, cores: String, broadcastBytes: Option[Long], tempWarehouse: Boolean) {
    def confs: Seq[(String, String)] =
      Seq("spark.master" -> s"local[$cores]",
        "spark.app.name" -> s"graft-$name",
        "spark.sql.shuffle.partitions" -> cores) ++
        // slim doc-metadata sides (orders-scale) fit comfortably in memory;
        // broadcasting them keeps the fat nested-array side of renest joins
        // unshuffled (at cluster scale: broadcast the dimension side)
        broadcastBytes.map(b => "spark.sql.autoBroadcastJoinThreshold" -> b.toString) ++
        shared
  }

  def bench(cores: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")): Profile =
    Profile("bench", cores, Some(64L * 1024 * 1024), tempWarehouse = false)

  val test: Profile = Profile("test", "4", None, tempWarehouse = true)

  private val shared = Seq(
    // routing-key (rootKey) partitioning must satisfy joins keyed on
    // (parentKey, rootKey) — subset co-partitioning, disabled by default
    "spark.sql.requireAllClusterKeysForCoPartition" -> "false",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false")

  /** Builds (or returns the running) session for `p`; `extra` pairs are
    * set last, so they override the profile. */
  def build(p: Profile, extra: Seq[(String, String)] = Nil): SparkSession = {
    val b = SparkSession.builder()
    p.confs.foreach { case (k, v) => b.config(k, v) }
    if (p.tempWarehouse)
      b.config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
    extra.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // FileStreamSink's is-this-a-streaming-sink probe can't stat a glob
    // path (x_lsm_compacted_read's b*/v*) and logs a full spurious
    // FileNotFoundException trace at WARN before reading fine; keep the
    // log clean so real failures stand out
    quiet("org.apache.spark.sql.execution.streaming.sinks.FileStreamSink")
    // bounded-by-construction two-phase top-k finals run their last rank
    // on one declared task (input ≤ k·partitions rows); WindowExec's
    // blanket "No Partition Defined" WARN is spurious for them and
    // drowns real signal in the drive logs. Fat single-task windows on
    // DATA are guarded with teeth by SkewSpec/SoakSpec stage listeners.
    quiet("org.apache.spark.sql.execution.window.WindowExec")
    spark
  }

  private def quiet(logger: String): Unit =
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      logger, org.apache.logging.log4j.Level.ERROR)

  /** Untimed warm-up: JIT + whole-stage-codegen compilation, so the first
    * timed query measures the query, not JVM startup (~3-4 s otherwise
    * attributed to whichever query runs first). */
  def warmUp(spark: SparkSession): Unit =
    spark.range(1000000).selectExpr("count(md5(cast(id as string)))").collect()
}
