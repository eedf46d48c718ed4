package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.bridge
import org.apache.spark.scheduler._

/** Job-level profiling harness for the optimization rounds: run one named
  * query from [[SparkEntry.queries]] and print every Spark job's wall time,
  * stage count and task count — the local-mode stand-in for the UI's Jobs
  * page (guide §7.1), telling an iterative operator's per-round fixed cost
  * apart from its data cost. Args: <name> [sfDir] [reps].
  */
object ProfileOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 2
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
      .config("spark.sql.autoBroadcastJoinThreshold", String.valueOf(64L * 1024 * 1024))
      .config("spark.ui.enabled", "false")
    // experiment passthrough: SPARK_GRAFT_EXTRA_CONF="k=v;k=v" (guide §1:
    // measure a config hypothesis before committing it anywhere)
    sys.env.get("SPARK_GRAFT_EXTRA_CONF").foreach(_.split(";").foreach { kv =>
      val Array(k, v) = kv.split("=", 2); builder.config(k, v)
    })
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Int, Int)]()
    // per-rep executor CPU + job tally — the load-robust channel: walls on
    // the shared box swing 2-8x under external load, CPU-ms does not
    val cpuNs = new java.util.concurrent.atomic.AtomicLong
    val jobCount = new java.util.concurrent.atomic.AtomicLong
    @volatile var collect = false
    @volatile var lastEnd = 0L
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) cpuNs.addAndGet(m.executorCpuTime)
      }
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (collect) {
          val now = System.nanoTime()
          val gap = if (lastEnd == 0) 0.0 else (now - lastEnd) / 1e6
          jobStart.put(j.jobId, (now, j.stageInfos.size, j.stageInfos.map(_.numTasks).sum))
          if (gap > 50) println(f"[gap] ${gap}%8.1f ms before job ${j.jobId}")
        }
      override def onJobEnd(j: SparkListenerJobEnd): Unit = {
        jobCount.incrementAndGet()
        if (collect) Option(jobStart.get(j.jobId)).foreach { case (t0, st, tk) =>
          lastEnd = System.nanoTime()
          println(f"[job] id=${j.jobId}%4d wall=${(lastEnd - t0) / 1e6}%8.1f ms stages=$st%2d tasks=$tk%4d")
        }
      }
    })
    spark.range(1000000).selectExpr("count(md5(cast(id as string)))").collect()
    // driver-side stack sampler (guide §7.3's thread-dump loop, in-process):
    // samples the main thread every 50 ms during the LAST rep and prints a
    // frame histogram — names the single-threaded driver work behind the
    // inter-job gaps that job walls can't see
    val samples = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    @volatile var sampling = false
    val mainThread = Thread.currentThread()
    val sampler = new Thread(() => {
      while (true) {
        if (sampling) {
          val st = mainThread.getStackTrace
          // first in-Spark frame below the scala/java plumbing
          val frame = st.find(f => f.getClassName.startsWith("org.apache.spark"))
            .map(f => s"${f.getClassName}.${f.getMethodName}").getOrElse(
              st.headOption.map(f => s"${f.getClassName}.${f.getMethodName}")
                .getOrElse("<none>"))
          samples.merge(frame, 1, (a, b) => a + b)
        }
        Thread.sleep(50)
      }
    })
    sampler.setDaemon(true); sampler.start()
    val fn = SparkEntry.queries(name)
    (1 to reps).foreach { i =>
      if (i == reps) { collect = true; sampling = true; Thread.sleep(300) }
      val t0 = System.nanoTime()
      val cpu0 = cpuNs.get(); val jobs0 = jobCount.get()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      // every task-end of this rep reaches the listener before the CPU delta
      bridge.drainListenerBus(spark.sparkContext)
      println(f"[profile] $name rep$i: ${(System.nanoTime() - t0) / 1e9}%.3f s " +
        f"cpu=${(cpuNs.get() - cpu0) / 1e9}%.2f s jobs=${jobCount.get() - jobs0}")
    }
    sampling = false
    import scala.jdk.CollectionConverters._
    samples.asScala.toSeq.sortBy(-_._2).take(15).foreach { case (f, n) =>
      println(f"[stack] $n%4d  $f")
    }
    bridge.drainListenerBus(spark.sparkContext)
    spark.stop()
  }
}
