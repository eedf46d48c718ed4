package graft.tools

import graft.{GraftSession, SparkEntry}
import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graft.bridge

/** The one probe for the optimization loop (not part of the driver
  * contract; `Bench` stays the record of truth). Each mode runs the named
  * `SparkEntry.queries` entries in name order — no names means every
  * query:
  *  - `time`: each rep's wall under the bench session, after the bench's
  *    warm-up; rep 1 is the cold time (charged with any shared artifact
  *    the query faults in), later reps the steady-state plan;
  *  - `profile`: per-rep wall, executor CPU and job count, and for the
  *    last rep every job's wall, stage and task count, the driver gaps
  *    between jobs, and a histogram of the driver thread's stack — the
  *    single-threaded driver work job walls cannot see;
  *  - `explain`: the formatted physical plan under the bench session, to
  *    `<out>/<name>.txt` with `--out`, else to stdout;
  *  - `shuffles`: [[shuffles]] under the test session, the disk artifact
  *    memo off (as in the suites) — regenerates PlanAuditSpec's shuffle
  *    budgets;
  *  - `stages`: [[executedShuffleStages]] under the same session —
  *    regenerates PlanAuditSpec's executed-stage budgets.
  *
  * `--conf k=v` (repeatable) overrides the mode's session profile, to
  * measure a config hypothesis before committing it anywhere.
  *
  *   sbt "runMain graft.tools.Probe time --sf <sf0.1 dir> --reps 3 j1_shred_counts"
  *   sbt "runMain graft.tools.Probe shuffles --sf <sf0.001 dir>" | grep ^SHUF
  */
object Probe {
  val usage: String = "usage: Probe <time|profile|explain|shuffles|stages> --sf DIR " +
    "[--reps N (default 2)] [--out DIR] [--conf k=v]... [name...]"

  final case class Args(mode: String, sf: String, reps: Int, out: Option[String],
      conf: Seq[(String, String)], names: Seq[String])

  private val modes = Set("time", "profile", "explain", "shuffles", "stages")

  def parse(args: Seq[String]): Args = {
    require(args.nonEmpty && modes(args.head), usage)
    @annotation.tailrec
    def go(rest: List[String], a: Args): Args = rest match {
      case "--sf" :: d :: t => go(t, a.copy(sf = d))
      case "--reps" :: n :: t =>
        val reps = n.toIntOption.filter(_ > 0)
        require(reps.nonEmpty, s"--reps expects a positive integer, got '$n'")
        go(t, a.copy(reps = reps.get))
      case "--out" :: d :: t => go(t, a.copy(out = Some(d)))
      case "--conf" :: kv :: t => go(t, a.copy(conf = a.conf :+ confPair(kv)))
      case flag :: _ if flag.startsWith("--") =>
        throw new IllegalArgumentException(s"unknown flag or missing value: $flag; $usage")
      case name :: t => go(t, a.copy(names = a.names :+ name))
      case Nil => a
    }
    val a = go(args.tail.toList, Args(args.head, "", 2, None, Nil, Nil))
    require(a.sf.nonEmpty, s"--sf is required; $usage")
    a
  }

  def confPair(kv: String): (String, String) = kv.split("=", 2) match {
    case Array(k, v) if k.trim.nonEmpty => (k.trim, v)
    case _ => throw new IllegalArgumentException(s"--conf expects k=v, got '$kv'")
  }

  /** Shuffles in the PRINTED unexecuted physical plan: a node line whose
    * name starts with "Exchange "; BroadcastExchange / ReusedExchange node
    * names do not match. */
  def shuffles(df: DataFrame): Int =
    df.queryExecution.executedPlan.toString.linesIterator.count { l =>
      l.dropWhile(c => !c.isLetter).startsWith("Exchange ")
    }

  /** Distinct shuffle stages of THIS query execution's final adaptive
    * plan. `collect()` (not `count()`) executes the df's own
    * QueryExecution, so the inspected plan is the one that ran
    * (isFinalPlan=true); reused stages share an id and count once. */
  def executedShuffleStages(df: DataFrame): Int = {
    df.collect()
    val s = df.queryExecution.executedPlan.toString
    raw"ShuffleQueryStage (\d+)".r.findAllMatchIn(s).map(_.group(1)).toSet.size
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv.toSeq)
    val names = SparkEntry.select(a.names).toSeq.sorted
    val testSession = a.mode == "shuffles" || a.mode == "stages"
    // the test session pins the disk artifact memo off (build.sbt)
    if (testSession) System.setProperty("graft.disk.memo", "0")
    val spark = GraftSession.build(
      if (testSession) GraftSession.test else GraftSession.bench(), a.conf)
    if (a.mode == "time" || a.mode == "profile") GraftSession.warmUp(spark)
    lazy val profiler = new Profiler(spark)
    a.out.foreach(d => java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d)))
    def query(n: String): DataFrame = SparkEntry.queries(n)(spark, a.sf)
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    names.foreach { n =>
      try a.mode match {
        case "time" =>
          val ts = (1 to a.reps).map { i =>
            val t0 = System.nanoTime()
            noop(query(n))
            val dt = (System.nanoTime() - t0) / 1e9
            println(f"[time] $n rep$i: $dt%.3f s")
            dt
          }
          println(f"TIME $n cold=${ts.head}%.3f warm_min=${ts.min}%.3f " +
            ts.map(t => f"$t%.3f").mkString("reps=", ",", ""))
        case "profile" => profiler.run(n, a.reps)(noop(query(n)))
        case "explain" =>
          val plan = query(n).queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          a.out match {
            case Some(d) =>
              java.nio.file.Files.writeString(java.nio.file.Paths.get(d, s"$n.txt"), plan)
              println(s"[explain] wrote $d/$n.txt (${plan.length} chars)")
            case None => println(s"\n========== $n ==========\n$plan")
          }
        case "shuffles" => println(s"SHUF $n ${shuffles(query(n))}")
        case "stages" => println(s"STAGE $n ${executedShuffleStages(query(n))}")
      } catch { case e: Throwable =>
        System.err.println(s"[probe] $n failed: ${e.getMessage}")
        if (a.mode == "shuffles") println(s"SHUF $n -1")
        if (a.mode == "stages") println(s"STAGE $n -1")
      }
    }
    spark.stop()
  }

  /** Job-level listeners and an in-process driver stack sampler. */
  private final class Profiler(spark: org.apache.spark.sql.SparkSession) {
    private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Int, Int)]()
    // per-rep executor CPU + job tally — the load-robust channel: walls on
    // a shared box swing 2-8x under external load, CPU-ms does not
    private val cpuNs = new java.util.concurrent.atomic.AtomicLong
    private val jobCount = new java.util.concurrent.atomic.AtomicLong
    @volatile private var collect = false
    @volatile private var lastEnd = 0L
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
    // samples the main thread every 50 ms during a query's LAST rep: the
    // first in-Spark frame below the scala/java plumbing
    private val samples = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    @volatile private var sampling = false
    private val mainThread = Thread.currentThread()
    private val sampler = new Thread(() => {
      while (true) {
        if (sampling) {
          val st = mainThread.getStackTrace
          val frame = st.find(f => f.getClassName.startsWith("org.apache.spark"))
            .orElse(st.headOption)
            .map(f => s"${f.getClassName}.${f.getMethodName}").getOrElse("<none>")
          samples.merge(frame, 1, (a, b) => a + b)
        }
        Thread.sleep(50)
      }
    })
    sampler.setDaemon(true); sampler.start()

    def run(name: String, reps: Int)(rep: => Unit): Unit = {
      samples.clear(); lastEnd = 0L
      try (1 to reps).foreach { i =>
        if (i == reps) { collect = true; sampling = true; Thread.sleep(300) }
        val t0 = System.nanoTime()
        val cpu0 = cpuNs.get(); val jobs0 = jobCount.get()
        rep
        // every task-end of this rep reaches the listener before the CPU delta
        bridge.drainListenerBus(spark.sparkContext)
        println(f"[profile] $name rep$i: ${(System.nanoTime() - t0) / 1e9}%.3f s " +
          f"cpu=${(cpuNs.get() - cpu0) / 1e9}%.2f s jobs=${jobCount.get() - jobs0}")
      } finally { collect = false; sampling = false }
      import scala.jdk.CollectionConverters._
      samples.asScala.toSeq.sortBy(-_._2).take(15).foreach { case (f, n) =>
        println(f"[stack] $n%4d  $f")
      }
    }
  }
}
