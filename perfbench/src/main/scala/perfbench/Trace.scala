package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: a call into a layer, or a whole operation (parent -1). Times
  * are epoch nanoseconds so they line up with Spark's millisecond events. */
final case class Span(id: Int, name: String, startNs: Long, endNs: Long, parent: Int, op: Long)

/** Per-operation Spark accounting, filled by the listeners. */
final class OpStats {
  var jobs = 0
  val jobIntervals = mutable.ArrayBuffer[(Long, Long)]() // epoch ms
  var planMs = 0.0
  var cpuNs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  /** Rows produced by the leaf scans (files, cache, local tables). */
  var recordsRead = 0L
  val taskMs = mutable.ArrayBuffer[Long]()
}

/** Spans recorded in memory around the benchmark's calls into each layer,
  * plus a benchmark-owned SparkListener and QueryExecutionListener that
  * charge jobs, tasks and planning to the operation that caused them.
  * Disabled, every method runs its body and records nothing, so the
  * untraced run executes the same code path. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer[Span]()
  private val stack = mutable.Stack[Int]()
  private var opId = 0L
  private var opSpan = -1
  /** Spans of an operation run with tracing switched off, for the overhead
    * comparison: their wall is kept, nothing else. */
  private var paused = false

  val opKind = mutable.Map[Long, String]()
  val opRows = mutable.Map[Long, Long]().withDefaultValue(0L)
  /** Values measured at layer boundaries, per (operation, name). */
  val opCounters = mutable.Map[(Long, String), mutable.ArrayBuffer[Double]]()
  private val stats = new ConcurrentHashMap[Long, OpStats]()
  private val jobOp = new ConcurrentHashMap[Int, Long]()
  private val stageOp = new ConcurrentHashMap[Int, Long]()
  private val jobStartMs = new ConcurrentHashMap[Int, Long]()

  // operations run one at a time, so a planning phase belongs to the
  // operation whose window holds its start; the running one is open-ended
  private val windows = java.util.Collections.synchronizedList(new java.util.ArrayList[(Long, Long, Long)]())

  private def statsOf(op: Long): OpStats = stats.computeIfAbsent(op, _ => new OpStats)
  private def opOfProps(p: java.util.Properties): Long =
    Option(p).flatMap(x => Option(x.getProperty(Tracer.OpProp))).map(_.toLong).getOrElse(-1L)

  if (enabled) {
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val op = opOfProps(j.properties)
        if (op >= 0) {
          jobOp.put(j.jobId, op)
          jobStartMs.put(j.jobId, j.time)
          j.stageIds.foreach(s => stageOp.put(s, op))
        }
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        Option(jobOp.get(j.jobId)).foreach { op =>
          val st = statsOf(op)
          st.synchronized { st.jobs += 1; st.jobIntervals += ((jobStartMs.get(j.jobId), j.time)) }
        }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        Option(stageOp.get(t.stageId)).foreach { op =>
          val st = statsOf(op)
          val m = t.taskMetrics
          st.synchronized {
            st.taskMs += t.taskInfo.duration
            if (m != null) {
              st.cpuNs += m.executorCpuTime
              st.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
              st.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
            }
          }
        }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        charge(qe)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
        charge(qe)
      private def charge(qe: QueryExecution): Unit = {
        val phases = qe.tracker.phases
        if (phases.nonEmpty) {
          val start = phases.values.map(_.startTimeMs).min
          val ms = phases.values.map(p => p.endTimeMs - p.startTimeMs).sum.toDouble
          val op = opAt(start)
          if (op >= 0) {
            val st = statsOf(op)
            val scanned = Tracer.leafRows(qe.executedPlan)
            st.synchronized { st.planMs += ms; st.recordsRead += scanned }
          }
        }
      }
    })
  }

  private def opAt(ms: Long): Long = windows.synchronized {
    var i = windows.size - 1
    while (i >= 0) {
      val (op, s, e) = windows.get(i)
      if (ms >= s && ms <= e) return op
      i -= 1
    }
    -1L
  }

  private val epochNs0 = System.currentTimeMillis() * 1000000L
  private val nano0 = System.nanoTime()
  private def nowNs(): Long = epochNs0 + (System.nanoTime() - nano0)

  /** Run one timed operation of `kind`; returns its value and wall ms.
    * The wall is measured the same way whether tracing is on or off. */
  def op[T](kind: String, traced: Boolean = true)(body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    if (!enabled) { val v = body; return (v, (System.nanoTime() - t0) / 1e6) }
    opId += 1
    paused = !traced
    opKind(opId) = kind
    val sc = spark.sparkContext
    sc.setLocalProperty(Tracer.OpProp, if (traced) opId.toString else null)
    val startMs = System.currentTimeMillis()
    val startNs = nowNs()
    val window = windows.size
    if (traced) windows.add((opId, startMs, Long.MaxValue))
    opSpan = spans.size
    spans += Span(opSpan, s"op.$kind", startNs, -1, -1, opId)
    stack.push(opSpan)
    try {
      val v = body
      (v, (System.nanoTime() - t0) / 1e6)
    } finally {
      stack.pop()
      spans(opSpan) = spans(opSpan).copy(endNs = nowNs())
      if (traced) windows.set(window, (opId, startMs, System.currentTimeMillis()))
      sc.setLocalProperty(Tracer.OpProp, null)
      paused = false
    }
  }

  /** Span around one call into a layer, named `<layer>.<Object>.<call>`. */
  def span[T](name: String)(body: => T): T =
    if (!enabled || paused || stack.isEmpty) body
    else {
      val id = spans.size
      spans += Span(id, name, nowNs(), -1, stack.top, opId)
      stack.push(id)
      try body
      finally { stack.pop(); spans(id) = spans(id).copy(endNs = nowNs()) }
    }

  /** Result rows handed back to the client by the current operation. */
  def rows(n: Long): Unit = if (enabled && !paused) opRows(opId) += n
  /** Record one value measured at a layer boundary for the current operation. */
  def count(name: String, v: Double): Unit =
    if (enabled && !paused) opCounters.getOrElseUpdate((opId, name), mutable.ArrayBuffer[Double]()) += v

  def tracedOps: Seq[Long] = windows.synchronized {
    (0 until windows.size).map(windows.get(_)._1)
  }
  def allSpans: Seq[Span] = spans.toSeq
  def statsFor(op: Long): OpStats = statsOf(op)

  /** Wait until the listener bus has delivered every event. */
  def drain(): Unit = if (enabled) org.apache.spark.perfbench.BusDrain(spark.sparkContext)
}

object Tracer extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
  val OpProp = "perfbench.op"

  /** Rows the leaf scans of an executed plan produced: what the query
    * examined. Cached relations count, which the task input metrics miss. */
  def leafRows(plan: org.apache.spark.sql.execution.SparkPlan): Long =
    collectWithSubqueries(plan) {
      case leaf: org.apache.spark.sql.execution.LeafExecNode =>
        leaf.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    }.sum

  /** Total length of the union of `[start, end)` intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time of every span: its length minus what its children cover. */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.filter(_.parent >= 0).groupBy(_.parent)
    spans.map { s =>
      val covered = unionLength(kids.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs)))
      s.id -> math.max(0L, (s.endNs - s.startNs) - covered)
    }.toMap
  }
}
