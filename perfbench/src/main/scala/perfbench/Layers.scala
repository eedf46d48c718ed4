package perfbench

/** Turns the traced run's spans and listener accounts into the per-layer
  * metrics. Every workload reports the same names; a layer the workload
  * does not touch reads 0. Times are means per traced operation unless
  * the name says otherwise, so the Spark split adds up to the operation
  * wall: wall = plan + job_ms + driver_gap. */
object Layers {
  /** Span-name prefixes that own self time, in report order. */
  val SelfLayers = Seq("op", "sources", "operators", "streaming", "entry", "artifact", "spark")
  /** Operation kinds whose latencies the traced run splits out. */
  val OpKinds = Seq("get", "search", "build")

  def summarize(ctx: Ctx, out: Outcome, gcMs: Long, degrades: Long): scala.collection.Map[String, (Double, String)] = {
    val tr = ctx.tracer
    val spans = tr.allSpans
    val ops = tr.tracedOps.filter(op => tr.opKind(op) != "setup")
    val n = math.max(1, ops.size).toDouble
    val stats = ops.map(op => op -> tr.statsFor(op)).toMap
    val wall = spans.filter(s => s.parent < 0).map(s => s.op -> (s.endNs - s.startNs) / 1e6).toMap
    def perOp(f: Long => Double): Double = ops.map(f).sum / n

    val planMs = perOp(op => stats(op).planMs)
    val jobMs = perOp(op => Tracer.unionLength(stats(op).jobIntervals.toSeq).toDouble)
    val gapMs = perOp(op => math.max(0.0,
      wall(op) - stats(op).planMs - Tracer.unionLength(stats(op).jobIntervals.toSeq)))
    val allTasks = ops.flatMap(op => stats(op).taskMs).map(_.toDouble)
    val maxTask = ops.flatMap(op => stats(op).taskMs.maxOption).map(_.toDouble)
    // the point reads': a full scan per key shows here
    val withRows = ops.filter(op => tr.opKind(op) == "get" && tr.opRows(op) > 0)
    val examined =
      if (withRows.isEmpty) 0.0
      else withRows.map(op => stats(op).recordsRead).sum.toDouble / withRows.map(tr.opRows).sum

    val self = Tracer.selfTimes(spans)
    val opSet = ops.toSet
    def layerSelf(layer: String): Double =
      spans.filter(s => opSet(s.op) && s.name.takeWhile(_ != '.') == layer)
        .map(s => self(s.id) / 1e6).sum / n
    // span totals over the whole run, set-up included: the source and
    // shred calls do their building in set-up and hit their memos after
    def spanMs(name: String): Double =
      spans.filter(_.name == name).map(s => (s.endNs - s.startNs) / 1e6).sum
    def counter(name: String): Seq[Double] =
      ops.flatMap(op => tr.opCounters.get((op, name)).map(_.toSeq).getOrElse(Nil))

    val m = scala.collection.mutable.LinkedHashMap[String, (Double, String)](
      "spark.plan_ms" -> (planMs, "ms"),
      "spark.driver_gap_ms" -> (gapMs, "ms"),
      "spark.jobs" -> (perOp(op => stats(op).jobs.toDouble), "count"),
      "spark.job_ms" -> (jobMs, "ms"),
      "spark.executor_cpu_ms" -> (perOp(op => stats(op).cpuNs / 1e6), "ms"),
      "spark.shuffle_write_bytes" -> (perOp(op => stats(op).shuffleWriteBytes.toDouble), "bytes"),
      "spark.task_ms_max" -> (if (maxTask.isEmpty) 0.0 else Stats.median(maxTask), "ms"),
      "spark.task_ms_p50" -> (if (allTasks.isEmpty) 0.0 else Stats.median(allTasks), "ms"),
      "spark.rows_examined_per_result" -> (examined, "ratio"),
      "spark.spill_bytes" -> (ops.map(op => stats(op).spillBytes).sum.toDouble, "bytes"),
      "jvm.gc_ms" -> (gcMs.toDouble, "ms"),
      "sources.docs_ms" -> (spanMs("sources.StarDocs.docs"), "ms"),
      "operators.shred_ms" -> (spanMs("operators.Shred.shredTyped"), "ms"),
      "artifact.bytes_written" -> (out.metrics.get("artifact.bytes_written").map(_._1).getOrElse(0.0), "bytes"),
      "artifact.degrades" -> (degrades.toDouble, "count"),
      "streaming.run_ms" -> (Stats.mean(counter("streaming.run_ms")), "ms"),
      "streaming.fold_batches" -> (counter("streaming.fold_ms").size.toDouble, "count"),
      "streaming.fold_ms" -> (Stats.mean(counter("streaming.fold_ms")), "ms"),
      "streaming.bytes_written_per_user_byte" -> (Stats.mean(counter("streaming.write_amp")), "ratio"),
      "streaming.state_bytes_per_doc_byte" -> (
        out.metrics.get("streaming.state_bytes_per_doc_byte").map(_._1).getOrElse(0.0), "ratio"),
      "streaming.read_state_key_ms" -> (Stats.mean(counter("streaming.read_state_key_ms")), "ms"),
      "streaming.versions_per_lookup" -> (Stats.mean(counter("streaming.versions")), "count"),
      "streaming.read_state_ms" -> (Stats.mean(counter("streaming.read_state_ms")), "ms"),
    )
    SelfLayers.foreach(l => m(s"self.${if (l == "op") "client" else l}_ms") = (layerSelf(l), "ms"))
    OpKinds.foreach { k =>
      val kindOps = ops.filter(tr.opKind(_) == k)
      val xs = kindOps.map(wall)
      m(s"op.${k}_ms_p50") = (if (xs.isEmpty) 0.0 else Stats.median(xs), "ms")
      // the part of the operation Spark jobs were running: for a point
      // read, the scan of the store
      val jobs = kindOps.map(op => Tracer.unionLength(stats(op).jobIntervals.toSeq).toDouble)
      m(s"op.${k}_job_ms_p50") = (if (jobs.isEmpty) 0.0 else Stats.median(jobs), "ms")
      val tail = Stats.tail(xs)
      m(s"op.${k}_ms_tail") = (tail.map(_._2).getOrElse(0.0), "ms")
      m(s"op.${k}_ms_tail_pct") = (tail.map(_._1).getOrElse(0.0), "%")
      m(s"op.${k}_n") = (xs.size.toDouble, "count")
    }
    // the overhead of tracing: traced against untraced operations of the
    // same kind, interleaved in this run
    val overhead = out.samples.collectFirst {
      case (k, untraced) if k.endsWith("_untraced") && untraced.nonEmpty =>
        val traced = out.samples.getOrElse(k.stripSuffix("_untraced"), Nil).toSeq
        if (traced.isEmpty) 0.0
        else (Stats.median(traced) / Stats.median(untraced.toSeq) - 1) * 100
    }.getOrElse(0.0)
    m("trace.overhead_pct") = (overhead, "%")
    m("trace.spans") = (spans.size.toDouble, "count")
    m
  }
}
