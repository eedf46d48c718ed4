package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.graft.bridge

/** Plan-shape assertions for the scan layer (SCALE.md "push down and
  * prune"): predicates reach the parquet scan as PushedFilters and
  * projections prune ReadSchema — checked on the executed plans of real
  * queries, not assumed. */
class PushdownSpec extends SparkSpec {

  private def nodesIn[T <: org.apache.spark.sql.execution.SparkPlan](
      plan: org.apache.spark.sql.execution.SparkPlan)(implicit ct: scala.reflect.ClassTag[T]): Seq[T] =
    plan.collect {
      case s if ct.runtimeClass.isInstance(s) => Seq(s.asInstanceOf[T])
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        nodesIn[T](a.executedPlan)
    }.flatten

  private def scans(df: org.apache.spark.sql.DataFrame): Seq[FileSourceScanExec] =
    nodesIn[FileSourceScanExec](df.queryExecution.executedPlan)

  /** Every node of a finalized adaptive plan, query stages and reused
    * exchanges included. */
  private def allNodes(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case r: ReusedExchangeExec => Seq(r.child)
      case other => other.children
    }
    p +: kids.flatMap(allNodes)
  }

  test("P1 conjunctive equality pushes both predicates into the scan") {
    val q = SparkEntry.queries("p1_conj_eq")(spark, sf)
    val s = scans(q)
    assert(s.nonEmpty)
    val pushed = s.head.metadata("PushedFilters")
    assert(pushed.contains("EqualTo(o_orderstatus,F)") &&
      pushed.contains("EqualTo(o_orderpriority,1-URGENT)"), pushed)
  }

  test("P7 point lookup pushes the key predicate (partition-prunable at scale)") {
    val q = SparkEntry.queries("p7_by_id")(spark, sf)
    val pushed = scans(q).head.metadata("PushedFilters")
    assert(pushed.contains("EqualTo(o_orderkey,7)"), pushed)
  }

  test("projection prunes the read schema to referenced columns") {
    val q = graft.sources.Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_quantity")
      .where(col("l_quantity") > 45)
    val schema = scans(q).head.metadata("ReadSchema")
    assert(schema.contains("l_orderkey") && schema.contains("l_quantity"))
    assert(!schema.contains("l_extendedprice") && !schema.contains("l_shipdate"), schema)
  }

  test("P3 semi-join filters the child side before the join (range pushed to child scan)") {
    val q = SparkEntry.queries("p3_child_range_gt")(spark, sf)
    val childScan = scans(q).find(_.metadata("Location").contains("lineitem"))
    assert(childScan.isDefined)
    assert(childScan.get.metadata("PushedFilters").contains("GreaterThan(l_quantity,45.0)"),
      childScan.get.metadata("PushedFilters"))
  }

  test("P10 filters before assembling: every collect_list aggregate has the semi-join upstream") {
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val q = SparkEntry.queries("p10_search_renest")(spark, sf)
    q.collect() // finalize the adaptive plan before walking it
    val aggs = allNodes(q.queryExecution.executedPlan).filter(n =>
      n.expressions.exists(_.exists(
        _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.aggregate.CollectList])))
    assert(aggs.nonEmpty, "expected collect_list aggregates in the renest plan")
    aggs.foreach { a =>
      assert(allNodes(a).drop(1).exists {
        case j: BaseJoinExec => j.joinType == LeftSemi
        case _ => false
      }, s"collect_list aggregate assembles unfiltered input (no semi-join below it):\n$a")
    }
  }

  test("P10 computes the hit set once: every node path semi-joins a driver-local build") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    import org.apache.spark.sql.execution.{LocalTableScanExec, QueryExecution}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.{ShuffleExchangeExec, ShuffleExchangeLike}
    import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastHashJoinExec}
    import org.apache.spark.sql.util.QueryExecutionListener
    import scala.collection.mutable
    // every plan the search executes (the hit-set probe included), and
    // the stages that ran, with the job that first listed each
    val executed = mutable.Buffer[QueryExecution]()
    val stageJob = mutable.Map[Int, Int]()
    val ranStages = mutable.Buffer[(Int, Set[Int])]() // (stage id, its RDD ids)
    val qel = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = synchronized(executed += qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val sl = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
        j.stageIds.foreach(stageJob.getOrElseUpdate(_, j.jobId))
      }
      override def onStageCompleted(c: SparkListenerStageCompleted): Unit = synchronized {
        ranStages += ((c.stageInfo.stageId, c.stageInfo.rddInfos.map(_.id).toSet))
      }
    }
    // the child-key aggregate is the one grouping on the child's parent
    // key alone with no aggregate function (the renest's collect_lists
    // group on it too, with one); its map stage is the one computing the
    // exchange's input RDD
    def childKeyMapRdds(p: SparkPlan): Set[Int] = allNodes(p).collect {
      case e: ShuffleExchangeExec if allNodes(e.child).exists {
        case a: BaseAggregateExec => a.aggregateExpressions.isEmpty &&
          a.groupingExpressions.flatMap(_.references.map(_.name)) == Seq("__parentKey")
        case _ => false
      } => e.shuffleDependency.rdd.id
    }.toSet
    def search(): (org.apache.spark.sql.DataFrame, Int) = {
      bridge.drainListenerBus(spark.sparkContext)
      synchronized { executed.clear(); ranStages.clear() }
      val q = SparkEntry.queries("p10_search_renest")(spark, sf)
      assert(q.collect().nonEmpty)
      bridge.drainListenerBus(spark.sparkContext)
      synchronized {
        val rdds = executed.toSeq.flatMap(qe => childKeyMapRdds(qe.executedPlan)).toSet
        assert(rdds.nonEmpty, "no executed plan aggregated the child keys")
        (q, ranStages.collect { case (st, ids) if (ids & rdds).nonEmpty => stageJob(st) }
          .distinct.size)
      }
    }
    spark.listenerManager.register(qel)
    spark.sparkContext.addSparkListener(sl)
    try {
      val paths = graft.operators.Shred.shredTyped(
        graft.sources.StarDocs.docs(spark, sf)).size
      // the hit set is driver-local once the node cache is filled: a
      // first search fills it, the next two are pinned
      search()
      Seq("first", "second").foreach { pass =>
        val (q, jobs) = search()
        val plan = q.queryExecution.executedPlan
        val semis = allNodes(plan).collect { case j: BaseJoinExec if j.joinType == LeftSemi => j }
        assert(semis.size == paths, s"$pass: expected one semi-join per node path:\n$plan")
        semis.foreach { j =>
          assert(j.isInstanceOf[BroadcastHashJoinExec], s"$pass: not a broadcast semi-join:\n$j")
          val build = allNodes(j.right)
          assert(build.exists(_.isInstanceOf[LocalTableScanExec]) &&
            !build.exists(n => n.isInstanceOf[InMemoryTableScanExec] ||
              n.isInstanceOf[ShuffleExchangeLike]),
            s"$pass: the hit-set build side is not driver-local:\n$j")
        }
        assert(jobs == 1, s"$pass: the child-key aggregate ran in $jobs jobs")
      }
    } finally {
      spark.sparkContext.removeSparkListener(sl)
      spark.listenerManager.unregister(qel)
    }
  }

  test("ETag point read cuts the store to the requested key below every exchange") {
    // a point read over a loaded store runs one job, the key-cut store's
    // collect, with no exchange at all; the caller's collect runs none
    import org.apache.spark.sql.catalyst.expressions.{EqualTo, Expression, In, InSet}
    import org.apache.spark.sql.execution.{FilterExec, LocalTableScanExec, QueryExecution}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.util.QueryExecutionListener
    import scala.collection.mutable
    import spark.implicits._
    val store = graft.operators.Etag.withEtag(graft.sources.StarDocs.docs(spark, sf)).persist()
    val executed = mutable.Buffer[QueryExecution]()
    val qel = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = synchronized(executed += qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    try {
      store.count() // a loaded store, as a served one is
      val key = store.select("__key").head().getString(0)
      bridge.drainListenerBus(spark.sparkContext) // report only the read's executions
      spark.listenerManager.register(qel)
      val ((q, statuses), jobs) = withJobCount {
        val q = graft.operators.Etag.conditionalRead(store,
          Seq((key, null.asInstanceOf[String])).toDF("key", "ifNoneMatch"))
        (q, q.collect().map(_.getAs[Int]("status")).toSeq)
      }
      assert(statuses == Seq(200))
      assert(jobs == 1, s"the point read ran $jobs jobs")
      def onKey(e: Expression) = e.references.exists(_.name == "__key")
      def keyFilter(p: SparkPlan) = p match {
        case f: FilterExec => f.condition.exists {
          case i: In => onKey(i.value)
          case i: InSet => onKey(i.child)
          case EqualTo(l, r) => (onKey(l) && r.foldable) || (onKey(r) && l.foldable)
          case _ => false
        }
        case _ => false
      }
      val plans = synchronized(executed.toSeq).map(_.executedPlan)
      assert(plans.nonEmpty, "no execution was reported")
      plans.foreach { p =>
        assert(!allNodes(p).exists(_.isInstanceOf[Exchange]), s"an exchange in a point read:\n$p")
      }
      val scans = plans.flatMap(allNodes).collect { case s: InMemoryTableScanExec => s }
      assert(scans.size == 1, s"expected one store scan, got ${scans.size}:\n${plans.mkString("\n")}")
      assert(plans.flatMap(allNodes).exists(f => keyFilter(f) && allNodes(f).contains(scans.head)),
        s"the store scan is not under a key filter:\n${plans.mkString("\n")}")
      assert(q.queryExecution.executedPlan.isInstanceOf[LocalTableScanExec],
        s"the answer does not execute as a LocalTableScan:\n${q.queryExecution.executedPlan}")
    } finally {
      spark.listenerManager.unregister(qel)
      store.unpersist()
    }
  }

  test("ETag point read over a store not in memory cuts it to the requested key below every exchange") {
    // a parquet-backed store and a cache not yet filled keep the lazy
    // join, over the key-cut store: every exchange over the store scan
    // has a key filter below it, so no exchange carries the whole store
    import org.apache.spark.sql.catalyst.expressions.{EqualTo, Expression, In, InSet}
    import org.apache.spark.sql.execution.FilterExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.Exchange
    import spark.implicits._
    val tagged = graft.operators.Etag.withEtag(graft.sources.StarDocs.docs(spark, sf))
    val key = tagged.select("__key").head().getString(0)
    val dir = java.nio.file.Files.createTempDirectory("graft_etag_pushdown").toString
    tagged.write.mode("overwrite").parquet(dir)
    def onKey(e: Expression) = e.references.exists(_.name == "__key")
    def keyFilter(p: SparkPlan) = p match {
      case f: FilterExec => f.condition.exists {
        case i: In => onKey(i.value)
        case i: InSet => onKey(i.child)
        case EqualTo(l, r) => onKey(l) || onKey(r)
        case _ => false
      }
      case _ => false
    }
    def storeScan(p: SparkPlan) =
      p.isInstanceOf[InMemoryTableScanExec] || p.isInstanceOf[FileSourceScanExec]
    val unfilled = tagged.persist()
    try {
      for ((what, store) <- Seq("parquet store" -> spark.read.parquet(dir), "unfilled cache" -> unfilled)) {
        val q = graft.operators.Etag.conditionalRead(store,
          Seq((key, null.asInstanceOf[String])).toDF("key", "ifNoneMatch"))
        assert(q.collect().map(_.getAs[Int]("status")).toSeq == Seq(200), what)
        val plan = q.queryExecution.executedPlan
        val storeExchanges = allNodes(plan).collect { case e: Exchange => e }
          .filter(e => allNodes(e).exists(storeScan))
        assert(storeExchanges.nonEmpty, s"$what: expected an exchange over the store scan:\n$plan")
        storeExchanges.foreach { e =>
          assert(allNodes(e).exists(keyFilter),
            s"$what: ${e.nodeName} over the store scan without a key filter below it:\n$plan")
        }
      }
    } finally unfilled.unpersist()
  }

  test("funnel pushes each step's event-type equality into its events scan") {
    // the funnel's per-step slices are type-filtered BEFORE any agg/join;
    // at 100 TB each slice must reach the scan as a pushed predicate (and
    // prune whole files on a type-partitioned layout), not filter
    // post-scan
    val q = SparkEntry.queries("x_funnel")(spark, sf)
    val pushed = scans(q).map(_.metadata("PushedFilters"))
    assert(pushed.nonEmpty)
    SparkEntryEvt.FunnelSteps.foreach { st =>
      assert(pushed.exists(_.contains(s"EqualTo(event_type,$st)")),
        s"step '$st' equality must be pushed; scans: $pushed")
    }
  }

  test("corpus-cleaning pipeline plans one scan and one exchange (SCALE.md claim)") {
    val q = SparkEntry.queries("x_pipeline_clean")(spark, sf)
    assert(scans(q).size == 1, "expected a single corpus scan")
    val exchanges = nodesIn[org.apache.spark.sql.execution.exchange.ShuffleExchangeExec](
      q.queryExecution.executedPlan)
    // the computation itself demands exactly ONE shuffle (the dedup
    // hash-agg, planned ENSURE_REQUIREMENTS); the deliberate r16
    // single-row-group scan fan-out (Tables.documents — REPARTITION_BY_NUM
    // keyed on doc_id, a no-op on a many-split table at scale) is allowed
    // and anything else still fails
    val (fanOut, required) = exchanges.partition(
      _.shuffleOrigin == org.apache.spark.sql.execution.exchange.REPARTITION_BY_NUM)
    assert(required.size == 1,
      s"expected exactly the dedup hash-agg exchange, got ${required.size}")
    assert(fanOut.size <= 1, s"at most the scan fan-out, got ${fanOut.size}")
  }
}
