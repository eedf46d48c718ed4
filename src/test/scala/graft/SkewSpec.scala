package graft

import graft.ext.Dedup
import graft.operators.{Kv, Renest, Shred}
import org.apache.spark.sql.functions._

/** Pathological-skew sanity check (SCALE.md "skew and memory"): one
  * document with 50k children next to thousands of tiny ones — the shape
  * AQE skew-splitting handles on a cluster; locally we assert the
  * operators stay correct and complete. */
class SkewSpec extends SparkSpec {

  test("shred/renest/cascade survive a 50k-child document") {
    import spark.implicits._
    val whale = spark.range(50000).select(
      lit("W").as("objectId"), lit("org").as("objectType"),
      col("id").cast("string").as("cid"))
      .groupBy("objectId", "objectType")
      .agg(collect_list(struct(
        concat(lit("c"), col("cid")).as("objectId"),
        lit("child").as("objectType"))).as("kids"))
    val minnows = spark.range(2000).select(
      concat(lit("m"), col("id")).as("objectId"), lit("org").as("objectType"),
      array(struct(concat(lit("mc"), col("id")).as("objectId"),
        lit("child").as("objectType"))).as("kids"))
    val docs = whale.unionByName(minnows)
    val typed = Shred.shredTyped(docs)
    assert(typed("kids").count() == 50000 + 2000)
    val back = Renest(typed, docs.schema)
    val sizes = back.select(col("objectId"), size(col("kids")).as("n"))
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(sizes("W") == 50000)
    assert(sizes("m7") == 1)
    // cascading delete of the whale removes exactly its subtree
    val nodes = Shred.nodes(docs)
    val after = Kv.cascadeDeleteRoot(nodes, "org_W")
    assert(nodes.count() - after.count() == 50001L)
  }

  test("star CC closes a diameter-1023 chain in O(log n) rounds") {
    import spark.implicits._
    // the adversarial shape the old min-label propagation refused: a pure
    // 1024-node path (serial boilerplate edits), diameter 1023 ≫ any
    // per-round propagation budget. Alternating large-star/small-star
    // halves tree heights per round, so the closure must land in ~log2(n)
    // rounds — and label every node with the chain head.
    val n = 1024
    val chain = spark.range(n - 1)
      .select(col("id").as("id_a"), (col("id") + 1).as("id_b"))
    val nodes = spark.range(n).select(col("id").as("doc_id"))
    val (out, rounds) = Dedup.clustersWithRounds(chain, nodes)
    assert(rounds <= 14, s"diameter-${n - 1} chain took $rounds rounds — not O(log n)")
    val got = out.as[(Long, Long)].collect()
    assert(got.length == n && got.forall(_._2 == 0L),
      s"every chain node must label 0: ${got.filter(_._2 != 0L).take(5).toSeq}")
  }

  test("star CC early-exits: an already-converged star forest stops after one round") {
    import spark.implicits._
    // input already a star forest rooted at minima (the LSH anchor-pair
    // shape x_dedup_clusters feeds at sf0.1, where the loop measures 2
    // rounds total) — the fixpoint check must fire on the FIRST comparison,
    // not run to a fixed round budget
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L), (10L, 11L), (10L, 12L))
      .toDF("id_a", "id_b")
    val nodes = spark.range(13).select(col("id").as("doc_id"))
    val (out, rounds) = Dedup.clustersWithRounds(star, nodes)
    assert(rounds == 1, s"converged star forest must stop after 1 round, ran $rounds")
    val lab = out.as[(Long, Long)].collect().toMap
    assert(Seq(1L, 2L, 3L).forall(lab(_) == 0L) && Seq(11L, 12L).forall(lab(_) == 10L))
  }

  test("LSH dedup caps mega-bucket candidates (10k identical docs -> star pairs)") {
    import spark.implicits._
    // 10k identical docs: every band bucket is one 10k-member cluster —
    // uncapped all-pairs would emit ~50M candidates; the star guard emits
    // exactly n-1 anchor pairs per duplicate class
    val n = 10000
    val docs = spark.range(n)
      .select(col("id").as("doc_id"),
        lit("the same exact document text repeated verbatim in every row").as("text"))
    val cap = 1000
    val cands = Dedup.lshCandidates(docs, k = 16, bands = 4, minEst = 0.5, maxBucket = cap)
    assert(cands.count() == (n - 1).toLong)
    // every emitted pair is anchored at the bucket minimum (doc_id 0)
    assert(cands.agg(max(col("id_a"))).head().getLong(0) == 0L)
    // and the small-bucket path still does exact all-pairs: 3 near-identical
    // docs under the cap -> all 3 pairs
    val trio = Seq(
      (100000L, "alpha beta gamma delta epsilon zeta eta theta"),
      (100001L, "alpha beta gamma delta epsilon zeta eta theta"),
      (100002L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    assert(Dedup.lshCandidates(trio, k = 16, bands = 4, minEst = 0.5).count() == 3)
    Dedup.invalidate(spark)
  }

  test("embedding LSH dedup: a degenerate-vector flood opts out of the pair space") {
    import spark.implicits._
    val dim = 8
    val rnd = new scala.util.Random(7)
    // 40 genuine vectors forming 20 exact-duplicate pairs...
    val good = (0 until 20).flatMap { i =>
      val v = Array.fill(dim)(rnd.nextGaussian().toFloat)
      Seq((i.toLong, v), (1000L + i, v.clone()))
    }
    // ...drowned by 10k degenerate rows: zero-NORM vectors (valid length,
    // all projections 0 → they'd all share the all-zeros bucket and emit
    // O(m²) NULL-cosine pairs without the norm opt-out), NULLs, and
    // off-dim stubs (short-bucket opt-out)
    val zeros = (0 until 5000).map(i => (10000L + i, Array.fill(dim)(0f)))
    val nulls = (0 until 2500).map(i => (20000L + i, null.asInstanceOf[Array[Float]]))
    val offDim = (0 until 2500).map(i => (30000L + i, Array(1f)))
    val embs = (good ++ zeros ++ nulls ++ offDim).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDups(embs, minCos = 0.9).collect()
    val ids = pairs.flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
    assert(ids.forall(_ < 10000L), s"degenerate id leaked into the pair space")
    val found = pairs.map(r => (r.getLong(0), r.getLong(1))).toSet
    // identical vectors share every bucket, so all 20 true pairs survive
    assert((0 until 20).forall(i => found.contains((i.toLong, 1000L + i))),
      s"missed true dups: $found")
  }

  test("salted join equals the plain join and flattens the shuffle histogram") {
    import spark.implicits._
    // hot-key fixture: one key carries 90% of the fact rows
    val big = spark.range(10000).select(
      when(col("id") % 10 =!= 0, lit("hot")).otherwise(concat(lit("k"), col("id") % 5)).as("k"),
      col("id").as("rid"))
    val dim = Seq(("hot", 1L), ("k0", 2L), ("k1", 3L), ("k2", 4L),
      ("k3", 5L), ("k4", 6L)).toDF("k", "payload")
    val salts = 16
    val salted = graft.ext.Skew.saltedJoin(big, dim, Seq("k"), col("rid"), salts)
    val plain = big.join(dim, Seq("k"))
    assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty,
      "salting must not change the join result")
    assert(!salted.columns.contains("__salt"), "salt column must not leak")
    // shuffle histogram under Spark's own HashPartitioning arithmetic
    // (murmur3 hash pmod p): the unsalted hot key pins ~90% of rows on
    // one reducer; (key, salt) spreads them across `salts` reducers.
    // p models a cluster's reducer count — it must exceed `salts` or
    // salt-bucket collisions (8 combos into 8 bins) mask the flattening
    val p = 32
    def maxLoad(keyed: org.apache.spark.sql.DataFrame): Long = keyed
      .groupBy(pmod(hash(keyed.columns.map(col).toIndexedSeq: _*), lit(p)).as("part"))
      .agg(count(lit(1)).as("n")).agg(max("n")).head().getLong(0)
    val unsaltedMax = maxLoad(big.select("k"))
    val saltedMax = maxLoad(big.select(col("k"),
      pmod(xxhash64(col("rid")), lit(salts.toLong)).as("__salt")))
    assert(unsaltedMax >= 9000L, s"fixture lost its hot key ($unsaltedMax)")
    // ≥3x: the ideal is `salts`x, but deterministic murmur3 collisions
    // (several salt buckets sharing a reducer) keep the realized cut
    // lower — the law pins the order of magnitude, not hash luck
    assert(saltedMax * 3 <= unsaltedMax,
      s"salting must cut the max reducer load ≥3x: $saltedMax vs $unsaltedMax")
    // the executed join must actually key on the salt (no silent
    // broadcast degrade)
    salted.collect()
    val planStr = salted.queryExecution.executedPlan.toString
    assert(planStr.contains("__salt"), s"join did not shuffle on the salt:\n$planStr")
  }

  test("dedupeLinesGlobal: a line shared by EVERY doc takes no single-task window") {
    // the operator's defining input: corpus-wide boilerplate. The old
    // line-keyed row_number window routed all 4000 copies of the banner
    // through one task; the two-phase form pre-aggregates the keeper
    // min per line (map-side combinable) and joins the flag back (AQE
    // skew-splittable). Plan must contain NO window operator; keeper
    // semantics (lexicographic min (doc_id, pos)) must be unchanged.
    import graft.ext.TextAnalysis
    val docs = spark.range(4000).select(col("id").cast("long").as("doc_id"),
      concat(lit("COOKIE BANNER\nline-"), col("id")).as("text"))
      .repartition(16)
    val out = TextAnalysis.dedupeLinesGlobal(docs)
    val windows = out.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.isEmpty, s"line dedup still plans a window: $windows")
    // ONE explode: both branches (keeper agg + join-back) must read the
    // memoized lines relation — without the memo boundary the
    // split+posexplode re-inlines into each (the agg branch exchanges
    // partial-agg rows, so ReuseExchange can't merge them) and the corpus
    // is scanned twice
    def planNodes(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] =
      p.collect { case n => n }.flatMap {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a +: planNodes(a.executedPlan)
        case n => Seq(n)
      }
    val exec = planNodes(out.queryExecution.executedPlan)
    assert(!exec.exists(_.isInstanceOf[org.apache.spark.sql.execution.GenerateExec]),
      s"explode re-inlined past the lines memo: ${exec.map(_.getClass.getSimpleName)}")
    assert(exec.count(
      _.isInstanceOf[org.apache.spark.sql.execution.columnar.InMemoryTableScanExec]) == 2,
      s"expected both branches on the cached lines relation: ${exec.map(_.getClass.getSimpleName)}")
    val rows = out.collect().map(r => (r.getLong(0),
      (r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(rows.size == 4000)
    // doc 0 owns the banner's first occurrence (min (doc_id, pos)) and
    // keeps both its lines; every other doc keeps only its unique line
    assert(rows(0L) == ((2L, 2L, "COOKIE BANNER\nline-0")))
    assert(rows(17L) == ((2L, 1L, "line-17")))
    assert(rows.values.map(_._2).sum == 4000 + 1)
  }

  test("has_child defuses a hot-root child key before any exchange") {
    // the likeliest real skew at 100×: ONE root with 200k children next
    // to thousands of one-child roots. A semi-join probing raw child rows
    // routes every hot-key row through one task, and AQE cannot repair it
    // (OptimizeSkewedJoin.canSplitRightSide excludes LeftSemi — splitting
    // the probe side would emit a stream row once per matching split).
    // hasChild must instead collapse the child side to distinct keys with
    // a MAP-SIDE partial aggregate, so nothing that crosses an exchange
    // on the probe side is pre-aggregation raw data.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    val parents = spark.range(3000).select(col("id").as("pk"))
    val hot = spark.range(200000).select(lit(0L).as("cpk"), lit(100.0).as("v"))
    val minnows = spark.range(1, 3000).select(col("id").as("cpk"),
      when(col("id") % 2 === 0, 100.0).otherwise(1.0).as("v"))
    val children = hot.unionByName(minnows).repartition(16)
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // force the shuffle path — with broadcast on, the tiny distinct key
      // set broadcasts and the exchange this test pins never plans
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val q = graft.operators.Search.hasChildRange(
        parents, children, "pk", "cpk", col("v"), 50.0, lt = false)
      val got = q.collect().map(_.getLong(0)).toSet
      val expect = (0L until 3000L).filter(i => i == 0L || i % 2 == 0).toSet
      assert(got == expect,
        s"wrong parents: missing=${(expect -- got).take(5)} extra=${(got -- expect).take(5)}")
      def allNodes(p: SparkPlan): Seq[SparkPlan] = {
        val kids = p match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            Seq(a.executedPlan)
          case s: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(s.plan)
          case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
            Seq(r.child)
          case other => other.children
        }
        p +: kids.flatMap(allNodes)
      }
      val joins = allNodes(q.queryExecution.executedPlan).collect {
        case j: BaseJoinExec if j.joinType == LeftSemi => j
      }
      assert(joins.nonEmpty, "expected a left-semi join in the has_child plan")
      val probe = allNodes(joins.head.right)
      // every KEY-CLUSTERED exchange on the probe side ships
      // post-partial-agg rows: a HashAggregate sits below it, so the
      // 200k-copy hot key crossed the wire as <= one row per source
      // partition. (Round-robin exchanges — the fixture's repartition —
      // spread rows evenly and cannot concentrate a key.)
      val clustered = probe.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
          if e.outputPartitioning.isInstanceOf[
            org.apache.spark.sql.catalyst.plans.physical.HashPartitioning] => e
      }
      assert(clustered.nonEmpty, "expected the distinct-keys hash exchange")
      clustered.foreach { e =>
        assert(allNodes(e).drop(1).exists(_.isInstanceOf[BaseAggregateExec]),
          s"raw child rows cross a key-clustered exchange on the semi-join probe side:\n$e")
      }
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
  }

  test("has_child returns the same rows driver-local and distributed") {
    // the driver-local path (in-memory inputs within the broadcast
    // budget, string keys) collects the child keys, then the InSet-cut
    // parents, in 2 jobs and returns a LocalRelation; every other input
    // keeps the lazy plan. Both must agree row for row
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.catalyst.plans.logical.{Join, LocalRelation, LogicalPlan}
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    import graft.operators.Search
    import spark.implicits._
    val threshold = "spark.sql.autoBroadcastJoinThreshold"
    val parents = Seq(("a", 1), ("b", 2), ("c", 3), ("d", 4)).toDF("pk", "v")
    // duplicated keys, null keys, a key with no parent
    val children = Seq[(String, Double)](("a", 5.0), ("a", 6.0), ("a", 7.0),
      (null, 9.0), ("c", 8.0), ("z", 9.0), (null, 1.0)).toDF("cpk", "x")
    def run(budget: String, p: DataFrame, c: DataFrame): (LogicalPlan, Seq[(String, Int)], Int) =
      withSQLConf(threshold -> budget) {
        val ((q, rows), jobs) = withJobCount {
          val q = Search.hasChild(p, c, "pk", "cpk")
          (q, q.collect().map(r => (r.getString(0), r.getInt(1))).toSeq.sorted)
        }
        assert(q.schema == p.schema)
        (q.queryExecution.analyzed, rows, jobs)
      }
    def isLocal(plan: LogicalPlan) = plan.isInstanceOf[LocalRelation]
    def isLazy(plan: LogicalPlan) = plan.exists(_.isInstanceOf[Join])
    def agree(p: DataFrame, c: DataFrame, want: Seq[(String, Int)]): Unit = {
      val (local, localRows, jobs) = run("10MB", p, c)
      val (dist, distRows, _) = run("-1", p, c)
      assert(isLocal(local), s"expected a driver-local result:\n$local")
      assert(jobs == 2, s"the driver-local hit set ran $jobs jobs")
      assert(isLazy(dist), s"expected the lazy semi-join:\n$dist")
      assert(localRows == want && distRows == want, s"$localRows / $distRows, want $want")
    }
    agree(parents, children, Seq(("a", 1), ("c", 3)))
    // an empty hit set
    agree(parents, children.where($"x" > 100), Nil)
    // loaded caches are in memory too
    val cachedParents = parents.union(Seq(("e", 5)).toDF("pk", "v")).persist()
    val cachedChildren = children.union(Seq(("e", 1.0)).toDF("cpk", "x")).persist()
    try {
      // not yet filled: the probe would read the cache's inputs, so lazy
      assert(isLazy(run("10MB", cachedParents, cachedChildren)._1))
      cachedParents.count(); cachedChildren.count()
      agree(cachedParents, cachedChildren, Seq(("a", 1), ("c", 3), ("e", 5)))
    } finally { cachedParents.unpersist(); cachedChildren.unpersist() }
    // parents over the budget keep the lazy plan
    val (over, overRows, _) = run("1", parents, children)
    assert(isLazy(over) && overRows == Seq(("a", 1), ("c", 3)), over)
    // so do child keys whose collected bytes pass the budget, though the
    // parents fit it: three 2,000-byte keys against 4,096 bytes
    val bulky = children.union(Seq("x", "y", "w").map(k => (k * 2000, 1.0)).toDF("cpk", "x"))
    val (bulkyPlan, bulkyRows, _) = run("4096", parents, bulky)
    assert(isLazy(bulkyPlan) && bulkyRows == Seq(("a", 1), ("c", 3)), bulkyPlan)
    // a non-string key keeps the lazy plan
    val longKeys = withSQLConf(threshold -> "10MB") {
      Search.hasChild(parents.select($"v".cast("long").as("pk"), $"pk".as("name")),
        Seq(1L, 1L, 3L, 7L).toDF("cpk"), "pk", "cpk")
    }
    assert(isLazy(longKeys.queryExecution.analyzed), longKeys.queryExecution.analyzed)
    assert(longKeys.collect().map(_.getString(1)).sorted.toSeq == Seq("a", "c"))
    // a parquet-backed input keeps the lazy plan and its scan
    val dir = java.nio.file.Files.createTempDirectory("graft_has_child").toString
    parents.write.mode("overwrite").parquet(dir)
    val (fromFiles, fileRows, _) = run("10MB", spark.read.parquet(dir), children)
    assert(isLazy(fromFiles) && fromFiles.exists(_.isInstanceOf[LogicalRelation]), fromFiles)
    assert(fileRows == Seq(("a", 1), ("c", 3)))
  }
}
