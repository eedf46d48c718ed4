package graft

/** Global plan hygiene: EVERY driver query must plan without a cartesian
  * product or nested-loop join — the two shapes that turn a 100× scale-up
  * into a 10000× cost — except the explicitly documented broadcast-bounded
  * exact paths, which are listed here so adding one is a reviewed decision
  * rather than an accident. */
class PlanAuditSpec extends SparkSpec {

  /** Paths whose CONTRACT is a broadcast-bounded all-pairs/top-k scan:
    * the exact kNN baseline (broadcast query set × corpus), the exact
    * embedding-pairs oracle path (broadcast one side; documented as
    * infeasible-beyond-broadcast by construction in Dedup.scala), and the
    * PQ/ADC scan (broadcast query set × the m-byte code table — the scan
    * side is the compressed index, which is the point). */
  private val broadcastBounded =
    // x_knn_recall composes the exact baseline + PQ/ADC scan, so it
    // inherits their broadcast-bounded shapes
    Set("x_knn_cosine", "x_dedup_embed", "x_knn_pq", "x_knn_recall",
      "x_knn_mrr",
      // the filtered search runs the same broadcast-bounded exact scan
      // over the metadata-sliced corpus
      "x_knn_filtered",
      // the hybrid fusion's vector leg IS the exact baseline
      // (bruteForceTopK's deliberate broadcast scorer); the fusion joins
      // themselves are equi-joins over bounded ranking relations
      "x_hybrid_search",
      // hard-negative mining is the exact baseline with the label
      // predicate riding in the same broadcast join condition; the
      // IVF-probed form is the documented scale path
      "x_hard_negatives")

  /** Paths whose nested loops each build from ONE row: a global (no
    * grouping keys) aggregate, broadcast. Pinned by exact count in the
    * test below. HITS renorm (r17): each superstep's L1 mass total rides
    * as a one-row broadcast cross join instead of a blocking driver
    * scalar; the last two renorms print in the output plan. */
  private val oneRowLoops: Map[String, Int] = Map("x_hits" -> 2)

  test("no query plans a cartesian product or an unbounded nested loop") {
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val plan = fn(spark, sf).queryExecution.executedPlan.toString
      val cartesian = plan.contains("CartesianProduct")
      val nlj = plan.contains("BroadcastNestedLoop")
      if (cartesian) Some(s"$name: CartesianProduct")
      else if (nlj && !broadcastBounded(name) && !oneRowLoops.contains(name))
        Some(s"$name: BroadcastNestedLoop")
      else None
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("one-row nested loops: exactly the pinned number, each built from a global aggregate") {
    import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
    import org.apache.spark.sql.execution.{ProjectExec, SparkPlan}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    def allNodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a +: allNodes(a.executedPlan)
      case other => other +: other.children.flatMap(allNodes)
    }
    def globalAgg(p: SparkPlan): Boolean = p match {
      case a: BaseAggregateExec => a.groupingExpressions.isEmpty
      case b: BroadcastExchangeExec => globalAgg(b.child)
      case pr: ProjectExec => globalAgg(pr.child)
      case _ => false
    }
    oneRowLoops.foreach { case (name, pinned) =>
      val plan = SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan
      val loops = allNodes(plan).collect { case j: BroadcastNestedLoopJoinExec => j }
      assert(loops.size == pinned, s"$name: ${loops.size} nested loops, pinned $pinned:\n$plan")
      loops.foreach { j =>
        val build = j.buildSide match { case BuildLeft => j.left; case BuildRight => j.right }
        assert(globalAgg(build), s"$name: a nested loop builds from more than one row:\n$j")
      }
    }
  }

  /** Per-query shuffle budget: the count of `Exchange` (shuffle) nodes in
    * the PRINTED unexecuted physical plan, pinned at the reviewed plans'
    * values so a stray `repartition`/`distinct`/lost-broadcast regression
    * fails BY NAME instead of silently shipping a new shuffle to the
    * 100 TB cluster. This is a print-level gauge, deliberately: shared
    * artifact lineage inside an InMemoryRelation prints once per
    * consumer, so the number for artifact-heavy queries (j4, p10, kmv)
    * exceeds the EXECUTED stage count — but it is deterministic for a
    * fixed plan, which is all a regression pin needs. The per-family
    * executed-shuffle story lives in SCALE.md's table; this map is its
    * enforcement proxy. Regenerate after an intentional plan change with
    * `graft.tools.ShowShuffles` (which mirrors TestSpark's config —
    * join strategies depend on it). */
  private val shuffleBudget: Map[String, Int] = Map(
    // J/P: shred + renest over the bucketed NodeStore (big counts =
    // shared assembly lineage printed per node table)
    "j1_shred_counts" -> 10, "j2_renest_flat" -> 13,
    "j4_cascade_counts" -> 10, "j4_subtree_counts" -> 43,
    // p10 prints the lazy has_child plan: constructed against an
    // unfilled node cache, Search.hasChild keeps it distributed
    "p10_search_renest" -> 39, "p7_routing" -> 9,
    "p1_conj_eq" -> 0, "p2_match_all" -> 0, "p3_child_range_gt" -> 1,
    "p3_child_range_lt" -> 1, "p4_child_eq" -> 1, "p5_child_dotted" -> 2,
    "p6_has_parent" -> 1, "p7_by_id" -> 0, "p8_count" -> 1,
    "p9_projection" -> 3,
    // S/M: KV gates and document middleware — joins and projections
    "s10_cache_aside" -> 0, "s11_mapping" -> 0, "s2_exists" -> 1,
    "s3_create_only" -> 0, "s4_upsert" -> 2, "s7_index_delete" -> 0,
    "s8_delete_by_query" -> 1, "s9_scan_cap" -> 0,
    "m1_merge_patch" -> 3, "m1_null_clear" -> 1, "m2_etag" -> 0,
    "m2_etag_canonical" -> 2, "m3_if_none_match" -> 0, "m4_if_match" -> 0,
    "m5_validate_json" -> 0, "m6_dates" -> 0, "m7_key_gate" -> 0,
    // ST/temporal/changelog
    // st1_smoke's RELATION is a 1-row constant (the streaming drive runs
    // as a side effect before it; its plans are streaming micro-batches,
    // not this query's)
    "st1_smoke" -> 0,
    "st2_changelog_apply" -> 6, "st3_upsert_latest" -> 1,
    "st4_barrier_visibility" -> 2, "st5_dlq_split" -> 2,
    "st6_scd2_history" -> 1, "x_asof_forward" -> 1, "x_asof_join" -> 1,
    "x_range_join" -> 1, "x_sessions" -> 1, "x_window_sliding" -> 1,
    "x_window_tumbling" -> 1, "x_resample_ffill" -> 2,
    "x_snapshot_diff" -> 2, "x_snapshot_read" -> 1, "x_pit_join" -> 2,
    "x_mv_incremental" -> 14, "x_lsm_compacted_read" -> 0,
    // dedup family
    "x_dedup_clusters" -> 1 /* +1 r16 */, "x_dedup_clusters_chain" -> 2,
    "x_dedup_embed" -> 1, "x_dedup_embed_lsh" -> 0, "x_dedup_exact" -> 1,
    "x_dedup_image_phash" -> 4 /* +2 r16 */, "x_dedup_incremental" -> 12 /* +8 r16 */,
    "x_dedup_lsh_pairs" -> 47 /* +39 r16 */, "x_dedup_minhash" -> 4 /* +4 r16 */,
    "x_dedup_ngram_jaccard" -> 32 /* +28 r16 */, "x_dedup_semantic" -> 1,
    "x_dedup_simhash" -> 1 /* +1 r16 */, "x_dedup_substring_spans" -> 4 /* +2 r16 */,
    "x_line_dedup" -> 3 /* +1 r16 */, "x_line_dedup_global" -> 4 /* +2 r16 */, "x_cdc_chunks" -> 5 /* +2 r16 */,
    "x_decontaminate" -> 4 /* +2 r16 */, "x_decontaminate_semantic" -> 1,
    "x_decontaminate_spans" -> 6 /* +4 r16 */, "x_span_excise" -> 8 /* +5 r16 */,
    "x_dedup_soft" -> 3 /* +2 r16 */,
    // event-sequence analytics: k-step funnel = k user-keyed min-aggs
    // chained through k-1 equi joins (print counts each chain per
    // union branch); retention = 2 aggs + 1 user join
    // windowed funnel: one user-sort shuffle + per-branch union lineage;
    // latency histogram: the same sort + one band agg
    // anomaly: (user, day) agg + per-user rollup + the user-keyed join
    "x_anomaly_days" -> 3,
    "x_funnel" -> 8, "x_funnel_window" -> 6, "x_funnel_latency" -> 2,
    "x_event_paths" -> 2, "x_attribution" -> 2, "x_retention" -> 3,
    // ANN
    "x_knn_cosine" -> 2, "x_knn_ivf" -> 2, "x_knn_ivf_delta" -> 2,
    // tombstone search = the delta plan + one candidate-bounded anti-join
    // below the same two exchanges
    "x_knn_ivf_delete" -> 2,
    "x_knn_ivfpq" -> 2,
    "x_knn_lsh" -> 3, "x_knn_mrr" -> 16, "x_knn_pq" -> 2,
    "x_knn_recall" -> 18,
    // multimodal: map-only decode seams
    "x_multimodal_audio" -> 1 /* +1 r16 */, "x_multimodal_envelope" -> 1 /* +1 r16 */,
    "x_multimodal_frames" -> 1 /* +1 r16 */, "x_multimodal_gif_frames" -> 1 /* +1 r16 */,
    "x_multimodal_jpeg_phash" -> 1 /* +1 r16 */, "x_multimodal_meta" -> 1 /* +1 r16 */,
    "x_multimodal_phash" -> 1 /* +1 r16 */, "x_multimodal_progressive" -> 1 /* +1 r16 */,
    "x_multimodal_progressive_real" -> 1 /* +1 r16 */, "x_multimodal_video_frames" -> 1 /* +1 r16 */,
    // text/quality/tokenizers
    "x_text_fingerprint" -> 1 /* +1 r16 */, "x_text_langid" -> 1 /* +1 r16 */, "x_text_quality" -> 1 /* +1 r16 */,
    "x_text_tf_df" -> 5 /* +1 r16 */, "x_text_tokens" -> 0, "x_token_bpeish" -> 1 /* +1 r16 */,
    // bpe_segment rose 3 -> 6 in r16: its word relation now reads the
    // shared memoized termCounts artifact, whose cached lineage prints
    // per consumer (executed shape unchanged; one corpus tokenize fewer)
    "x_bpe_merges" -> 0, "x_bpe_segment" -> 5 /* -1 r16 */, "x_top_terms" -> 4 /* +1 r16 */,
    // the composite filter reads the memoized term-count AND exploded-line
    // relations (cached lineage prints per consumer) + its own two aggs
    // and the doc-key join
    "x_quality_gopher_full" -> 7 /* -1 r16 */,
    // segment/ppl read the MEMOIZED (doc, word, n) + per-word
    // segmentation relations (cached lineage prints per consumer)
    "x_unigram_train" -> 0, "x_unigram_segment" -> 4, "x_unigram_ppl" -> 4,
    // bigram LM: was 7; x_collocations (earlier in the sorted sweep) now
    // shares the bigram-count memo, whose cached-relation lineage prints
    // under additional branches here (one InMemoryRelation at execution)
    "x_quality_bigram_lm" -> 9 /* -1 r16 */, "x_quality_repetition" -> 2 /* -2 r16 */,
    "x_quality_unigram_lm" -> 5 /* -1 r16 */,
    // inverted index
    // sparse all-pairs similarity: df agg + pruned-posting join (on the
    // memoized posting relation, whose lineage prints per consumer) +
    // pair agg + two norm joins + the two-phase rank
    // +8 in r16: the posting relation is now derived from the shared
    // memoized termCounts artifact (one corpus tokenize for TF/LM/index),
    // whose cached lineage prints under every posting consumer
    "x_sparse_topk_sim" -> 24,
    // x_index_delta's print rose 9→11 when x_bm25_delta (alphabetically
    // earlier in the sweep) began memoizing the same base postings —
    // cached lineage prints per consumer, executed shape unchanged
    // the r16 postings-from-termCounts sharing prints the tc lineage per
    // consumer across the index family (executed stages unchanged)
    "x_inverted_directory" -> 7, "x_index_delta" -> 23 /* +8 r16 */,
    "x_index_lookup" -> 3, "x_bm25_topk" -> 7, "x_phrase_search" -> 3 /* +2 r16 */,
    // delta-served BM25: the merged union (stored scan + batch
    // tokenize) feeds dl/df/score aggs + the two-phase rank
    "x_bm25_delta" -> 34 /* +12 r16 */,
    // curation
    "x_bloom_prune" -> 3 /* +2 r16 */, "x_chunk_docs" -> 1 /* +1 r16 */, "x_mix_sample" -> 1 /* +1 r16 */,
    "x_pack_sequences" -> 2 /* +1 r16 */, "x_pii_detect" -> 1 /* +1 r16 */, "x_pii_redact" -> 1 /* +1 r16 */,
    "x_pipeline_clean" -> 2 /* +1 r16 */, "x_pipeline_export" -> 3 /* +1 r16 */,
    // universe sample: both sides hash-filter at their scans; the
    // broadcast fact-dim shape leaves one group-by exchange
    "x_universe_sample" -> 1,
    // corpus_shuffle's count pass (bounded metadata) runs eagerly at plan
    // construction; the returned plan pays the one (shard, bucket) rank
    // exchange
    "x_corpus_shuffle" -> 2 /* +1 r16 */, "x_token_budget_sample" -> 2 /* +1 r16 */,
    "x_shard_stats" -> 2 /* +1 r16 */, "x_stratified_sample" -> 3 /* +1 r16 */,
    "x_url_domains" -> 2, "x_weighted_sample" -> 2 /* +1 r16 */,
    // sketches / stats / layout
    "x_sketch_cms" -> 11, "x_sketch_histogram" -> 6, "x_sketch_hll" -> 3,
    "x_sketch_kmv" -> 11 /* +4 r16 */, "x_sketch_kmv_jaccard" -> 66 /* +32 r16 */,
    "x_sketch_kmv_containment" -> 66 /* +32 r16 */, "x_quantiles" -> 1,
    "x_table_stats" -> 2, "x_corpus_fingerprint" -> 2 /* +1 r16 */, "x_fk_audit" -> 6,
    "x_zorder_prune" -> 1, "x_zorder_zonemap" -> 1,
    // lake layouts: the bucketed join's only exchange is the final
    // rollup (count_distinct's two-phase agg reuses it); the partitioned
    // read pays one group-by exchange after directory pruning
    "x_bucketed_join" -> 1, "x_partition_prune" -> 1,
    // graph: the persisted edge artifact's lineage prints once per
    // consumer (deg + per-iteration join), so pagerank's print count is
    // inflated like j4/p10/kmv — its EXECUTED stages are pinned below
    // degree stats' printed count includes the butterfly guard's now-
    // materialized edge-memo lineage (the guard runs eagerly when the
    // census queries are constructed earlier in the sorted sweep)
    "x_pagerank" -> 28, "x_degree_stats" -> 5,
    // same unrolled 3-iteration shape as x_pagerank over the persisted
    // weighted-edge artifact (weight-sum agg replaces the degree agg)
    "x_pagerank_weighted" -> 28,
    // BFS rounds are checkpointed — the returned plan is a union of
    // materialized frontiers, zero printable exchanges
    "x_bfs_levels" -> 0,
    // SSSP relaxation rounds are checkpointed like BFS, and since r15 the
    // running best is maintained incrementally (anti-join + union folded
    // into each round's checkpoint) — the returned plan is a select over
    // the final materialized best relation, zero printable exchanges
    "x_sssp" -> 0,
    // delta refresh (r16 overlay shape): the iterative work runs eagerly
    // behind checkpoints, but the returned plan IS the one end-of-loop
    // compact — prior anti-join overlay + union — so exactly the two
    // exchanges of that final |V|-sized pass print here (the per-round
    // O(|V|) materialization they replace is gone)
    "x_sssp_delta" -> 2,
    // triangle census: the projected-edge artifact's lineage + degree agg
    // + two endpoint-degree joins feeding the wedge/closing joins; the
    // scalar metric rows ride a range(1) — 5 printable exchanges at the
    // fresh-session state ShowShuffles measures
    "x_triangles" -> 5,
    // episodes: ordered-events window exchange + two (user, position)
    // equi-join shuffles + the bounded top-k rank — the gap expansion
    // keeps both hops equi-joins, so no per-user quadratic shape prints
    "x_seq_episodes" -> 4,
    // time episodes: the banded (user, bucket) hops hash-join off ONE
    // events scan (broadcast of the bounded hop side at this sf); the
    // printable exchange is the final grouped top-k
    "x_seq_episodes_time" -> 1,
    // hybrid fusion: the two leg builds print their lineage (BM25's
    // posting aggs + two-phase top-k, the vector leg's bounded ranking) +
    // the fused full-outer join and per-query re-rank — all over bounded
    // ranking relations once the legs are memoized; the ANN variant's
    // IVF leg prints the same count (cell assignment is map-only)
    // +3 each in r16: the BM25 leg's postings now print the shared
    // termCounts lineage (the index-family sharing note above)
    "x_hybrid_search" -> 15, "x_hybrid_search_ann" -> 15,
    // delta refresh: base chain (3 iters over the filtered edge
    // artifact) + seed join/renormalize + ONE full-graph iteration —
    // print count inflated by the two edge artifacts' shared lineage
    "x_pagerank_delta" -> 68,
    // data contract: one scan, every rule a conditional sum in ONE agg
    "x_expectations" -> 1,
    // salted join: dim agg + the (key, salt) join shuffle
    "x_salted_join" -> 2,
    // incremental CC: base-clusters build + the delta-sized quotient
    // quotient edges are checkpointed inside clustersDelta (r13), so the
    // print shows the final label join + the checkpoint's own build, not
    // the formerly-duplicated newPairs lineage (was budget 30)
    "x_cc_delta" -> 9 /* +1 r16 */,
    // drift monitor: (grp, bucket) histogram + per-grp totals + the
    // final per-grp rollup, all map-side combinable
    "x_drift_report" -> 4,
    // join-size estimate: two CMS builds (posexplode + count each) +
    // the depth·width-bounded inner-product aggs + the exact Σc² side
    "x_join_size_est" -> 6,
    // pre-join skew audit: two key-count aggs + the two-phase top-k rank
    "x_join_skew_report" -> 3,
    // changelog completeness: bucket-keyed distinct + lag window + agg,
    // joined with the per-bucket row counts
    "x_seq_gap_audit" -> 3,
    // ER + sequence mining (r13): pairs = variant agg + candidate
    // distinct + verify; clusters' star loop hides behind localCheckpoint
    // (soak-proved O(log n)), printed plan shows seed + final label join;
    // transitions = user window + transition agg + broadcast totals;
    // top paths' rank window and path agg share one (user, day) exchange
    // x_er_pairs: the persisted variant index's build lineage PRINTS on
    // both self-join sides (2 each) + the candidate distinct; at
    // execution both sides read the one InMemoryRelation
    "x_er_pairs" -> 5, "x_er_clusters" -> 2, "x_er_delta" -> 8,
    // best_match: probe variants shuffle onto the cached index + the
    // candidate distinct + the per-probe top-1 window
    "x_er_best_match" -> 4,
    "x_seq_transitions" -> 3, "x_seq_top_paths" -> 2,
    // collocations: the persisted corpus-pair relation's build lineage
    // (bigram explode + two aggs) PRINTS under the pair branch AND both
    // marginal branches (one InMemoryRelation at execution — the
    // x_er_pairs pattern), + the two marginal joins and their aggs;
    // the final top-k is TakeOrdered over the support-filtered pairs
    "x_collocations" -> 20,
    // surprise: the persisted transition-cell relation's build lineage
    // PRINTS under both the user branch and the global branch (cached at
    // execution) + the (prev,cur) rollup, its prev-window, and the final
    // per-user agg; global side broadcasts
    // (6 in a fresh session; the suite's shared-session cache state adds
    // one ENSURE_REQUIREMENTS print — execution reads the one cache)
    "x_seq_surprise" -> 7,
    // lake/curation additions: the evolved-schema union is scan-only;
    // compaction bins one exchange into the bounded-cell window + the
    // cell agg; the temperature mix pays the lang agg + bounded window;
    // filtered knn is the broadcast-bounded exact scan + two-phase rank
    "x_schema_evolution" -> 2 /* +2 r16 */, "x_compaction_plan" -> 3 /* +1 r16 */,
    "x_mix_temperature" -> 3 /* +1 r16 */, "x_knn_filtered" -> 2,
    // butterfly census: ONE eager bounded degree agg supplies every
    // scalar metric as a literal (guard included), leaving the wedge
    // pair join as the only lazy branch over the memoized distinct
    // bipartite relation (whose cached lineage prints per consumer —
    // the j4/p10/kmv inflation). Steady-state reps at sf0.1 fell
    // 3.6→~2.0 s (exact) and 5.6→~2.4 s (capped) across the
    // assumeDistinct + single-pass-scalars rework.
    "x_butterfly" -> 14, "x_butterfly_capped" -> 28,
    // multi-dimensional reporting: ROLLUP/CUBE/GROUPING SETS each plan
    // ONE exchange — Expand replicates rows per grouping set BEFORE the
    // aggregation, so map-side combine applies and the corpus is read
    // once however many subtotal levels the report carries; pivot is a
    // single two-phase agg over the explicitly listed value set; unpivot
    // melts map-side after its pre-agg
    "x_rollup_revenue" -> 1, "x_cube_events" -> 1, "x_grouping_sets" -> 1,
    "x_pivot_returnflag" -> 2, "x_unpivot_metrics" -> 1,
    // reconciliation: child rollup + the parent key join's exchange
    "x_recon_report" -> 2,
    // active users: (day,user) dedup, dau agg, window-end expansion
    // dedup + agg, final day join
    "x_active_users" -> 5,
    // wide-window sketch path: (day,user) dedup + day-sketch agg + the
    // day-level (bounded) window merge + final day join
    "x_active_users_hll" -> 5,
    // cluster profile: literal arg-max assignment is map-only; the two
    // bounded aggs (cell-label counts, per-cell rollup) each shuffle once
    "x_cluster_profile" -> 2,
    // Lloyd superstep: map-only assignment + ONE (cell, dim) agg
    "x_kmeans_step" -> 1,
    // r15 additions. ppr: the shared edge artifact's lineage prints per
    // consumer (the x_pagerank inflation) around 3 iterations of
    // (src join + dst agg) + the seed semi-join; executed stages pinned
    // below. kcore rounds are checkpointed (the BFS discipline) — the
    // returned plan is a select over the final materialized degree
    // relation, zero printable exchanges
    "x_ppr" -> 27, "x_kcore" -> 0,
    // basket rules: basket distinct + size gate + the basket-keyed pair
    // self-join/agg + two marginal joins (lineage of the kept relation
    // prints under each branch); executed stages pinned below
    "x_basket_rules" -> 22,
    // recs: the projected-edge + bipartite artifacts' build lineage
    // prints under the vote join, the anti-join, AND the rank window
    // (one InMemoryRelation each at execution — the x_pagerank_delta
    // inflation); executed stages pinned below. 68→122 when
    // x_clustering_coeff joined the sweep: it sorts earlier and its
    // eager wedge guard materializes the projected artifact first, so
    // the recs plan prints the cached build's lineage per consumer
    // (execution unchanged — the executed pin below still holds at 5)
    "x_copurchase_recs" -> 126,
    // skyline: survivors are localCheckpoint'd after the broadcast
    // bucket-prefix prune; the residual same-bucket joins broadcast at
    // this sf — zero printable exchanges in the returned plan
    "x_skyline" -> 0,
    // hits: iteration supersteps hide behind per-vector checkpoints (the
    // kCore discipline); the returned plan is the final hub⋈auth full
    // join over two materialized vectors. landmarks reads the memoized
    // BFS relation raw (checkpointed rounds — zero printable exchanges);
    // closeness pays the one (node_type, node_id) agg over it.
    // x_hits' 4 = the final full-outer's 2 + the LAST two renorms'
    // single-ROW mass-total aggs (r17: the totals ride as 1-row
    // broadcasts above the lazy checkpoints instead of driver scalars,
    // so exactly two of those aggs print in the output plan; each
    // exchange carries ≤ nPartitions partial-agg rows)
    "x_hits" -> 4, "x_landmarks" -> 0, "x_closeness" -> 1,
    // keep-best: the closure hides behind the star loop's checkpoints
    // (x_dedup_clusters prints 0 the same way); the printable exchanges
    // are the quality join + per-class top-1 window and the class-size
    // rollup sharing the cluster key
    "x_dedup_keep_best" -> 6 /* +4 r16 */,
    // rules delta: the three stored base relations' build lineage PRINTS
    // under the merge aggs and both marginal branches (InMemoryRelations
    // at execution — the x_pagerank_delta inflation); executed stages
    // pinned below
    "x_basket_rules_delta" -> 36,
    // LPA rounds are checkpointed (the BFS discipline) — the returned
    // plan is a select over the final materialized label relation
    "x_lpa_communities" -> 0,
    // hard negatives: the broadcast-bounded exact scan + two-phase rank
    // (the x_knn_filtered shape with the label predicate in the join);
    // the ANN path probes the IVF cells map-only, leaving the cell
    // equi-join + the same rank pair
    "x_hard_negatives" -> 2, "x_hard_negatives_ann" -> 2,
    // coefficient/modularity: the projected-edge artifact's build
    // lineage PRINTS once per consumer (degree branch + wedge sides;
    // labels + three profile branches) — the x_copurchase_recs
    // inflation; executed stages pinned below
    "x_clustering_coeff" -> 118, "x_modularity" -> 173,
    // assortativity/link prediction: same artifact-lineage inflation
    // (sym scanned by the wedge sides + degree branch — 451 printed
    // exchanges vs 7 EXECUTED stages, pinned below)
    "x_assortativity" -> 83, "x_link_prediction" -> 451,
    // conductance: labels + degree + the two-sided boundary join print
    // the shared projection/LPA artifact lineage per consumer (the
    // x_modularity inflation, one more label-join branch); executed
    // stages pinned below
    "x_conductance" -> 231,
    // rich club: the projected-artifact lineage prints under the degree
    // branch and BOTH induced-edge join sides (the link-prediction
    // inflation shape); executed stages pinned below
    "x_rich_club" -> 397,
    // walks are checkpointed per step — the returned plan is a union of
    // materialized step relations (zero printable exchanges, both walk
    // forms); the pair relation pays the walk self-join + the (center,
    // context) agg
    "x_random_walks" -> 0, "x_node2vec_walks" -> 0, "x_walk_pairs" -> 5,
    // delta refresh: stored walks × changed-vertex flag join + the
    // keep anti-join; the redo loop's steps are checkpointed away
    "x_walks_delta" -> 2,
    // double sweep: both BFS loops and their argmax picks run eagerly
    // behind checkpoints — the returned plan is a 1-row local relation
    "x_diameter" -> 0,
    // Gopher rules: the memoized term-count lineage + the one stats agg
    "x_quality_gopher" -> 2 /* -2 r16 */,
    // PPMI: the memoized pair relation's self-join lineage prints under
    // each marginal branch + the lift join pair + TakeOrdered
    "x_walk_ppmi" -> 20,
    // DSIR: memoized gram relations (uni+bi) + the bucket feature agg +
    // model agg + scoring join/agg + TakeOrdered — the count-relation
    // lineage prints once per consumer branch
    "x_dsir_select" -> 29 /* -4 r16 */,
    // MG: per-shard histogram agg + the two bounded rank windows + merge
    // and exact aggs + the final join
    "x_sketch_mg" -> 14,
    // fertility: the memoized segment relation's lineage + lang join +
    // one bounded agg; +3 in r16 via the shared-termCounts print
    "x_tokenizer_fertility" -> 7,
  )

  /** a node line whose name starts with "Exchange " is a shuffle;
    * BroadcastExchange / ReusedExchange node names do not match */
  private def shuffles(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.executedPlan.toString.linesIterator.count { l =>
      l.dropWhile(c => !c.isLetter).startsWith("Exchange ")
    }

  test("the shuffle counter sees a deliberate extra repartition") {
    val base = spark.range(100).toDF("id").groupBy("id").count()
    assert(shuffles(base.repartition(4)) == shuffles(base) + 1,
      "an injected repartition must raise the counted shuffle number")
  }

  /** EXECUTED (post-AQE) shuffle-stage budgets for the three queries
    * whose print-level budgets are inflated by shared InMemoryRelation
    * lineage (cached lineage prints once per CONSUMER, so their print
    * budgets are 14-43): a real extra exchange could hide inside that
    * slack, so these pin the number of DISTINCT shuffle stages the final
    * adaptive plan actually materialized — measured on the same fresh
    * memo state as the print budgets. SCALE.md documents the per-family
    * stage shapes these numbers witness. */
  private val executedStageBudget: Map[String, Int] = Map(
    // j4: 7 measured; +1 absorbs the timing-dependent ReusedExchange
    // stage AQE sometimes materializes for the shared node-table lineage
    // (observed 7-or-8 run-to-run on an identical plan — the
    // x_pagerank_delta jitter); a genuinely new shuffle costs 2+ stages
    // and still trips it
    "j4_subtree_counts" -> 8,
    // p10: j4 fills the shared node cache earlier in the sweep, so the
    // has_child hit set is collected driver-local and its jobs run
    // outside this plan; the renest plans no exchange of its own, and the
    // 2 are printed inside its cached relations' plans (the documents'
    // assembly, the node cache's __rootKey repartition)
    "p10_search_renest" -> 2,
    // pagerank: edge-artifact build + degree agg + (join, agg) per
    // iteration at 3 iterations — 2·iters + setup
    "x_mv_incremental" -> 12, "x_pagerank" -> 9,
    // the two delta refreshers: stored-prior lineage prints per consumer
    // (print budgets 30/68), so pin their EXECUTED stages too. The
    // pagerank refresh occasionally materializes one ReusedExchange of
    // the shared edge artifact as its own stage (timing-dependent AQE
    // reuse — observed 10 or 11 run-to-run on an identical plan), so its
    // pin allows that one-stage jitter; a genuinely new shuffle in the
    // refresh chain costs 2+ stages and still trips it
    "x_cc_delta" -> 10, "x_pagerank_delta" -> 11,
    // r15 print-level outliers (print budgets 22-68 from shared artifact
    // lineage): ppr = edge-artifact build + seed semi/count + 2 stages
    // per iteration × 3; recs = projection reuse + vote join + anti-join
    // + rank; rules = distinct + gate + pair agg + marginals
    // recs: 5 measured standalone; +1 absorbs the timing-dependent
    // ReusedExchange stage of the shared projected artifact that appears
    // when x_clustering_coeff's eager guard materializes it earlier in
    // the full-suite sweep (the j4/x_pagerank_delta jitter precedent)
    "x_ppr" -> 11, "x_copurchase_recs" -> 6, "x_basket_rules" -> 8,
    // rules delta: base index builds (kept distinct + 3 aggs + pair
    // expansion) + delta expansion + two merge aggs + marginal joins;
    // +1 over the 16 measured allows the timing-dependent ReusedExchange
    // stage AQE sometimes materializes (the x_pagerank_delta precedent)
    "x_basket_rules_delta" -> 17,
    // r15 community/coefficient additions (print budgets 114/167 from
    // the shared projected-artifact lineage): coefficient = artifact
    // build + degree agg + endpoint-degree joins + corner explode agg +
    // final join (8 measured); modularity = artifact + LPA label joins
    // + the three profile aggs (7 measured); +1 jitter each
    "x_clustering_coeff" -> 9, "x_modularity" -> 8,
    // assortativity: artifact + degree agg + 2 endpoint joins + final
    // agg (7 measured); link prediction: artifact + degree agg + wedge
    // join pair + anti-join + score agg + rank (7 measured); +1 jitter
    "x_assortativity" -> 8, "x_link_prediction" -> 8,
    // conductance (print budget 231 from the shared projection/LPA
    // lineage): artifact + degree agg + volume agg + the two-sided
    // boundary label joins + cut agg + final join (6 measured); +1 jitter
    "x_conductance" -> 7,
    // rich club (print budget 397, same artifact-lineage inflation):
    // artifact + degree agg + ladder-rich filter + the two induced-edge
    // joins + nk/ek aggs + final join
    "x_rich_club" -> 9)

  /** Distinct shuffle stages of THIS query execution's final adaptive
    * plan. `collect()` (not `count()`) executes the df's own
    * QueryExecution, so the inspected plan is the one that ran
    * (isFinalPlan=true); reused stages share an id and count once. */
  private def executedShuffleStages(df: org.apache.spark.sql.DataFrame): Int = {
    df.collect()
    val s = df.queryExecution.executedPlan.toString
    raw"ShuffleQueryStage (\d+)".r.findAllMatchIn(s).map(_.group(1)).toSet.size
  }

  test("executed-stage budgets hold for the print-level outliers") {
    Caches.invalidate(spark)
    // memos from OTHER sessions (suites that ran spark.newSession) live
    // in the context-wide CacheManager and would be substituted into
    // this session's plans as InMemoryRelations, changing stage counts
    // run-to-run; clear the shared cache so the measured state is the
    // same fresh one ShowShuffles measures
    spark.catalog.clearCache()
    val over = executedStageBudget.toSeq.sortBy(_._1).flatMap { case (n, budget) =>
      val c = executedShuffleStages(SparkEntry.queries(n)(spark, sf))
      info(s"$n: $c executed shuffle stages (budget $budget)")
      if (c > budget) Some(s"$n: $c executed shuffle stages > budget $budget")
      else None
    }
    assert(over.isEmpty, over.mkString("\n"))
  }

  test("every query's plan stays within its shuffle budget") {
    // start from a clean memo state: printed lineage inside shared
    // artifacts depends on which memo entries already exist, so the sweep
    // pins the SAME deterministic fresh-session-sorted-order plans that
    // graft.tools.ShowShuffles measures (memos rebuild transparently).
    // clearCache additionally drops OTHER sessions' cached relations —
    // the context-wide CacheManager substitutes those into this
    // session's plans too, and which suites ran first must not move the
    // printed counts
    Caches.invalidate(spark)
    spark.catalog.clearCache()
    val counts = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      name -> shuffles(fn(spark, sf))
    }
    val unbudgeted = counts.collect { case (n, _) if !shuffleBudget.contains(n) => n }
    assert(unbudgeted.isEmpty,
      s"queries with no shuffle budget (add one consciously, via " +
        s"graft.tools.ShowShuffles): $unbudgeted")
    val over = counts.collect {
      case (n, c) if c > shuffleBudget(n) => s"$n: $c shuffles > budget ${shuffleBudget(n)}"
    }
    assert(over.isEmpty, over.mkString("\n"))
  }
}
