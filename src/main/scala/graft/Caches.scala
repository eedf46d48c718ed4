package graft

import org.apache.spark.sql.SparkSession

/** One sweep over every shared-artifact memo for `spark`: every
  * [[graft.PlanMemo]] relation and [[graft.ModelMemo]] model (through
  * their registries), then the hand-rolled memos of [[graft.ext.Dedup]]
  * (shingle/signature/candidate tables), [[graft.ext.InvertedIndex]]
  * (posting relations), [[graft.ext.Curation]] (Bloom bitmaps),
  * [[graft.operators.Shred]] (node tables), [[graft.sources.StarDocs]]
  * (assembled documents) and [[graft.sources.Tables]] (legacy-events
  * checkpoints). It unpersists the cache entries and drops the memo keys.
  * Call on session teardown — the memos otherwise hold strong references
  * to DataFrames and their session forever, which is fine for a batch job
  * but leaks in a long-lived multi-tenant JVM. */
object Caches {
  def invalidate(spark: SparkSession): Unit = {
    // every PlanMemo-backed relation memo and ModelMemo-backed learned
    // model sweeps through its registry — new memos are covered
    // automatically, no per-object wiring
    graft.PlanMemo.invalidateAll(spark)
    graft.ModelMemo.invalidateAll(spark)
    graft.ext.Dedup.invalidate(spark)
    graft.ext.InvertedIndex.invalidate(spark)
    graft.ext.Curation.invalidate(spark)
    graft.operators.Shred.invalidate(spark)
    graft.sources.StarDocs.invalidate(spark)
    graft.sources.Tables.invalidate(spark)
  }
}
