package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session-scoped memo of PERSISTED derived relations, keyed by
  * (session, canonicalized input plan, tag) — the shared-artifact pattern
  * every operator family uses (shingle/signature tables, text count
  * relations, LM models, PQ code tables): build once per distinct input,
  * persist, hand every structurally-equal caller the same instance, and
  * re-persist transparently if something (e.g. `clearCache`) dropped the
  * entry. At 100 TB these are stored tables derived once per corpus
  * version; locally they are cache entries with an explicit release
  * valve.
  *
  * Every instance self-registers, so [[graft.Caches.invalidate]] sweeps
  * ALL memos through [[PlanMemo.invalidateAll]] — a new memo cannot be
  * forgotten from the sweep (the failure mode that left round-10's
  * Similarity memo untracked until review). Owners needing cross-memo
  * atomicity under one monitor (Dedup's two-step signature build) keep
  * their own maps and locks instead.
  */
final class PlanMemo {
  private val entries = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, String),
    DataFrame]()

  /** Memoize `build`'s relation for (input plan, tag); persists on first
    * use and re-persists if evicted. `build` must be pure plan
    * construction — an eager action inside would run under this memo's
    * monitor and stall every other caller. (The [[ArtifactStore]] disk
    * layer DOES run an eager parquet write/read under the monitor on a
    * memory miss — acceptable for this engine's sequential drivers, and
    * disabled in the test suite where suites share one session.)
    *
    * Disk layer: a memory miss first consults [[ArtifactStore]] under a
    * (tag, input plan, input files) content key — a fresh JVM faults the
    * stored artifact in from parquet instead of re-deriving it, and a
    * first build commits its result and holds the committed parquet read,
    * the same frame the next JVM faults in (so what is persisted here is
    * a scan of the stored relation, not its derivation). */
  def apply(input: DataFrame, tag: String)(build: => DataFrame): DataFrame =
    synchronized {
      val key = (input.sparkSession, input.queryExecution.analyzed.canonicalized, tag)
      val df = entries.computeIfAbsent(key, _ =>
        ArtifactStore.getOrBuildDf(input.sparkSession,
          ArtifactStore.dfKey(tag, Seq(input)))(build))
      if (df.storageLevel == org.apache.spark.storage.StorageLevel.NONE) df.persist()
      df
    }

  /** Drop this session's entries (cache entries included). */
  def invalidate(spark: SparkSession): Unit = synchronized {
    val it = entries.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getKey._1 eq spark) { e.getValue.unpersist(); it.remove() }
    }
  }

  // registration is the LAST constructor statement: the registry's
  // CopyOnWriteArrayList lock publishes the fully-initialized instance
  // (happens-before for sweep threads) — registering before `entries`
  // was assigned let a concurrent invalidateAll NPE on the null field
  PlanMemo.register(this)
}

object PlanMemo {
  private val registry = new java.util.concurrent.CopyOnWriteArrayList[PlanMemo]()
  private def register(m: PlanMemo): Unit = registry.add(m)

  /** Sweep every registered memo for this session — called by
    * [[Caches.invalidate]]. */
  def invalidateAll(spark: SparkSession): Unit = {
    val it = registry.iterator()
    while (it.hasNext) it.next().invalidate(spark)
  }

  /** Collision-proof multi-part tag: each part is length-prefixed, so a
    * delimiter occurring INSIDE a part (legal in Spark column names)
    * cannot alias two distinct part lists onto one tag. */
  def tag(parts: Any*): String =
    parts.map { p => val s = String.valueOf(p); s"${s.length}:$s" }.mkString("|")
}
