package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Disk layer under the shared-artifact memos: derived relations
  * (shingle/signature/gram tables, postings, shredded node tables,
  * assembled documents) and learned models (IVF centroids, PQ codebooks,
  * BPE merges, unigram vocabularies) persist as parquet / serialized
  * blobs under a CORPUS-VERSION KEY, so a fresh JVM faults them in from
  * storage instead of re-deriving them from the corpus. This is the
  * local stand-in for the stored-index contract SCALE.md claims: at
  * 100 TB these are tables beside the corpus, written once per corpus
  * version and read by every workload; locally they live under a temp
  * root and cut the cold-start cost of every query that shares an
  * artifact.
  *
  * Keying — what makes a stale read impossible:
  *  - the memo TAG (operator + parameters, length-prefixed collision-proof
  *    via [[PlanMemo.tag]]);
  *  - the CANONICALIZED logical plan string + JVM-stable semantic hash
  *    ([[planHash]]) of every input relation (captures schema,
  *    expressions, literals, paths);
  *  - a FINGERPRINT of every underlying file: path, length, modification
  *    time — a regenerated fixture at the same path changes the key.
  *    CAVEAT: mtime resolution is filesystem-dependent (1 s on ext3/
  *    HFS+, 100 ns on ext4/XFS/APFS); a fixture regenerated to the SAME
  *    byte length within the same mtime tick would keep its key. That
  *    window is practically unreachable for parquet regens (row-group
  *    ordering, compression and encoder state make same-length output
  *    vanishingly rare, and this engine's fixtures regen between JVMs,
  *    not within a tick) — a deployment on a coarse-mtime filesystem
  *    that rewrites fixtures in place should add a content etag to the
  *    fingerprint instead;
  *  - a code-version salt, bumped when a memoized builder's semantics
  *    change in a way the output plan key cannot see.
  *
  * Writes are atomic (write to a tmp dir/file, rename into place); a
  * concurrent identical writer loses the rename and adopts the winner's
  * artifact — safe because keys are content-derived and builders are
  * deterministic. Failures (unserializable model, unwritable dir) degrade
  * to memory-only memoization, never to an error.
  *
  * Disabled under `-Dgraft.disk.memo=0` (or env `GRAFT_DISK_MEMO=0`);
  * the test suite pins it OFF globally so plan-shape assertions stay
  * deterministic, and ArtifactStoreSpec re-enables it locally. */
object ArtifactStore {

  /** Bump when a memoized builder changes semantics invisibly to the key. */
  private val CodeSalt = "graft-artifacts-v1"

  def enabled: Boolean =
    System.getProperty("graft.disk.memo",
      sys.env.getOrElse("GRAFT_DISK_MEMO", "1")) != "0"

  /** Store failures that silently degraded to memory-only memoization
    * (unwritable dir, torn commit, unreadable artifact, unserializable
    * model). Degrading is the right production behavior — the build is
    * always correct — but a degraded BENCH run re-pays derivations the
    * record claims are stored, so Bench stamps this next to
    * `evicted_blocks` (the [[graft.sources.Lake.degradeEvents]]
    * contract: degrade loudly, machine-checkably). */
  val degradeEvents = new java.util.concurrent.atomic.AtomicLong

  private def root: java.nio.file.Path =
    java.nio.file.Paths.get(System.getProperty("graft.artifacts.dir",
      sys.env.getOrElse("GRAFT_ARTIFACT_DIR",
        s"${System.getProperty("java.io.tmpdir")}/graft_artifacts")))

  // ---- retention ------------------------------------------------------
  // Content keys mean a corpus-version bump ORPHANS every old artifact
  // (nothing ever asks for the old key again); without retention the
  // store grows monotonically across fixture regens / code-salt bumps.
  // Policy: reads touch their entry's mtime (LRU clock), and a sweep —
  // run once per JVM before the first store access — deletes (1) torn
  // `_tmp_*` leftovers from crashed writers older than one hour, (2)
  // committed entries older than the TTL, then (3) oldest entries first
  // until the store fits the size cap. Eviction is only ever a cache
  // miss: the next request rebuilds and recommits. Deleting an entry a
  // concurrent reader has open is a non-issue for this engine's
  // sequential drivers; a shared cluster store would gate the sweep on
  // a coordinator lease instead.

  private def propMillis(prop: String, defaultMillis: Long): Long =
    try System.getProperty(prop, defaultMillis.toString).toLong
    catch { case _: NumberFormatException => defaultMillis }

  private[graft] def ttlMillis: Long =
    propMillis("graft.artifacts.ttl.ms", 7L * 24 * 3600 * 1000)
  private[graft] def maxBytes: Long =
    propMillis("graft.artifacts.max.bytes", 8L * 1024 * 1024 * 1024)

  private val sweptOnce = new java.util.concurrent.atomic.AtomicBoolean(false)

  private def entrySize(p: java.nio.file.Path): Long = {
    import scala.jdk.CollectionConverters._
    if (java.nio.file.Files.isDirectory(p))
      java.nio.file.Files.walk(p).iterator().asScala
        .filter(java.nio.file.Files.isRegularFile(_))
        .map(f => try java.nio.file.Files.size(f) catch { case _: Exception => 0L })
        .sum
    else try java.nio.file.Files.size(p) catch { case _: Exception => 0L }
  }

  private def deleteEntry(p: java.nio.file.Path): Unit =
    try {
      if (java.nio.file.Files.isDirectory(p))
        org.apache.commons.io.FileUtils.deleteQuietly(p.toFile)
      else java.nio.file.Files.deleteIfExists(p)
    } catch { case _: Exception => () }

  /** LRU touch: a served artifact is recent, whatever its commit time. */
  private def touch(p: java.nio.file.Path): Unit =
    try java.nio.file.Files.setLastModifiedTime(p,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis()))
    catch { case _: Exception => () }

  /** Apply the retention policy now (also called lazily, once per JVM).
    * Safe on a missing/empty root; every IO failure degrades to keeping
    * the entry. */
  def sweep(ttlMs: Long = ttlMillis, capBytes: Long = maxBytes): Unit = {
    import scala.jdk.CollectionConverters._
    val r = root
    if (!java.nio.file.Files.isDirectory(r)) return
    val now = System.currentTimeMillis()
    val entries = java.nio.file.Files.list(r).iterator().asScala.toList
    def mtime(p: java.nio.file.Path): Long =
      try java.nio.file.Files.getLastModifiedTime(p).toMillis
      catch { case _: Exception => 0L }
    val (tmps, committed) = entries.partition(_.getFileName.toString.startsWith("_tmp_"))
    tmps.filter(now - mtime(_) > 3600 * 1000L).foreach(deleteEntry)
    val (expired, live) = committed.partition(now - mtime(_) > ttlMs)
    expired.foreach(deleteEntry)
    val sized = live.map(p => (p, entrySize(p), mtime(p))).sortBy(_._3) // oldest first
    var excess = sized.map(_._2).sum - capBytes
    sized.iterator.takeWhile(_ => excess > 0).foreach { case (p, sz, _) =>
      deleteEntry(p); excess -= sz
    }
  }

  private def sweepIfFirst(): Unit =
    if (sweptOnce.compareAndSet(false, true))
      try sweep() catch { case _: Exception => () }

  // ---- chain-stable keying --------------------------------------------
  // A derived artifact's input is often ITSELF an artifact. Every session
  // holds it in one form, the parquet read of its committed entry (see
  // getOrBuildDf), but hashing that read's plan and file stats would tie
  // the downstream key to one commit's part files: an upstream entry
  // evicted or self-healed and recommitted would re-key, and so rebuild,
  // every artifact chained on it (kmvItems over the shingle table,
  // signature tables over shingles). The registry below maps a served
  // artifact's canonical plan to its CONTENT KEY; dfKey substitutes
  // `artifact:<key>` for any registered input, so the downstream key
  // names the upstream content, not its files. Only served reads are
  // registered, never a memo's input, so a SELF-memoized artifact (memo
  // input == build output, the co-purchase edge table) re-resolves the
  // same key after a cache sweep. Entries are validated against the
  // input's current leaf-file stats before use, so an in-place rewrite
  // within one JVM cannot serve a stale chain key.
  private val artifactKeys = new java.util.concurrent.ConcurrentHashMap[
    org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
    (String, String)]() // canonical plan -> (content key, leaf fingerprint)

  /** Sorted `path|len|mtime` stats of every file under the plan's leaf
    * relations — the freshness component of every content key. Throws on
    * a stat failure (callers catch and decline to key). */
  private def leafStats(df: DataFrame): Seq[String] = {
    val plan = df.queryExecution.analyzed
    val conf = df.sparkSession.sessionState.newHadoopConf()
    val files = plan.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.location.inputFiles.toSeq
          case _ => Seq.empty[String]
        }
    }.flatten.sorted
    files.map { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      val st = p.getFileSystem(conf).getFileStatus(p)
      s"$f|${st.getLen}|${st.getModificationTime}"
    }
  }

  private def fingerprint(stats: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    stats.foreach(s => { md.update(s.getBytes("UTF-8")); md.update(0.toByte) })
    md.digest().map("%02x".format(_)).mkString
  }

  /** Record that `df` IS the artifact committed/served under `key`, so
    * downstream dfKey calls can key on the artifact's identity instead
    * of whichever plan form this session happens to hold. Failures (a
    * vanished file mid-stat) simply skip registration — downstream keys
    * then fall back to plan hashing, which is correct, just not
    * chain-stable. */
  private def register(df: DataFrame, key: String): Unit =
    try artifactKeys.put(df.queryExecution.analyzed.canonicalized,
      (key, fingerprint(leafStats(df))))
    catch { case _: Exception => () }

  /** Catalyst's semantic hash of a canonical plan, minus the parts that
    * hash a `Class` object, whose identity hash differs from JVM to JVM
    * (a fresh JVM then misses every entry an earlier one committed): a
    * file scan hashes its FileFormat, which ParquetFileFormat does as
    * `getClass.hashCode`, and canonicalization folds And/Or/Add chains
    * into a `MultiCommutativeOp` holding the operator's Class. File scans
    * are hashed here by what defines their rows instead (output, root
    * paths, schemas, bucketing, options, format class name; their files'
    * stats are a separate key part), and a folded chain by its operator's
    * class name, eval context and operands. */
  private def planHash(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): String = {
    import org.apache.spark.sql.catalyst.expressions.{CreateArray, Literal, MultiCommutativeOp}
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val scans = plan.collect { case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
      Seq(fs.location.rootPaths.mkString(","), fs.dataSchema.json, fs.partitionSchema.json,
        fs.bucketSpec, fs.options, fs.fileFormat.getClass.getName).mkString("|")
    }
    val stable = plan.transform { case lr @ LogicalRelation(_: HadoopFsRelation, _, _, _, _) =>
      org.apache.spark.sql.catalyst.plans.logical.LocalRelation(lr.output)
    }.transformAllExpressions { case m: MultiCommutativeOp =>
      CreateArray(Literal(s"${m.opCls.getName}|${m.evalContext}") +: m.operands)
    }
    (stable.hashCode +: scans).mkString("\n")
  }

  /** Content key for a derived relation: tag + per input either the
    * input's own ARTIFACT key (chain-stable, see [[artifactKeys]]) or
    * its canonical plan + underlying-file stats. Returns None when any
    * input's files cannot be statted (a vanished scratch dir) — no disk
    * entry then. */
  def dfKey(tag: String, inputs: Seq[DataFrame]): Option[String] = {
    // disabled store: skip the whole canonicalize+stat+MD5 pass — every
    // memo miss in the (store-off) test suite would otherwise pay it
    // just for getOrBuildDf/getOrTrain to discard the key
    if (!enabled) return None
    val md = java.security.MessageDigest.getInstance("MD5")
    def upd(s: String): Unit = { md.update(s.getBytes("UTF-8")); md.update(0.toByte) }
    upd(CodeSalt); upd(tag)
    try {
      inputs.foreach { df =>
        val stats = leafStats(df)
        val plan = df.queryExecution.analyzed.canonicalized
        artifactKeys.get(plan) match {
          case (k, fp) if fp == fingerprint(stats) => upd(s"artifact:$k")
          case _ =>
            upd(plan.toString)
            upd(planHash(plan))
            stats.foreach(upd)
        }
      }
      Some(md.digest().map("%02x".format(_)).mkString)
    } catch { case _: Exception => None }
  }

  /** Load the relation for `key` if a committed artifact exists, else
    * build it, commit it, and serve the committed entry. Either way the
    * caller gets ONE plan form: a parquet read of `df_<key>`, the frame a
    * fresh JVM faults in. So the builder's plan executes once (for the
    * parquet write), and every relation over the artifact (caches, point
    * reads, searches) plans over a single scan leaf instead of the whole
    * derivation. The builder's own frame comes back only when the commit
    * or the read-back fails, counted in [[degradeEvents]]. */
  def getOrBuildDf(spark: SparkSession, key: Option[String])
                  (build: => DataFrame): DataFrame =
    key.filter(_ => enabled) match {
      case None => build
      case Some(k) =>
        sweepIfFirst()
        val dir = root.resolve(s"df_$k")
        // touch only AFTER the read validates (the schema/footer pass
        // runs eagerly here): touching first would TTL-refresh a corrupt
        // entry on every attempt, making it immortal
        def serve(): DataFrame = {
          val df = spark.read.parquet(dir.toString)
          touch(dir); register(df, k); df
        }
        if (java.nio.file.Files.exists(dir.resolve("_SUCCESS")))
          try return serve()
          catch { case _: Exception =>
            // unreadable artifact: remove it so the rebuild's atomic
            // rename can land — leaving it would fail every future
            // commit (target exists) and re-pay the build per JVM forever
            degradeEvents.incrementAndGet()
            deleteEntry(dir)
          }
        val built = build
        try {
          val tmp = root.resolve(s"_tmp_df_${k}_${java.util.UUID.randomUUID()}")
          java.nio.file.Files.createDirectories(root)
          built.write.mode("overwrite").parquet(tmp.toString)
          try java.nio.file.Files.move(tmp, dir,
            java.nio.file.StandardCopyOption.ATOMIC_MOVE)
          catch { case _: Exception => // lost the race or target exists: adopt
            org.apache.commons.io.FileUtils.deleteQuietly(tmp.toFile); ()
          }
          serve()
        } catch { case _: Exception => degradeEvents.incrementAndGet(); built }
    }

  /** Model (driver-metadata) variant: java-serialized blob per key. */
  def getOrTrain[T <: AnyRef](key: Option[String])(train: => T): T =
    key.filter(_ => enabled) match {
      case None => train
      case Some(k) =>
        sweepIfFirst()
        val f = root.resolve(s"model_$k.bin")
        if (java.nio.file.Files.exists(f)) {
          try {
            val in = new java.io.ObjectInputStream(
              java.nio.file.Files.newInputStream(f))
            try { val m = in.readObject().asInstanceOf[T]; touch(f); return m }
            finally in.close()
          } catch { case _: Exception => () } // unreadable/stale class: retrain
        }
        val trained = train
        try {
          java.nio.file.Files.createDirectories(root)
          val tmp = root.resolve(s"_tmp_model_${k}_${java.util.UUID.randomUUID()}.bin")
          val out = new java.io.ObjectOutputStream(
            java.nio.file.Files.newOutputStream(tmp))
          try out.writeObject(trained) finally out.close()
          try java.nio.file.Files.move(tmp, f,
            java.nio.file.StandardCopyOption.ATOMIC_MOVE)
          catch { case _: Exception =>
            java.nio.file.Files.deleteIfExists(tmp); ()
          }
        } catch { case _: Exception => degradeEvents.incrementAndGet() }
        trained
    }
}
