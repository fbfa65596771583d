package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Cluster-safe reuse primitives for expensive shared subtrees (the
  * near-dup pair graph, minhash signatures, IVF assignments, the CC
  * fixpoint rounds).
  *
  * Until round 11 these subtrees were reused via
  * `localCheckpoint(false)`. That truncates lineage AND stores the
  * blocks unreplicated on executors: on a real cluster a single lost
  * executor (preemption, OOM-kill, dynamic deallocation — the Spark
  * docs warn about exactly this) fails every consumer of the subtree
  * with no recompute path. Invisible at local[32]; the top remaining
  * scale risk at 1000 executors. Round-12 hardening replaces it with
  * two primitives, chosen by whether the lineage must actually be cut:
  *
  *  - [[cache]]: `persist(MEMORY_AND_DISK)` — the same lazy
  *    materialize-once reuse, but lineage is RETAINED, so a block lost
  *    with its executor is recomputed from source instead of killing
  *    the query. MEMORY_AND_DISK (not MEMORY_ONLY) so an executor
  *    under memory pressure spills rather than silently dropping
  *    blocks and re-running the Σdf² mining join per consumer.
  *  - [[checkpointReliable]]: eager `Dataset.checkpoint()` to a real
  *    filesystem for ITERATIVE loops whose plan would otherwise grow
  *    per round (the connected-components fixpoint). Unlike
  *    localCheckpoint the files live on replicated storage — locally a
  *    scratch dir wiped on JVM exit; on a cluster the durable path the
  *    deployment sets via `-D`[[checkpointDirProp]] (HDFS/S3), which
  *    survives any executor loss.
  *
  * Checkpoint files of superseded fixpoint rounds accumulate until JVM
  * exit (Spark only reclaims them under
  * `spark.cleaner.referenceTracking.cleanCheckpoints`, a
  * startup-time conf): bounded at ~maxRounds × |labels| of id-pair
  * rows in scratch, and the label table is ids-only — acceptable
  * against the alternative of an unrecoverable 50-round lineage. */
object Reuse {

  /** System property a deployment sets to point reliable checkpoints
    * at durable storage (e.g. an HDFS/S3 path). Defaults to a per-JVM
    * temp scratch dir registered for deletion on exit. */
  val checkpointDirProp = "graft.checkpoint.dir"

  /** Lazy, lineage-retaining reuse of a shared subtree.
    *
    * ONLY for plans rooted at paths that are unique per build (index
    * scratch dirs, replay outputs): Spark's CacheManager matches cached
    * entries by CANONICAL PLAN, and `InMemoryFileIndex` equality is by
    * root path — so persisting a plan rooted at a SHARED fixture dir
    * makes every later identically-shaped plan (including a rebuild
    * after the fixture was rewritten in place) silently read the old
    * blocks. Fixture-rooted subtrees go through [[cacheFresh]]. */
  def cache(df: DataFrame): DataFrame =
    df.persist(StorageLevel.MEMORY_AND_DISK)

  private val freshEpoch = new java.util.concurrent.atomic.AtomicLong(0L)
  private val freshReg =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()
  private val freshBuilds = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.atomic.AtomicLong]()
  private[queries] val epochCol = "__graft_cache_epoch"

  /** [[cache]] for subtrees rooted at SHARED (fixture) paths: persist
    * for within-build reuse, with two guarantees a bare persist cannot
    * give there (r12 review):
    *
    *  1. NO cross-build cache hits. A unique epoch literal inside the
    *     persisted plan makes each build's canonical plan distinct, so
    *     CacheManager can never substitute a PREVIOUS build's blocks
    *     into a new plan — which it otherwise would, both serving
    *     STALE data after an in-session fixture rewrite (the
    *     SessionMemo fingerprint rebuild builds the same canonical
    *     plan and would silently hit the old entry) and AMORTIZING
    *     deliberately un-memoized bench entries (minhash signatures,
    *     the shingle inverted index) whose floors must reflect real
    *     mining cost.
    *  2. Bounded cache growth: the previous build's entry for the same
    *     `site` is unpersisted when a new one registers, so per-build
    *     persists don't accumulate for the JVM's life.
    *
    * The epoch column is dropped from the returned frame; consumers
    * see the original schema, and the cached node (inside the
    * projection) is still matched for reuse WITHIN the build. */
  def cacheFresh(site: String, df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val marked = df.withColumn(epochCol, lit(freshEpoch.incrementAndGet()))
    marked.persist(StorageLevel.MEMORY_AND_DISK)
    val prev = freshReg.put(site, marked)
    if (prev != null) prev.unpersist(blocking = false)
    freshBuilds.computeIfAbsent(site, _ => new java.util.concurrent.atomic.AtomicLong)
      .incrementAndGet()
    marked.drop(epochCol)
  }

  /** How many [[cacheFresh]] builds `site` has registered in this JVM:
    * each one is a separate computation of the subtree, so a shared
    * subtree that is meant to be built once per job can be counted. */
  private[graft] def freshBuildsOf(site: String): Long =
    Option(freshBuilds.get(site)).fold(0L)(_.get)

  /** Drop the cached blocks currently registered for `site` (test /
    * memory-pressure hook). Frames built from them stay valid —
    * lineage is retained, so consumers recompute from source. */
  def unpersistSite(site: String, blocking: Boolean = true): Unit = {
    val d = freshReg.get(site)
    if (d != null) d.unpersist(blocking)
  }

  /** Eager reliable checkpoint: cuts lineage by writing to the
    * checkpoint filesystem (NOT executor-local blocks). */
  def checkpointReliable(df: DataFrame): DataFrame = {
    ensureCheckpointDir(df.sparkSession)
    df.checkpoint()
  }

  /** Idempotently give the SparkContext a checkpoint dir: the
    * `-D`[[checkpointDirProp]] override if set, else a fresh temp
    * scratch dir (deleted on JVM exit). A dir already set on the
    * context (e.g. by the hosting application) is respected. */
  def ensureCheckpointDir(s: SparkSession): Unit = synchronized {
    val sc = s.sparkContext
    if (sc.getCheckpointDir.isEmpty) {
      val root = sys.props.get(checkpointDirProp).getOrElse {
        val p = java.nio.file.Files.createTempDirectory("graft_ckpt_")
        deleteOnExit(p)
        p.toString
      }
      sc.setCheckpointDir(root)
    }
  }

  /** Recursive delete-on-exit for scratch trees (deepest-first). */
  // ONE static shutdown hook draining a concurrent queue — a bench run
  // registers a scratch dir per streaming-entry replay, and a
  // hook-thread per call would accumulate in ApplicationShutdownHooks
  // for the JVM's life (r12 review).
  private val exitPaths =
    new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()
  private lazy val exitHookInstalled: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      var p = exitPaths.poll()
      while (p != null) {
        try {
          val walk = java.nio.file.Files.walk(p)
          try
            walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
              .forEach(f => { java.nio.file.Files.deleteIfExists(f); () })
          finally walk.close()
        } catch { case _: Exception => () }
        p = exitPaths.poll()
      }
    }))

  def deleteOnExit(p: java.nio.file.Path): Unit = {
    exitHookInstalled
    exitPaths.add(p)
    ()
  }
}
