package graft.queries

import org.apache.spark.sql.SparkSession

/** One shared fitted artifact (the pair graph, the CC labels, an ANN
  * index, SemDeDup, keep-bloom, the BPE model, the LSH calibration),
  * declared ONCE where it is defined. The declaration carries
  * everything the rest of the program needs to know about it:
  *
  *  - `name` (snake_case): the [[MemoTrack]] readership label, and the
  *    bench line `fit_<name>` that times its cold build. Snake_case is
  *    load-bearing: every floor parser (bench_to_baseline.py, Bench's
  *    rescue gates) matches table rows with `[a-z0-9_]+`;
  *  - `scope`: the shuffle width its jobs run at (see [[Artifact.Scope]]);
  *  - `deps`: the artifacts its build reads. A dep must be declared
  *    before its reader, so registration order is a dependency order
  *    and Bench's fit phase, iterating it, times each build's own
  *    increment only;
  *  - the build, memoized per (session, sf dir) in a [[SessionMemo]]
  *    (fingerprint staleness check, readership record on every access);
  *  - the materializing step ([[fit]]) the bench fit line times: a
  *    `count` of a lazily persisted result, nothing for a driver-held
  *    value.
  *
  * Construction registers the artifact in [[Artifact.all]]; artifacts
  * live in the catalog's batch objects, so the registry is complete
  * once the catalog is loaded ([[graft.SparkEntry.queries]]). Ad-hoc
  * memos (tests) use [[SessionMemo]] directly and never join it. */
final class Artifact[V] private (
    val name: String,
    val scope: Artifact.Scope,
    val deps: Seq[Artifact[_]],
    build: (SparkSession, String) => V,
    materialize: V => Any) {

  require(name.matches("[a-z0-9_]+"), s"artifact name '$name' must be snake_case")
  // a null dep is an object-initialization cycle between batch files:
  // the dep's owner was still initializing when this one was declared
  require(!deps.contains(null), s"artifact $name: a dep is not initialized yet")

  private val memo = new SessionMemo[V]((s, dir) => scope.run(s)(build(s, dir)), name)

  /** The bench line that times this artifact's cold build. */
  def fitLine: String = "fit_" + name

  /** The artifact for (session, dir): a memo hit, or a build under
    * [[scope]]. A lazy result stays lazy — no job is added here. */
  def apply(s: SparkSession, dir: String): V = memo(s, dir)

  /** Build if cold and materialize, all under [[scope]]: what the bench
    * fit line times and the bench pre-touch forces. */
  def fit(s: SparkSession, dir: String): Unit =
    scope.run(s) { materialize(apply(s, dir)); () }

  /** Drop every memoized value; the next access rebuilds. Blocks of an
    * evicted build that went through a bare [[Reuse.cache]] stay until
    * session end (or a `cacheManager.clearCache()`). */
  def evict(): Unit = memo.clear()

  Artifact.register(this)
}

object Artifact {

  /** The shuffle width an artifact's build and materialization run at. */
  sealed trait Scope {
    def run[T](s: SparkSession)(body: => T): T
  }

  /** Jobs over bounded samples or driver-held data at any corpus scale
    * (k-means fits, index assignment over the sample-sized fixtures,
    * the BPE fit, the keep-bloom). The session's full width is pure
    * scheduling overhead on their sub-second jobs (the whole fit family
    * ran faster at local[8] than at local[32]), so they run at
    * `min(8, defaultParallelism)` shuffle partitions, set and restored
    * around the body on the session's runtime conf. */
  case object SampleBounded extends Scope {
    def run[T](s: SparkSession)(body: => T): T = {
      val key = "spark.sql.shuffle.partitions"
      val prev = s.conf.get(key)
      s.conf.set(key, math.min(8, s.sparkContext.defaultParallelism).toString)
      try body finally s.conf.set(key, prev)
    }
  }

  /** Full-corpus joins (pair mining, the CC fixpoint, LSH banding): the
    * join is the measured operation and keeps the session width. */
  case object CorpusScale extends Scope {
    def run[T](s: SparkSession)(body: => T): T = body
  }

  private val registry = new java.util.concurrent.CopyOnWriteArrayList[Artifact[_]]

  private def register(a: Artifact[_]): Unit = registry.synchronized {
    require(named(a.name).isEmpty, s"artifact ${a.name} declared twice")
    registry.add(a)
  }

  def apply[V](name: String, scope: Scope, deps: Artifact[_]*)(
      build: (SparkSession, String) => V)(materialize: V => Any): Artifact[V] =
    new Artifact(name, scope, deps, build, materialize)

  /** Every declared artifact, in registration (= dependency) order. */
  def all: Seq[Artifact[_]] = {
    import scala.jdk.CollectionConverters._
    registry.asScala.toSeq
  }

  def named(name: String): Option[Artifact[_]] = all.find(_.name == name)

  /** Evict the artifact called `name`; false when none is declared
    * (then a retry cannot be made cold and the caller must not fake
    * one). */
  private[graft] def evict(name: String): Boolean = {
    val a = named(name)
    a.foreach(_.evict())
    a.nonEmpty
  }

  /** Evict EVERY artifact. Pairs with a session-global
    * `cacheManager.clearCache()`: that wipe strips cached blocks out
    * from under memoized values whose builders ended in a bare
    * [[Reuse.cache]], and any artifact NOT evicted afterwards keeps
    * serving a DataFrame whose persist entry is gone — the optimizer
    * then collapses the materialization boundary and downstream plans
    * lose the pruning the cache encoded (the r17 PlanSpec
    * ann_ivf_hier_topk failure). After clearAll, every artifact
    * rebuilds lazily on next access and re-persists. */
  private[graft] def clearAll(): Unit = all.foreach(_.evict())
}
