package graft.queries

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.SparkSession

/** Per-(SparkSession, sf-dir) memo for expensive shared subtrees (the
  * near-dup pair graph, the IVF index): the unregistered primitive
  * each [[Artifact]] builds through, and that tests construct
  * directly. Two staleness defenses:
  *
  *  - entries belonging to stopped sessions are swept on every access,
  *    so the map cannot pin SparkSession references or checkpointed
  *    blocks past the session's lifetime (long-lived JVMs running many
  *    sessions stay bounded);
  *  - each entry records a FINGERPRINT of the dir's file metadata
  *    (relative path, size, mtime of every file) taken at build time;
  *    an access that sees a different fingerprint rebuilds instead of
  *    serving results mined from data that has since been rewritten.
  *    For the rebuild to actually see fresh data, fixture-rooted
  *    persists inside memoized builders must go through
  *    [[Reuse.cacheFresh]]: a bare persist is keyed by canonical plan
  *    in the shared CacheManager (which holds a strong reference — the
  *    ContextCleaner does NOT reclaim it), so the rebuilt identical
  *    plan would silently read the previous build's blocks. cacheFresh
  *    both makes each build's plan unique and unpersists the previous
  *    build's entry.
  *
  * The walk is driver-side metadata only (no data read); non-local or
  * unreadable paths fingerprint to a constant, degrading to the plain
  * memoize-forever behavior. [[clear]] remains the explicit nuke.
  *
  * Cost + blind spot (ADVICE round 5): the fingerprint is cached per
  * dir for [[SessionMemo.fpTtlMs]], so back-to-back catalog queries
  * don't each pay a full `Files.walk` — only the first access per TTL
  * window does. Known blind spots, accepted: a same-length rewrite
  * landing within the same mtime millisecond fingerprints identically,
  * and a rewrite inside the TTL window is seen one window late. Both
  * only matter for in-session rewrites of the SAME dir, which the
  * test suite does explicitly via [[clear]]. */
final class SessionMemo[V](build: (SparkSession, String) => V,
    label: String = "memo") {

  private final case class Entry(fp: Long, value: V)
  private val m = new ConcurrentHashMap[(SparkSession, String), Entry]
  private val fpCache = new ConcurrentHashMap[String, (Long, Long)] // dir -> (fp, atNanos)

  private def fingerprint(dir: String): Long = {
    val now = System.nanoTime()
    val cached = fpCache.get(dir)
    if (cached != null && now - cached._2 < SessionMemo.fpTtlMs * 1000000L)
      return cached._1
    val fp = fingerprintUncached(dir)
    fpCache.put(dir, (fp, now))
    fp
  }

  private def fingerprintUncached(dir: String): Long = {
    try {
      val root = java.nio.file.Paths.get(dir)
      if (!java.nio.file.Files.isDirectory(root)) return 0L
      val walk = java.nio.file.Files.walk(root)
      try {
        var acc = 1125899906842597L // large prime seed
        walk.sorted().forEach { p =>
          if (java.nio.file.Files.isRegularFile(p)) {
            val rel = root.relativize(p).toString
            acc = acc * 31 + rel.hashCode
            acc = acc * 31 + java.nio.file.Files.size(p)
            acc = acc * 31 + java.nio.file.Files.getLastModifiedTime(p).toMillis
          }
        }
        acc
      } finally walk.close()
    } catch { case _: Exception => 0L }
  }

  def apply(s: SparkSession, dir: String): V = {
    // readership ledger (hit or build — a warm read is still a
    // dependency): Bench derives `amortized`/`fit_deps` from this
    MemoTrack.record(label)
    m.keySet.removeIf(k => k._1.sparkContext.isStopped)
    val fp = fingerprint(dir)
    m.compute((s, dir), (k, cur) =>
      if (cur != null && cur.fp == fp) cur
      else {
        // a rebuild on a warm-looking run is the bench artifact the
        // round-10 verdict chased — make every build visible, with why
        val reason =
          if (cur == null) "miss"
          else s"fp-changed ${cur.fp} -> $fp"
        System.err.println(s"[memo] build $label dir=$dir reason=$reason")
        Entry(fp, build(k._1, k._2))
      }).value
  }

  def clear(): Unit = { m.clear(); fpCache.clear() }
}

object SessionMemo {
  /** How long a computed dir fingerprint is trusted before re-walking.
    * 5 s keeps a full catalog run (~100 queries) at a handful of walks
    * while still catching any between-run rewrite. Re-read per access
    * so tests (and operators that rewrite dirs in-session) can set
    * `-Dgraft.memo.fp.ttl.ms=0` to force every access to re-walk. */
  def fpTtlMs: Long = java.lang.Long.getLong("graft.memo.fp.ttl.ms", 5000L)
}
