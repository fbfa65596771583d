package graft.queries

import java.util.concurrent.ConcurrentHashMap

/** Driver-side memo-readership ledger: which catalog entries read
  * which shared fitted [[Artifact]] (by artifact name). Bench derives
  * its `amortized` list and per-entry `fit_deps` from THIS — never
  * from a hand-maintained Seq, which the r13 verdict caught going
  * stale twice (it missed `ann_tune_nprobe` and `bpe_encode_oracle`).
  *
  * Mechanics: Bench wraps each catalog-entry build in [[within]],
  * which pins the entry name in a ThreadLocal; every memo access
  * (hit OR build — a warm read is still a dependency) calls
  * [[record]] with the memo's label. Memo reads all happen at
  * plan-construction time on the calling thread, so a plain
  * ThreadLocal suffices; accesses outside any [[within]] scope (fit
  * phase, Verify, tests) are ignored. */
object MemoTrack {
  private val current = new ThreadLocal[String]
  private val reads =
    new ConcurrentHashMap[String, java.util.Set[String]]

  /** Attribute memo reads inside `f` to catalog entry `query`. */
  def within[T](query: String)(f: => T): T = {
    val prev = current.get()
    current.set(query)
    try f finally {
      if (prev == null) current.remove() else current.set(prev)
    }
  }

  /** Called by every memo access with the memo's label. No-op when no
    * [[within]] scope is active on this thread. */
  def record(label: String): Unit = {
    val query = current.get()
    if (query != null)
      reads.computeIfAbsent(query,
        _ => ConcurrentHashMap.newKeySet[String]()).add(label)
  }

  /** Memo labels entry `query` has read so far this JVM (sorted). */
  def readsOf(query: String): Seq[String] = {
    val s = reads.get(query)
    if (s == null) Seq.empty
    else { import scala.jdk.CollectionConverters._; s.asScala.toSeq.sorted }
  }

  def clear(): Unit = reads.clear()
}
