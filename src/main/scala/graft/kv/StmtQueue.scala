package graft.kv

/** The reference's queued-write path: rqlite's statement queue wired
  * behind `POST /db/execute?queue`
  * (`/root/reference/internal/http/service.go:1106-1159` — enqueue
  * returns a `sequence_number` immediately; `?wait=true` blocks on a
  * flush channel until that batch is applied, 408 on timeout).
  *
  * Spark-first shape: buffering writes and applying them as ONE
  * `KvEngine.execute` batch per flush means one memtable batch (one
  * step towards the next compaction) per flush instead of one per HTTP
  * request — the same amortization rqlite's queue buys over Raft
  * proposals, and the same
  * micro-batch semantics as [[graft.streaming.Streaming.queuedWrites]]
  * (there the batchId plays the sequence_number role).
  *
  * Failure semantics: a failing flush is retried `maxRetries` times;
  * if it still fails the batch is dropped (the reference's queue is
  * explicitly at-most-once — rqlite only closes the flush channel
  * after a successful apply, and wire documents its data-loss
  * windows) — but the dropped sequence range is REMEMBERED, so a
  * `?wait` on a dropped sequence reports [[StmtQueue.Dropped]] rather
  * than success-for-a-lost-write. The flusher itself never dies: the
  * alternative would strand every later `?wait` at its timeout.
  *
  * Single flusher thread; sequence numbers are monotone from 1.
  * Waiters block on the shared lock and are woken per flush.
  */
final class StmtQueue(apply: Seq[Statement] => Unit, flushMs: Long,
    maxRetries: Int) {

  def this(kv: KvEngine, flushMs: Long = 50) =
    this(stmts => kv.execute(stmts), flushMs, 2)

  private[this] val lock = new Object
  private[this] var nextSeq = 0L
  private[this] var appliedSeq = 0L
  private[this] var pending = Vector.empty[(Long, Seq[Statement])]
  // Sequence numbers whose batch was dropped after exhausting retries.
  // Bounded: waiters are interested for at most one wait-timeout, so
  // retaining the most recent 100k dropped seqs is plenty; pruning
  // only ever turns "correctly reported as dropped" into the old
  // behavior (silent), never the reverse.
  private[this] val dropped = collection.mutable.TreeSet.empty[Long]
  private[this] val maxDroppedRetained = 100000
  @volatile private[this] var running = true

  private val flusher = new Thread(() => {
    while (running) {
      lock.synchronized { if (pending.isEmpty && running) lock.wait(flushMs) }
      flush()
    }
    flush() // drain whatever was enqueued before stop()
  }, "graft-stmt-queue")
  flusher.setDaemon(true)
  flusher.start()

  /** Enqueue a write batch; returns its sequence number immediately
    * (the write is NOT yet applied — that's the queued contract). */
  def write(stmts: Seq[Statement]): Long = lock.synchronized {
    require(running, "statement queue is stopped")
    nextSeq += 1
    pending :+= ((nextSeq, stmts))
    lock.notifyAll()
    nextSeq
  }

  /** Highest applied-or-dropped sequence number. */
  def applied: Long = lock.synchronized(appliedSeq)

  /** Block until `seq` is resolved: [[StmtQueue.Applied]] if its batch
    * landed, [[StmtQueue.Dropped]] if the batch failed every retry and
    * was lost, [[StmtQueue.TimedOut]] if unresolved within the
    * timeout. */
  def waitFor(seq: Long, timeoutMs: Long): StmtQueue.WaitResult = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    lock.synchronized {
      while (appliedSeq < seq) {
        val remMs = (deadline - System.nanoTime()) / 1000000L
        if (remMs <= 0) return StmtQueue.TimedOut
        lock.wait(remMs)
      }
      if (dropped.contains(seq)) StmtQueue.Dropped else StmtQueue.Applied
    }
  }

  private def flush(): Unit = {
    val batch = lock.synchronized {
      val b = pending; pending = Vector.empty; b
    }
    if (batch.nonEmpty) {
      // one merge for every request drained this tick
      var attempt = 0
      var ok = false
      var lastErr: Exception = null
      while (!ok && attempt <= maxRetries) {
        try { apply(batch.flatMap(_._2)); ok = true }
        catch {
          case e: Exception => lastErr = e; attempt += 1
        }
      }
      lock.synchronized {
        if (!ok) {
          System.err.println(
            s"[stmt-queue] dropped batch of ${batch.size} writes after " +
              s"$attempt attempts: ${lastErr.getMessage}")
          batch.foreach { case (seq, _) => dropped += seq }
          while (dropped.size > maxDroppedRetained) dropped -= dropped.head
        }
        appliedSeq = math.max(appliedSeq, batch.map(_._1).max)
        lock.notifyAll()
      }
    }
  }

  /** Stop the flusher after draining outstanding writes. */
  def stop(): Unit = {
    lock.synchronized { running = false; lock.notifyAll() }
    flusher.join(10000)
  }
}

object StmtQueue {
  sealed trait WaitResult
  case object Applied extends WaitResult
  case object Dropped extends WaitResult
  case object TimedOut extends WaitResult
}
