package graft.kv

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference's three-verb KV statement language, re-expressed over
  * a keyed DataFrame.
  *
  * Statement grammar and quirks (all deliberately preserved):
  *  - tokenization is whitespace-fields (`strings.Fields`,
  *    `/root/reference/internal/store/store.go:1671,1324`)
  *  - `SET <key> [<value>...]`: value is the space-joined remainder and
  *    may be empty (`store.go:1682-1705`); reports rows_affected=1,
  *    last_insert_id=0
  *  - `DELETE <key>`: idempotent, always reports rows_affected=1
  *    (`store.go:1706-1730`)
  *  - `GET <key>`: returns a typed table `columns=[key,value],
  *    types=[text,blob]`; a miss is an empty table, not an error
  *    (`store.go:1300-1395`)
  */
sealed trait Statement
final case class SetStmt(key: String, value: String) extends Statement
final case class DeleteStmt(key: String) extends Statement
final case class GetStmt(key: String) extends Statement

/** Mirrors the reference's ExecuteQueryResponse for write statements
  * (`store.go:1697-1704`). */
final case class ExecResult(
    lastInsertId: Long = 0L,
    rowsAffected: Long = 1L,
    error: Option[String] = None)

/** Q9: read-consistency options (`internal/http/query_params.go:152-166`,
  * `store.go:2096-2118`). Spark has a single source of truth, so these
  * are accepted and recorded but have no effect — documented parity
  * per SURVEY §2.5 Q9. */
final case class ReadConsistency(
    level: String = "none", // none | weak | strong | auto
    freshness: Option[java.time.Duration] = None,
    freshnessStrict: Boolean = false) {
  require(Set("none", "weak", "strong", "auto").contains(level),
    s"invalid consistency level '$level'")
}

object StatementParser {
  /** Whitespace-fields tokenization, as in Go's `strings.Fields`. */
  def parse(stmt: String): Either[String, Statement] = {
    val fields = stmt.trim.split("\\s+").filter(_.nonEmpty).toSeq
    fields match {
      case Seq() => Left("empty statement")
      case verb +: rest =>
        verb.toUpperCase match {
          case "SET" =>
            rest match {
              case key +: value => Right(SetStmt(key, value.mkString(" ")))
              case _            => Left(s"SET requires a key: '$stmt'")
            }
          case "DELETE" =>
            rest match {
              case Seq(key) => Right(DeleteStmt(key))
              case _        => Left(s"DELETE requires exactly a key: '$stmt'")
            }
          case "GET" =>
            rest match {
              case Seq(key) => Right(GetStmt(key))
              case _        => Left(s"GET requires exactly a key: '$stmt'")
            }
          case other => Left(s"unknown verb '$other' in '$stmt'")
        }
    }
  }
}

/** A KV engine over a `DataFrame[key: string, value: string]`, shaped
  * like the reference's LSM state plane (BadgerDB, SURVEY.md:123): a
  * GET reads the memtable first and then one sorted level.
  *
  *  - `base` is a compacted leaf DataFrame: the initial state, a
  *    [[replaceState]] restore, or the `localCheckpoint` of the last
  *    compaction.
  *  - The memtable is a driver-side immutable `Map[key,
  *    Option[value]]` of the writes since the last compaction (None is
  *    a tombstone). [[execute]] resolves last-write-wins into it and
  *    builds no plan.
  *  - Every `compactEvery` write batches, ONE [[KvEngine.applyBatch]]
  *    merge of the memtable into `base` runs, followed by
  *    `localCheckpoint`. [[state]] is the same merge, built lazily and
  *    cached until the next write, so its plan holds at most one
  *    broadcast anti-join + union above a leaf at any depth.
  *  - [[lookup]] and [[query]] answer a memtable hit with no Spark
  *    plan. A miss filters `base` directly: one scan at any depth.
  *
  * Driver memory: the memtable holds the distinct keys of at most
  * `compactEvery` statement batches. Bulk writes (`/db/load?merge`)
  * go through `execute(stmts, compact = true)`, which folds them and
  * the memtable into `base` in one compaction instead of parking them
  * in the memtable.
  *
  * localCheckpoint is deliberate (r11 verdict): the KV state is small,
  * driver-adjacent, and rebuilt from the statement log on any failure,
  * so a reliable-FS checkpoint per compaction would be pure overhead.
  * Superseded checkpoints are reclaimed by Spark's ContextCleaner once
  * unreferenced. The shared analytics subtrees use [[graft.queries
  * .Reuse]] instead, where executor loss must not kill queries.
  *
  * Thread safety: writers serialize on the engine's own lock; every
  * read takes one immutable snapshot of (base, memtable) and never
  * waits for a writer, not even for a compaction. All methods are safe
  * from any thread.
  */
final class KvEngine(val spark: SparkSession, initial: DataFrame,
    compactEvery: Int = 32) {
  import KvEngine._
  require(compactEvery > 0, "compactEvery must be positive")

  private[this] val writeLock = new Object
  @volatile private[this] var snap = new Snapshot(leaf(initial), Map.empty, 0)

  /** The full state: `base` with the memtable merged in. */
  def state: DataFrame = snap.state

  /** Apply SET/DELETE statements (last-write-wins within the batch) and
    * return one ExecResult per statement, in order. GETs embedded in the
    * batch are rejected like the reference's Execute path. With
    * `compact`, the memtable and these writes fold into `base` now, in
    * one compaction, whatever the batch count. */
  def execute(stmts: Seq[Statement], compact: Boolean = false): Seq[ExecResult] = {
    val hasWrites = stmts.exists(!_.isInstanceOf[GetStmt])
    if (hasWrites || compact) writeLock.synchronized {
      val s = snap
      val mem = stmts.foldLeft(s.mem) {
        case (m, SetStmt(k, v))  => m.updated(k, Some(v))
        case (m, DeleteStmt(k))  => m.updated(k, None)
        case (m, _: GetStmt)     => m
      }
      val next = new Snapshot(s.base, mem,
        s.batches + (if (hasWrites) 1 else 0))
      // published only once the compaction succeeded: a failed
      // execute applies nothing
      snap = if (compact || next.batches >= compactEvery) next.compacted else next
    }
    stmts.map {
      case _: SetStmt    => ExecResult()
      case _: DeleteStmt => ExecResult() // idempotent "1 affected", store.go:1725
      case _: GetStmt    => ExecResult(error = Some("GET not valid in execute"))
    }
  }

  /** Point lookup: `columns=[key,value]`, empty on miss. A memtable hit
    * is a local relation (no Spark job); a miss filters `base`. The
    * consistency option is accepted-and-ignored (Q9; Spark is the
    * single source of truth). */
  def query(get: GetStmt,
      consistency: ReadConsistency = ReadConsistency()): DataFrame = {
    val s = snap
    s.mem.get(get.key) match {
      case Some(hit) =>
        spark.createDataFrame(hit.map(v => Row(get.key, v)).toList.asJava, schema)
      case None => s.base.filter(col("key") === lit(get.key))
    }
  }

  /** Plan-free point read: the value of `key`, None on a miss. */
  def lookup(key: String): Option[String] = lookupAll(Seq(key)).head

  /** Values of `keys`, in order, all read from one snapshot (the
    * reference answers a query inside one Badger read transaction,
    * SURVEY.md:360). Memtable hits build no plan; the misses share one
    * filter over `base`. Should `base` carry a key twice, one of its
    * values is returned. */
  def lookupAll(keys: Seq[String]): Seq[Option[String]] = {
    val s = snap
    val misses = keys.filterNot(s.mem.contains).distinct
    val fromBase =
      if (misses.isEmpty) Map.empty[String, String]
      else s.base.filter(col("key").isin(misses: _*)).collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
    keys.map(k => s.mem.getOrElse(k, fromBase.get(k)))
  }

  /** Swap in a full replacement state (the `/db/load` restore path —
    * a dump is a complete database, so loading one REPLACES, exactly
    * like restoring a BadgerDB backup would in the reference's
    * commented-out handleLoad, `internal/http/service.go:762`). Clears
    * the memtable and runs nothing. */
  def replaceState(newState: DataFrame): Unit = writeLock.synchronized {
    snap = new Snapshot(leaf(newState), Map.empty, 0)
  }
}

object KvEngine {
  private val schema = StructType(Seq(
    StructField("key", StringType), StructField("value", StringType)))

  private def leaf(df: DataFrame): DataFrame =
    df.select(col("key").cast(StringType), col("value").cast(StringType))

  /** One immutable view of the engine: `base` plus the memtable of the
    * `batches` write batches applied since the last compaction. */
  private final class Snapshot(val base: DataFrame,
      val mem: Map[String, Option[String]], val batches: Int) {
    lazy val state: DataFrame =
      if (mem.isEmpty) base
      else applyBatch(base.sparkSession, base, mem.toSeq.map {
        case (k, Some(v)) => SetStmt(k, v)
        case (k, None)    => DeleteStmt(k)
      })
    def compacted: Snapshot =
      new Snapshot(state.localCheckpoint(true), Map.empty, 0)
  }

  def empty(spark: SparkSession): KvEngine =
    new KvEngine(spark, spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], schema))

  def apply(spark: SparkSession, state: DataFrame): KvEngine =
    new KvEngine(spark, state)

  /** One-shot distributed merge of a write batch into a keyed state
    * table. Exposed for direct use over arbitrary state DataFrames.
    * The Seq shape is the HTTP Execute path (statements arrive at the
    * driver); for high-volume loads use [[applyBatchDf]] — a driver
    * Seq re-encodes every row on the driver per action, which caps
    * throughput and cannot hold a 100 TB-scale restore. */
  def applyBatch(spark: SparkSession, state: DataFrame,
      writes: Seq[Statement]): DataFrame = {
    import spark.implicits._
    val rows = writes.zipWithIndex.map {
      case (SetStmt(k, v), i)  => (i.toLong, k, v, "set")
      case (DeleteStmt(k), i)  => (i.toLong, k, null: String, "delete")
      case (GetStmt(k), i)     => (i.toLong, k, null: String, "get")
    }
    applyBatchDf(state, rows.toDF("seq", "key", "value", "op"))
  }

  /** The bulk-load twin of [[applyBatch]]: the same last-write-wins +
    * broadcast-anti-join merge, with the statement batch arriving as
    * a DataFrame `(seq BIGINT, key STRING, value STRING, op STRING
    * in 'set'|'delete'|'get')` instead of a driver-side Seq. This is
    * the reference's chunked bulk-load shape (`internal/command/
    * chunking/chunker.go:17,30` streams 1 MiB gzip chunks into the
    * same FSM apply) re-expressed scale-first: statements stay
    * distributed end-to-end (never a driver Seq), and ties within
    * the batch still resolve by `seq` (statement order), exactly as
    * the Seq path. The forced broadcast sizes this for incremental
    * batches (touched keys fit a broadcast); a FULL restore replaces
    * state wholesale via [[KvEngine.replaceState]]/[[load]] instead
    * of merging, so the broadcast bound is never the restore path's
    * bottleneck. */
  def applyBatchDf(state: DataFrame, writes: DataFrame): DataFrame = {
    // Last write per key within the batch wins (statement order =
    // seq). max_by instead of a window + row_number: the aggregate
    // gets MAP-SIDE partial aggregation, so a hot-key batch collapses
    // to one row per key per input partition BEFORE the shuffle — the
    // window shuffled and sorted every write row. (The var-length
    // struct buffer makes this a SortAggregate, not HashAggregate —
    // local key-sorts on already-collapsing inputs; the shuffle-volume
    // win is the partial combine, pinned in KvSpec.) CONTRACT: a NULL
    // `seq` ranks below every real one (coalesced to Long.MinValue in
    // lastWrites, so an all-null key keeps a real row instead of being
    // silently dropped — see the guard note there); `seq`
    // must be unique per key within a batch (it is the statement
    // order; the Seq path derives it from position) — with duplicate
    // seqs "the last write" is ill-defined and either plan picks one
    // nondeterministically.
    // `last` feeds BOTH merge branches (the broadcast of touched keys
    // and the union of surviving SETs); without materialization the
    // batch scan+shuffle+window subtree executes once per branch —
    // column pruning makes the two exchanges non-identical, so
    // ReuseExchange cannot deduplicate them (measured: 2 un-reused
    // hashpartitioning exchanges). A LAZY localCheckpoint computes
    // the window once (the broadcast branch runs first and caches the
    // blocks; the union branch reads them) without an eager job at
    // call time. Size is bounded by the batch's distinct keys — the
    // same bound the broadcast already imposes — and the
    // truncated-lineage tradeoff is the one KvEngine's compaction
    // already accepts for this state (rebuilt from the statement log
    // on failure).
    val last = lastWrites(writes).localCheckpoint(false)
    // Merge = drop every touched key from state (broadcast anti join —
    // a full-outer join could NOT broadcast and would sort-merge-shuffle
    // the entire state table per batch), then union the surviving SETs
    // back in. Both halves keep the huge state side shuffle-free.
    val touched = last.select(col("key"))
    val setRows = last.filter(col("op") === "set")
      .select(col("key"), col("value"))
    state.join(broadcast(touched), Seq("key"), "left_anti")
      .unionByName(setRows)
  }

  /** The batch's last-write set, pre-checkpoint — exposed
    * private[graft] so KvSpec can pin the plan shape (partial+final
    * max_by aggregate — a SortAggregate, the struct buffer is
    * var-length — never a window). */
  private[graft] def lastWrites(writes: DataFrame): DataFrame =
    writes
      .filter(col("op") =!= "get")
      .groupBy(col("key"))
      // NULL-seq guard (ADVICE r20): max_by IGNORES rows whose sort key
      // is null, so a key whose batch writes all carried null seqs
      // would yield a (key, null, null) row — dropped from state by the
      // anti-join with its SET never surviving — where the old
      // row_number window (seq desc, nulls last) kept a real row.
      // Coalescing null to Long.MinValue restores that contract: any
      // real seq outranks a null one, and an all-null key still keeps
      // one of its actual rows. As with duplicate seqs (documented on
      // applyBatchDf), WHICH all-null row wins is unspecified.
      .agg(max_by(struct(col("value"), col("op")),
        coalesce(col("seq"), lit(Long.MinValue))).as("__lw"))
      .select(col("key"), col("__lw.value").as("value"), col("__lw.op").as("op"))

  /** Persist / reload state between batches (parquet round-trip). */
  def save(state: DataFrame, path: String): Unit =
    state.write.mode("overwrite").parquet(path)
  def load(spark: SparkSession, path: String): KvEngine =
    new KvEngine(spark, spark.read.parquet(path))
}
