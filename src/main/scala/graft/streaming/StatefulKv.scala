package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming flavor of the KV plane (SURVEY §2.5 Q1: "streaming:
  * mapGroupsWithState"): a stream of SET/DELETE statements is
  * materialized into per-key state, emitting the post-statement value
  * of each touched key per micro-batch.
  *
  * State is Spark-managed (checkpointed, partitioned by key across
  * executors) — the distributed replacement for the reference's
  * Raft-replicated Badger FSM (`internal/store/store.go:1633-1766`):
  * fault tolerance comes from the state store + WAL instead of log
  * replication.
  */
object StatefulKv {

  final case class KvOp(key: String, op: String, value: String, seq: Long)
  final case class KvUpdate(key: String, value: String, exists: Boolean)

  /** Apply a batch of ops for one key onto its state. Last-write-wins
    * by seq within the batch; DELETE removes state (exists=false in the
    * emitted update — a retraction). */
  def applyOps(key: String, ops: Iterator[KvOp],
      state: GroupState[String]): Iterator[KvUpdate] = {
    val sorted = ops.toSeq.sortBy(_.seq)
    if (sorted.isEmpty) return Iterator.empty
    var cur: Option[String] = state.getOption
    sorted.foreach { o =>
      o.op match {
        case "set"    => cur = Some(o.value)
        case "delete" => cur = None
        case _        => // unknown verbs ignored, like fsmApply's default
      }
    }
    cur match {
      case Some(v) => state.update(v)
      case None    => state.remove()
    }
    Iterator.single(KvUpdate(key, cur.orNull, cur.isDefined))
  }

  /** Wire a statement stream into stateful per-key materialization. */
  def materialize(spark: SparkSession, ops: Dataset[KvOp]): Dataset[KvUpdate] = {
    import spark.implicits._
    ops.groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(applyOps)
  }
}
