package graft.pipeline

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.model.{ConfigParser, EndpointConfig, PipelineSpec}
import graft.ops.Ops
import graft.sinks.Sinks
import graft.sources.Sources

/** The control plane (reference C1-C5, `internal/http/service.go`):
  * create/stop/status of pipelines — here thin orchestration over
  * Structured Streaming queries (streaming mode) or immediate jobs
  * (batch mode). Spark's driver/executor model + checkpointing replace
  * the reference's entire Raft/cluster plane (SURVEY §0).
  *
  * Endpoint → method mapping (the reference's primary user surface is
  * HTTP; this engine is programmatic — an HTTP shim would be a thin
  * routing layer over exactly these methods, one per route):
  *
  * | reference route (service.go)            | here                    |
  * |-----------------------------------------|-------------------------|
  * | `POST /pipeline` (1801-1875)            | [[createPipeline]] / [[runBatch]] |
  * | `DELETE /pipeline/{key}` (1877-1903)    | [[deletePipeline]]      |
  * | `GET /pipeline` + `/status` (841-973)   | [[status]]              |
  * | `GET /debug/vars` metrics (975-1082)    | [[progress]] (lastProgress JSON per query) |
  * | `GET /readyz` (1553-1585)               | [[ready]]               |
  * | `POST /boot` (802-819, 503 stub in ref) | [[bootFromConfigFile]] (working upgrade) |
  * | `POST /db/execute`, `/db/query`          | `graft.kv.KvEngine.execute` / `.query` |
  * | `POST /db/request` (mixed batch)         | ErrNotImplemented parity: execute rejects GETs (Q5) |
  * | `GET /nodes` (1587-1650)                | n/a — single Spark app; cluster membership is the resource manager's |
  *
  * A pipeline is source → transform chain → (optional repartition) →
  * sink, the reference's fixed channel graph
  * (`internal/pipeline/pipeline.go:93-181`) — except here it's a
  * declarative plan Catalyst can optimize end-to-end.
  */
final class Engine(spark: SparkSession) {
  private val running = TrieMap.empty[String, StreamingQuery]

  private def transforms(spec: PipelineSpec): Ops.Op = {
    val names = spec.source.config.get("transforms")
      .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
      .getOrElse(Nil)
    val chain = Ops.chain(names)
    val parts = spec.source.config.get("partitions").map(_.toInt)
    df => {
      val t = chain(df)
      parts.fold(t)(n => Ops.repartitionByPayload(n)(t))
    }
  }

  /** C1 batch flavor: run the pipeline to completion now. */
  def runBatch(spec: PipelineSpec): Unit = {
    val df = Sources.resolveBatch(spec.source)(spark, spec.source)
    Sinks.batch.getOrElse(spec.sink.connectionType,
      throw new IllegalArgumentException(
        s"invalid sink type: ${spec.sink.connectionType}"))(
      transforms(spec)(df), spec.sink)
  }

  /** C1: create + start a streaming pipeline, registered under its key
    * (service.go:1801-1875; `go pipeline.Run` → `query.start`). */
  def createPipeline(spec: PipelineSpec): StreamingQuery = {
    require(spec.source.key.nonEmpty, "pipeline key required")
    val df = Sources.resolveStream(spec.source)(spark, spec.source)
    val q = Sinks.configureStream(transforms(spec)(df), spec.sink).start()
    running.put(spec.source.key, q)
    q
  }

  def createPipeline(json: String): StreamingQuery =
    createPipeline(ConfigParser.parsePipelineSpec(json))

  /** C2: stop by key (service.go:583-600). */
  def deletePipeline(key: String): Boolean =
    running.remove(key) match {
      case Some(q) => q.stop(); true
      case None    => false
    }

  /** C4: status of one / all pipelines (service.go:841-973). */
  def status(): Map[String, String] =
    running.map { case (k, q) =>
      k -> (if (q.isActive) s"active batch=${Option(q.lastProgress).map(_.batchId).getOrElse(-1L)}"
            else "stopped")
    }.toMap

  /** C5 readyz: the session is alive and able to schedule work. */
  def ready: Boolean = !spark.sparkContext.isStopped

  /** C5 metrics surface (the reference exposes per-node expvar JSON at
    * `/debug/vars`, service.go:975-1082): each active query's full
    * lastProgress JSON — rows/sec, batch duration, state-store and
    * source/sink metrics — exactly what Structured Streaming already
    * tracks. `{}` until the first progress event; absent once stopped. */
  def progress(): Map[String, String] =
    running.collect {
      case (k, q) if q.isActive =>
        k -> Option(q.lastProgress).map(_.json).getOrElse("{}")
    }.toMap

  /** C6 `/boot` (a 503 stub in the reference, service.go:802-819):
    * boot every key-paired pipeline from a config file
    * (`{"sources": [...], "sinks": [...]}`) — batch pipelines run now,
    * streaming ones start and register. */
  def bootFromConfigFile(json: String, streaming: Boolean = true): Seq[String] = {
    val specs = ConfigParser.parseConfigFile(json)
    specs.map { spec =>
      if (streaming) { createPipeline(spec); spec.source.key }
      else { runBatch(spec); spec.source.key }
    }
  }
}
