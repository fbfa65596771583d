package graft.pipeline

import java.io.IOException
import java.net.InetSocketAddress
import java.net.URLDecoder
import java.nio.charset.StandardCharsets.UTF_8

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import com.sun.net.httpserver.{HttpExchange, HttpServer}

import graft.kv.{GetStmt, KvEngine, StatementParser}

/** The reference's primary user surface is HTTP
  * (`/root/reference/internal/http/service.go:508-580` routes through a
  * Gin engine; response envelope `{success, data, error}` per
  * `internal/http/util.go:8-23`). This facade closes that parity gap
  * with the JDK's built-in `com.sun.net.httpserver` — zero new
  * dependencies — as a thin routing layer over [[Engine]] and
  * [[graft.kv.KvEngine]], exactly the method-per-route mapping
  * documented on [[Engine]].
  *
  * Routes (reference `file:line` in parens):
  *  - `GET /` → 302 `/status` (service.go:508-510)
  *  - `GET /status` → per-pipeline state merged with the full
  *    Structured-Streaming progress tree (service.go:841-973 returns
  *    store/runtime/queue trees; here the equivalent runtime detail is
  *    each query's lastProgress)
  *  - `GET /readyz` → rqlite-style `[+]node ok` / 503 (service.go:1026+)
  *  - `GET /debug/vars` → per-query lastProgress JSON (service.go:559-561)
  *  - `GET /nodes` → single-node document (service.go:552-554; cluster
  *    membership is the resource manager's job in Spark, SURVEY §0)
  *  - `POST /connector/{key}` → create pipeline from `{source, sink}`
  *    body (service.go:569,1801-1875); `?mode=batch` runs to completion
  *  - `DELETE /connector/{key}` → stop + deregister
  *    (connector.go:12-40; the ref's `kill` query param is accepted)
  *  - `GET|POST /boot` → boot every key-paired pipeline from a config
  *    file body (service.go:530-533; a 503 stub in the ref — working
  *    upgrade here); `?mode=batch` for batch pipelines
  *  - `POST /db/execute` → body `["SET k v", "DELETE k", ...]`
  *    (rqlite wire shape the ref's store speaks,
  *    store.go:1633-1766); returns `{"results":[{...}]}`
  *  - `POST /db/execute?queue[&wait[&timeout=5s]]` → buffered write
  *    through [[graft.kv.StmtQueue]] (service.go:1106-1159): returns
  *    `{"results":[],"sequence_number":N}` at enqueue; `wait` blocks
  *    until N is applied, 408 `queue wait timeout` past the deadline
  *  - `GET|POST /db/query` → `?q=GET k` or body `["GET k"]`; returns
  *    the typed-table shape `columns/types/values` (store.go:1300-1395)
  *  - `POST /key?key=k&value=v`, `GET /key?key=k` → the ref's test KV
  *    endpoints (service.go:513-528); GET miss writes literal `nil`
  *
  * Handlers run serially on the dispatch thread (no executor): the
  * control plane is low-QPS by nature. `KvEngine` owns its lock, so the
  * handlers and the [[graft.kv.StmtQueue]] flusher call it directly.
  * Bind is loopback-only by default — this is a control plane, not a
  * public API.
  */
final class HttpService(
    engine: Engine,
    kv: KvEngine,
    port: Int = 0,
    host: String = "127.0.0.1") {

  private val mapper = new ObjectMapper()
  // JVM-wide server properties (request-time belt, TCP_NODELAY) must be
  // set BEFORE the first HttpServer of the process is constructed
  // (ServerConfig reads them once) — see
  // graft.sources.Sources.HttpServerTuning.
  graft.sources.Sources.HttpServerTuning.ensure()
  private val server = HttpServer.create(new InetSocketAddress(host, port), 0)
  private val stmtQueue = new graft.kv.StmtQueue(kv)
  server.setExecutor(null) // serial dispatch; see class doc
  server.createContext("/", (ex: HttpExchange) => safely(ex)(route))

  def start(): HttpService = { server.start(); this }
  def stop(): Unit = { stmtQueue.stop(); server.stop(0) }
  def boundPort: Int = server.getAddress.getPort

  // ---- routing ------------------------------------------------------

  private def route(ex: HttpExchange): Unit = {
    val path = ex.getRequestURI.getPath
    val m = ex.getRequestMethod
    (m, path) match {
      case ("GET", "/")                       => redirect(ex, "/status")
      case ("GET", "/status")                 => handleStatus(ex)
      case ("GET", "/readyz")                 => handleReadyz(ex)
      case ("GET", "/debug/vars")             => handleVars(ex)
      case ("GET", "/nodes")                  => handleNodes(ex)
      case ("POST", p) if p.startsWith("/connector") => handleCreate(ex)
      case ("DELETE", p) if p.startsWith("/connector/") =>
        handleDelete(ex, p.stripPrefix("/connector/"))
      case (("GET" | "POST"), "/boot")        => handleBoot(ex)
      case ("POST", "/db/execute")            => handleExecute(ex)
      case (("GET" | "POST"), "/db/query")    => handleQuery(ex)
      case ("GET", "/db/backup")              => handleDbBackup(ex)
      case ("POST", "/db/load")               => handleDbLoad(ex)
      case ("POST", "/db/request")            =>
        // mixed read/write batches are ErrNotImplemented in the
        // reference store (Q5, new/store/store.go:653-655) — surface
        // the same contract as a 501 rather than silently splitting
        envelope(ex, 501, success = false, error = "not implemented")
      case ("POST", "/key")                   => handleKeyPut(ex)
      case ("GET", "/key")                    => handleKeyGet(ex)
      case _ =>
        sendJson(ex, 404, """{"error":"Not found"}""") // service.go:574-576
    }
  }

  // ---- control plane ------------------------------------------------

  /** Per-pipeline state + the full streaming progress tree — the richer
    * `/status` payload the reference assembles from store/runtime
    * sub-reports (service.go:841-973). */
  private def handleStatus(ex: HttpExchange): Unit = {
    val st = engine.status()
    val prog = engine.progress()
    val data = mapper.createObjectNode()
    st.foreach { case (k, state) =>
      val n = data.putObject(k)
      n.put("state", state)
      n.set[ObjectNode]("progress",
        prog.get(k).map(mapper.readTree).getOrElse(mapper.createObjectNode()))
    }
    envelope(ex, 200, success = true, data = Some(data))
  }

  private def handleReadyz(ex: HttpExchange): Unit =
    if (engine.ready) sendText(ex, 200, "[+]node ok\n")
    else sendText(ex, 503, "[+]node not ready\n")

  private def handleVars(ex: HttpExchange): Unit = {
    val data = mapper.createObjectNode()
    engine.progress().foreach { case (k, json) =>
      data.set[ObjectNode](k, mapper.readTree(json))
    }
    sendJson(ex, 200, mapper.writeValueAsString(data))
  }

  private def handleNodes(ex: HttpExchange): Unit = {
    val n = mapper.createObjectNode()
    val node = n.putObject("local")
    node.put("api_addr", s"$host:$boundPort")
    node.put("reachable", true)
    node.put("leader", true) // single Spark app: always "leader"
    sendJson(ex, 200, mapper.writeValueAsString(n))
  }

  private def handleCreate(ex: HttpExchange): Unit = {
    val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
    if (body.isEmpty) {
      // service.go:1814-1817 — explicit empty-body 400
      envelope(ex, 400, success = false, error = "error: no request body")
      return
    }
    try {
      val spec = graft.model.ConfigParser.parsePipelineSpec(body)
      if (queryParams(ex).get("mode").contains("batch")) engine.runBatch(spec)
      else engine.createPipeline(spec)
      envelope(ex, 200, success = true)
    } catch {
      case NonFatal(e) =>
        envelope(ex, 400, success = false,
          error = s"invalid request payload: ${e.getMessage}")
    }
  }

  private def handleDelete(ex: HttpExchange, key: String): Unit =
    if (engine.deletePipeline(key)) envelope(ex, 200, success = true)
    else envelope(ex, 500, success = false,
      error = "error when trying to shutdown the pipeline") // connector.go:31-34

  private def handleBoot(ex: HttpExchange): Unit = {
    val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
    try {
      val streaming = !queryParams(ex).get("mode").contains("batch")
      val keys = engine.bootFromConfigFile(body, streaming = streaming)
      val data = mapper.createObjectNode()
      val arr = data.putArray("booted")
      keys.foreach(arr.add)
      envelope(ex, 200, success = true, data = Some(data))
    } catch {
      case NonFatal(e) =>
        envelope(ex, 400, success = false, error = s"boot failed: ${e.getMessage}")
    }
  }

  // ---- data plane (KV) ----------------------------------------------

  private def parseStatements(raw: String): Either[String, Seq[String]] =
    try {
      val node = mapper.readTree(raw)
      if (!node.isArray) Left("expected a JSON array of statements")
      else Right(node.elements().asScala.map(_.asText()).toSeq)
    } catch { case NonFatal(e) => Left(s"bad JSON: ${e.getMessage}") }

  private def handleExecute(ex: HttpExchange): Unit = {
    val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
    parseStatements(body) match {
      case Left(err) => envelope(ex, 400, success = false, error = err)
      case Right(stmts) =>
        val parsed = stmts.map(StatementParser.parse)
        parsed.collectFirst { case Left(err) => err } match {
          case Some(err) => envelope(ex, 400, success = false, error = err)
          case None =>
            val qp = queryParams(ex)
            if (flag(qp, "queue")) queuedExecute(ex, qp,
              parsed.collect { case Right(s) => s })
            else {
              val results = kv.execute(parsed.collect { case Right(s) => s })
              val root = mapper.createObjectNode()
              val arr = root.putArray("results")
              results.foreach { r =>
                val n = arr.addObject()
                n.put("last_insert_id", r.lastInsertId)
                n.put("rows_affected", r.rowsAffected)
                r.error.foreach(n.put("error", _))
              }
              sendJson(ex, 200, mapper.writeValueAsString(root))
            }
        }
    }
  }

  /** `?queue` path (service.go:1106-1159): enqueue, hand back the
    * sequence number; `?wait` blocks until applied (`?timeout=5s`,
    * default 30s like the reference), 408 on expiry. */
  private def queuedExecute(ex: HttpExchange, qp: Map[String, String],
      stmts: Seq[graft.kv.Statement]): Unit = {
    val seq = stmtQueue.write(stmts)
    val wait =
      if (flag(qp, "wait")) stmtQueue.waitFor(seq, timeoutMs(qp))
      else graft.kv.StmtQueue.Applied
    wait match {
      case graft.kv.StmtQueue.TimedOut =>
        sendText(ex, 408, "queue wait timeout") // service.go:1147-1150
      case graft.kv.StmtQueue.Dropped =>
        // the batch failed every retry and was lost; a 200 here would
        // be success-for-a-lost-write, strictly worse than the
        // reference's data-loss window (rqlite only closes the flush
        // channel after a successful apply)
        sendText(ex, 500, "queued write dropped")
      case graft.kv.StmtQueue.Applied =>
        val root = mapper.createObjectNode()
        root.putArray("results")
        root.put("sequence_number", seq)
        sendJson(ex, 200, mapper.writeValueAsString(root))
    }
  }

  /** rqlite boolean query params: present counts as true unless the
    * value parses false. Values follow Go strconv.ParseBool — 1/t/true
    * (any case) are true, 0/f/false are false (service.go uses
    * ParseBool on `?queue`, `?wait`) — so rqlite-ported clients
    * sending `?wait=1` keep their semantics. Unparseable values are
    * false, matching the reference's err → default-false handling. */
  private def flag(qp: Map[String, String], name: String): Boolean =
    qp.get(name).exists { v =>
      v.isEmpty || (v.toLowerCase match {
        case "1" | "t" | "true" => true
        case _                  => false
      })
    }

  /** `?timeout=` as Go-ish duration (`5s`, `1500ms`); default 30s
    * (service.go defaultTimeout). */
  private def timeoutMs(qp: Map[String, String]): Long =
    qp.get("timeout").flatMap { t =>
      try {
        if (t.endsWith("ms")) Some(t.dropRight(2).trim.toDouble.toLong)
        else if (t.endsWith("s")) Some((t.dropRight(1).trim.toDouble * 1000).toLong)
        else Some(t.trim.toDouble.toLong * 1000)
      } catch { case _: NumberFormatException => None }
    }.getOrElse(30000L)

  private def handleQuery(ex: HttpExchange): Unit = {
    val stmts: Either[String, Seq[String]] =
      queryParams(ex).get("q") match {
        case Some(q) => Right(Seq(q))
        case None =>
          val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
          if (body.isEmpty) Left("missing ?q= or request body")
          else parseStatements(body)
      }
    stmts match {
      case Left(err) => envelope(ex, 400, success = false, error = err)
      case Right(qs) =>
        val parsed = qs.map(StatementParser.parse)
        parsed.collectFirst {
          case Left(err)               => err
          case Right(s) if !s.isInstanceOf[GetStmt] => "only GET is valid in query"
        } match {
          case Some(err) => envelope(ex, 400, success = false, error = err)
          case None =>
            // every GET of the request reads one snapshot
            val keys = parsed.collect { case Right(g: GetStmt) => g.key }
            val root = mapper.createObjectNode()
            val arr = root.putArray("results")
            keys.zip(kv.lookupAll(keys)).foreach { case (k, value) =>
              val n = arr.addObject()
              // typed-table shape, store.go:1377-1390
              n.putArray("columns").add("key").add("value")
              n.putArray("types").add("text").add("blob")
              val vs = n.putArray("values")
              value.foreach(v => vs.addArray().add(k).add(v))
            }
            sendJson(ex, 200, mapper.writeValueAsString(root))
        }
    }
  }

  /** `GET /db/backup` — a consistent full dump of the KV state as
    * NDJSON lines `{"key":...,"value":...}` sorted by key. The
    * reference's handleBackup is fully commented out
    * (`internal/http/service.go:695-760`); this is the working
    * equivalent over the Spark state plane. Rows are STREAMED via
    * `toLocalIterator` (chunked response, one partition on the driver
    * at a time) — a 100 TB-state backup never materializes driver-side. */
  private def handleDbBackup(ex: HttpExchange): Unit = {
    ex.getResponseHeaders.set("Content-Type", "application/octet-stream")
    ex.sendResponseHeaders(200, 0) // chunked
    val out = ex.getResponseBody
    val it = kv.state.orderBy("key").toLocalIterator()
    while (it.hasNext) {
      val r = it.next()
      val line = mapper.createObjectNode()
      line.put("key", r.getString(0))
      line.put("value", r.getString(1))
      out.write(mapper.writeValueAsString(line).getBytes(UTF_8))
      out.write('\n')
    }
    out.flush()
  }

  /** `POST /db/load` — restore a [[handleDbBackup]] dump. A dump is a
    * COMPLETE database, so the default REPLACES the state (what
    * restoring a BadgerDB backup does — the reference's handleLoad,
    * also commented out, `internal/http/service.go:762`); `?merge`
    * applies the dump as last-write-wins SETs over the current state
    * instead, folding the dump and the KV memtable into the compacted
    * base in one compaction. */
  private def handleDbLoad(ex: HttpExchange): Unit = {
    val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
    val parsed =
      try Right(body.split('\n').iterator.map(_.trim).filter(_.nonEmpty).map { l =>
        val n = mapper.readTree(l)
        require(n.hasNonNull("key") && n.hasNonNull("value"),
          s"dump line missing key/value: $l")
        (n.get("key").asText(), n.get("value").asText())
      }.toSeq)
      catch { case NonFatal(e) => Left(s"bad dump: ${e.getMessage}") }
    parsed match {
      case Left(err) => envelope(ex, 400, success = false, error = err)
      case Right(rows) =>
        if (flag(queryParams(ex), "merge"))
          kv.execute(rows.map { case (k, v) => graft.kv.SetStmt(k, v) }, compact = true)
        else {
          import kv.spark.implicits._
          kv.replaceState(rows.toDF("key", "value"))
        }
        val data = mapper.createObjectNode()
        data.put("loaded", rows.size)
        envelope(ex, 200, success = true, data = Some(data))
    }
  }

  private def handleKeyPut(ex: HttpExchange): Unit = {
    val p = queryParams(ex)
    (p.get("key"), p.get("value")) match {
      case (Some(k), Some(v)) =>
        kv.execute(Seq(graft.kv.SetStmt(k, v)))
        envelope(ex, 200, success = true)
      case _ => envelope(ex, 400, success = false, error = "key and value required")
    }
  }

  private def handleKeyGet(ex: HttpExchange): Unit =
    queryParams(ex).get("key") match {
      case Some(k) =>
        // service.go:520-528: miss writes literal "nil", hit the raw value
        sendText(ex, 200, kv.lookup(k).getOrElse("nil"))
      case None => envelope(ex, 400, success = false, error = "key required")
    }

  // ---- plumbing -----------------------------------------------------

  private def safely(ex: HttpExchange)(f: HttpExchange => Unit): Unit =
    try f(ex)
    catch {
      case NonFatal(e) =>
        try envelope(ex, 500, success = false,
          error = Option(e.getMessage).getOrElse(e.getClass.getSimpleName))
        catch { case _: IOException => () }
    } finally ex.close()

  private def queryParams(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getRawQuery).fold(Map.empty[String, String]) { q =>
      q.split("&").filter(_.nonEmpty).map { kv =>
        kv.split("=", 2) match {
          case Array(k, v) => URLDecoder.decode(k, UTF_8) -> URLDecoder.decode(v, UTF_8)
          case Array(k)    => URLDecoder.decode(k, UTF_8) -> ""
        }
      }.toMap
    }

  /** The reference's `{success, data, error}` envelope, util.go:8-23. */
  private def envelope(ex: HttpExchange, code: Int, success: Boolean,
      data: Option[ObjectNode] = None, error: String = ""): Unit = {
    val n = mapper.createObjectNode()
    n.put("success", success)
    data match {
      case Some(d) => n.set[ObjectNode]("data", d)
      case None    => n.putNull("data")
    }
    n.put("error", error)
    sendJson(ex, code, mapper.writeValueAsString(n))
  }

  private def redirect(ex: HttpExchange, to: String): Unit = {
    ex.getResponseHeaders.set("Location", to)
    ex.sendResponseHeaders(302, -1)
  }

  private def sendJson(ex: HttpExchange, code: Int, body: String): Unit = {
    ex.getResponseHeaders.set("Content-Type", "application/json")
    val bytes = body.getBytes(UTF_8)
    ex.sendResponseHeaders(code, bytes.length.toLong)
    ex.getResponseBody.write(bytes)
  }

  private def sendText(ex: HttpExchange, code: Int, body: String): Unit = {
    ex.getResponseHeaders.set("Content-Type", "text/plain")
    val bytes = body.getBytes(UTF_8)
    ex.sendResponseHeaders(code, bytes.length.toLong)
    ex.getResponseBody.write(bytes)
  }
}

object HttpService {
  /** Bind on an ephemeral loopback port. */
  def apply(engine: Engine, kv: KvEngine): HttpService =
    new HttpService(engine, kv).start()
}
