package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

import graft.kv.KvEngine
import graft.pipeline.{Engine, HttpService}

/** Real localhost round-trips through the HTTP control-plane facade —
  * the reference's primary user surface (service.go:508-580): create a
  * pipeline, poll /status, KV set/get over the db routes, delete. */
class HttpServiceSpec extends SparkTestBase {
  import spark.implicits._

  private val mapper = new ObjectMapper()
  private def tmp(): String = Files.createTempDirectory("grafthttp").toString

  private lazy val engine = new Engine(spark)
  private lazy val service = HttpService(engine, KvEngine.empty(spark))
  private lazy val base = s"http://127.0.0.1:${service.boundPort}"
  private lazy val client = HttpClient.newBuilder()
    .followRedirects(HttpClient.Redirect.NEVER).build()

  private def get(path: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(base + path)).GET().build(),
      HttpResponse.BodyHandlers.ofString())
  private def post(path: String, body: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(base + path))
      .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())
  private def delete(path: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(base + path)).DELETE().build(),
      HttpResponse.BodyHandlers.ofString())

  test("GET / redirects to /status; readyz reports ok (service.go:508,1026)") {
    val r = get("/")
    assert(r.statusCode() === 302)
    assert(r.headers().firstValue("Location").get === "/status")
    val rz = get("/readyz")
    assert(rz.statusCode() === 200 && rz.body().contains("[+]node ok"))
  }

  test("db/execute + db/query: the three-verb statement language over HTTP") {
    val r = post("/db/execute", """["SET a hello world", "SET b tmp", "DELETE b"]""")
    assert(r.statusCode() === 200)
    val results = mapper.readTree(r.body()).get("results")
    assert(results.size() === 3)
    assert(results.get(0).get("rows_affected").asLong() === 1L)
    assert(results.get(2).get("rows_affected").asLong() === 1L) // DELETE idempotent

    // hit: typed table columns=[key,value], types=[text,blob]
    val hit = mapper.readTree(get("/db/query?q=GET%20a").body())
      .get("results").get(0)
    assert(hit.get("columns").get(0).asText() === "key")
    assert(hit.get("types").get(1).asText() === "blob")
    assert(hit.get("values").get(0).get(1).asText() === "hello world")
    // miss: empty values, not an error (store.go:1300-1395)
    val miss = mapper.readTree(get("/db/query?q=GET%20b").body())
      .get("results").get(0)
    assert(miss.get("values").size() === 0)
    // a write verb in query is rejected
    assert(get("/db/query?q=SET%20x%20y").statusCode() === 400)
    // malformed statement in execute is a 400, not a 500
    assert(post("/db/execute", """["FROB x"]""").statusCode() === 400)
  }

  test("db/backup streams an NDJSON dump; db/load restores it (replace) or merges") {
    // seed state, dump it
    assert(post("/db/execute",
      """["SET bk1 alpha", "SET bk2 beta gamma", "SET bk3 x"]""").statusCode() === 200)
    val dump = get("/db/backup")
    assert(dump.statusCode() === 200)
    val lines = dump.body().split('\n').filter(_.contains("\"key\":\"bk"))
    assert(lines.length === 3)
    assert(lines.exists(l => l.contains("\"bk2\"") && l.contains("beta gamma")))
    // mutate past the dump, then RESTORE (replace): post-dump writes gone
    assert(post("/db/execute",
      """["DELETE bk1", "SET bk4 postdump"]""").statusCode() === 200)
    val restored = post("/db/load", dump.body())
    assert(restored.statusCode() === 200)
    assert(mapper.readTree(restored.body()).get("data").get("loaded").asInt() >= 3)
    assert(get("/key?key=bk1").body() === "alpha")
    assert(get("/key?key=bk4").body() === "nil") // replace semantics
    // MERGE mode: existing keys survive, dump keys overwrite as SETs
    assert(post("/db/execute", """["SET bk5 keepme", "SET bk2 stale"]""")
      .statusCode() === 200)
    assert(post("/db/load?merge", dump.body()).statusCode() === 200)
    assert(get("/key?key=bk5").body() === "keepme") // merge kept it
    assert(get("/key?key=bk2").body() === "beta gamma") // dump overwrote
    // malformed dump line → 400, state untouched
    assert(post("/db/load", """{"nope":1}""").statusCode() === 400)
    assert(get("/key?key=bk5").body() === "keepme")
    // cleanup for other tests sharing the service
    post("/db/execute", """["DELETE bk1","DELETE bk2","DELETE bk3","DELETE bk5"]""")
  }

  test("a multi-GET /db/query answers hits and misses in statement order") {
    // mg1/mg3 land in the compacted base, mg2 and the mg3 tombstone in
    // the memtable: one request reads both layers from one snapshot
    val dump = """{"key":"mg1","value":"one"}""" + "\n" + """{"key":"mg3","value":"three"}"""
    assert(post("/db/load?merge", dump).statusCode() === 200)
    assert(post("/db/execute", """["SET mg2 two words", "DELETE mg3"]""").statusCode() === 200)
    val r = post("/db/query", """["GET mg2", "GET mgnone", "GET mg1", "GET mg3", "GET mg2"]""")
    assert(r.statusCode() === 200, r.body())
    val results = mapper.readTree(r.body()).get("results")
    val got = (0 until results.size()).map { i =>
      val vs = results.get(i).get("values")
      if (vs.size() == 0) None
      else Some(vs.get(0).get(0).asText() -> vs.get(0).get(1).asText())
    }
    assert(got === Seq(Some("mg2" -> "two words"), None, Some("mg1" -> "one"), None,
      Some("mg2" -> "two words")))
    post("/db/execute", """["DELETE mg1", "DELETE mg2"]""")
  }

  test("building an HttpService turns on TCP_NODELAY unless it was set beforehand") {
    val key = "sun.net.httpserver.nodelay"
    // a value the JVM was started with is the embedder's, and wins
    val preset = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.collectFirst {
        case a if a.startsWith(s"-D$key=") => a.stripPrefix(s"-D$key=")
      }
    assert(service.boundPort > 0)
    assert(sys.props.get(key) === Some(preset.getOrElse("true")))
  }

  test("the reference's /key test endpoints: put, get, miss writes 'nil'") {
    assert(post("/key?key=x&value=yz", "").statusCode() === 200)
    assert(get("/key?key=x").body() === "yz")
    assert(get("/key?key=missing").body() === "nil") // service.go:523-525
  }

  test("pipeline lifecycle over HTTP: create → status → delete (C1/C2/C4)") {
    val dir = tmp()
    Files.write(Paths.get(dir, "in.jsonl"), java.util.List.of("""{"a":"b"}"""))
    val body =
      s"""{"source": {"name":"s","type":"file","key":"hp1",
         |  "config": {"path": "$dir", "transforms": "uppercase"}},
         | "sink": {"name":"k","type":"memory","key":"hp1",
         |  "config": {"query_name": "http_pipe_out"}}}""".stripMargin
    val created = post("/connector/hp1", body)
    assert(created.statusCode() === 200)
    assert(mapper.readTree(created.body()).get("success").asBoolean())

    assert(engine.activeKeys.contains("hp1"))
    spark.streams.active.foreach(_.processAllAvailable())

    val stResp = get("/status")
    assert(stResp.statusCode() === 200, stResp.body())
    val st = mapper.readTree(stResp.body())
    val entry = st.get("data").get("hp1")
    assert(entry != null, stResp.body())
    assert(entry.get("state").asText().startsWith("active"))
    // the merged progress tree carries streaming runtime detail
    assert(entry.has("progress"))
    assert(spark.table("http_pipe_out").as[String].collect()
      .sameElements(Array("""{"a":"B"}""")))

    // /debug/vars exposes the raw lastProgress per query
    val vars = mapper.readTree(get("/debug/vars").body())
    assert(vars.has("hp1") && vars.get("hp1").has("batchId"))

    assert(delete("/connector/hp1").statusCode() === 200)
    assert(delete("/connector/hp1").statusCode() === 500) // already gone
    assert(mapper.readTree(get("/status").body()).get("data").size() === 0)
  }

  test("batch-mode create runs to completion (?mode=batch)") {
    val in = tmp(); val out = tmp() + "/out"
    Files.write(Paths.get(in, "d.jsonl"), java.util.List.of("""{"n":1}"""))
    val body =
      s"""{"source": {"name":"s","type":"file","key":"hb1", "config": {"path": "$in"}},
         | "sink": {"name":"o","type":"file","key":"hb1", "config": {"file_path": "$out"}}}"""
        .stripMargin
    assert(post("/connector/hb1?mode=batch", body).statusCode() === 200)
    assert(spark.read.text(out).count() === 1)
    // batch pipelines don't register as running
    assert(!engine.activeKeys.contains("hb1"))
  }

  test("error paths: empty body 400, bad payload 400, unknown route 404") {
    val r = post("/connector/x", "")
    assert(r.statusCode() === 400)
    assert(mapper.readTree(r.body()).get("error").asText()
      === "error: no request body") // service.go:1814-1817
    assert(post("/connector/x", """{"nope": 1}""").statusCode() === 400)
    val nf = get("/no/such/route")
    assert(nf.statusCode() === 404)
    assert(mapper.readTree(nf.body()).get("error").asText() === "Not found")
  }

  test("db/request mirrors the reference's ErrNotImplemented (Q5)") {
    val r = post("/db/request", """["SET a 1", "GET a"]""")
    assert(r.statusCode() === 501)
    assert(mapper.readTree(r.body()).get("error").asText() === "not implemented")
  }

  test("queued execute: monotone sequence_number, ?wait visibility (service.go:1106-1159)") {
    // enqueue without wait: sequence_number comes back immediately
    val r1 = post("/db/execute?queue", """["SET qk first"]""")
    assert(r1.statusCode() === 200, r1.body())
    val s1 = mapper.readTree(r1.body()).get("sequence_number").asLong()
    val r2 = post("/db/execute?queue", """["SET qk2 two"]""")
    val s2 = mapper.readTree(r2.body()).get("sequence_number").asLong()
    assert(s2 > s1) // monotone across requests

    // ?wait blocks until applied: the write must be visible right after
    val r3 = post("/db/execute?queue&wait&timeout=30s", """["SET qk third"]""")
    assert(r3.statusCode() === 200, r3.body())
    val s3 = mapper.readTree(r3.body()).get("sequence_number").asLong()
    assert(s3 > s2)
    assert(get("/key?key=qk").body() === "third")

    // queued results carry no per-statement results (applied later)
    assert(mapper.readTree(r3.body()).get("results").size() === 0)

    // un-waited writes land too, once the queue flushes
    val deadline = System.currentTimeMillis() + 10000
    while (get("/key?key=qk2").body() == "nil"
        && System.currentTimeMillis() < deadline) Thread.sleep(50)
    assert(get("/key?key=qk2").body() === "two")

    // malformed statements are rejected before enqueue
    assert(post("/db/execute?queue", """["FROB x"]""").statusCode() === 400)
  }

  test("boolean params accept Go ParseBool forms (?wait=1, ?wait=t)") {
    // rqlite clients send ?wait=1 — Go strconv.ParseBool accepts
    // 1/t/true; a false parse here would silently skip the wait
    val r = post("/db/execute?queue&wait=1&timeout=30s", """["SET pb one"]""")
    assert(r.statusCode() === 200, r.body())
    assert(get("/key?key=pb").body() === "one") // visible: the wait happened
    val r2 = post("/db/execute?queue&wait=T&timeout=30s", """["SET pb two"]""")
    assert(r2.statusCode() === 200, r2.body())
    assert(get("/key?key=pb").body() === "two")
    // explicit false forms skip the wait but still enqueue
    val r3 = post("/db/execute?queue&wait=0", """["SET pb3 three"]""")
    assert(r3.statusCode() === 200, r3.body())
    val deadline = System.currentTimeMillis() + 10000
    while (get("/key?key=pb3").body() == "nil"
        && System.currentTimeMillis() < deadline) Thread.sleep(50)
    assert(get("/key?key=pb3").body() === "three")
  }

  test("flag/timeout corners: ?wait=t, ?wait=F, unparseable flags, bad durations") {
    // lowercase t is true (Go ParseBool)
    val rt = post("/db/execute?queue&wait=t&timeout=30s", """["SET fc one"]""")
    assert(rt.statusCode() === 200, rt.body())
    assert(get("/key?key=fc").body() === "one") // visible: the wait happened
    // F is an explicit false: no wait, still enqueued
    val rf = post("/db/execute?queue&wait=F", """["SET fc2 two"]""")
    assert(rf.statusCode() === 200, rf.body())
    // an unparseable flag value is false (ParseBool err → default),
    // never a 4xx/5xx
    val ry = post("/db/execute?queue&wait=yes", """["SET fc3 three"]""")
    assert(ry.statusCode() === 200, ry.body())
    // a bad duration falls back to the 30s default instead of erroring:
    // the wait still blocks and the write is visible on return
    val rb = post("/db/execute?queue&wait&timeout=bogus", """["SET fc4 four"]""")
    assert(rb.statusCode() === 200, rb.body())
    assert(get("/key?key=fc4").body() === "four")
    // a zero deadline is race-legal: applied-in-time (200) or the
    // reference's 408, never a 5xx
    val rz = post("/db/execute?queue&wait&timeout=0s", """["SET fc5 five"]""")
    assert(rz.statusCode() === 200 || rz.statusCode() === 408, rz.body())
    // the un-waited writes flush through the queue
    val deadline = System.currentTimeMillis() + 10000
    while ((get("/key?key=fc2").body() == "nil"
        || get("/key?key=fc3").body() == "nil")
        && System.currentTimeMillis() < deadline) Thread.sleep(50)
    assert(get("/key?key=fc2").body() === "two")
    assert(get("/key?key=fc3").body() === "three")
  }

  test("nodes reports the single-node topology") {
    val n = mapper.readTree(get("/nodes").body())
    assert(n.get("local").get("leader").asBoolean())
  }

  test("webhook-source pipeline over the control plane: POST /connector, ingest, sink") {
    // the full reference lifecycle (C1) driving the r12 webhook
    // source: external POSTs -> spool -> stream -> transform -> sink
    val spool = tmp()
    val rx = graft.sources.Sources.WebhookSource.start(spool)
    try {
      val body =
        s"""{"source": {"name":"s","type":"webhook","key":"whp1",
           |  "config": {"spool_path": "$spool", "transforms": "uppercase"}},
           | "sink": {"name":"k","type":"memory","key":"whp1",
           |  "config": {"query_name": "webhook_pipe_out"}}}""".stripMargin
      assert(post("/connector/whp1", body).statusCode() === 200)
      val client = java.net.http.HttpClient.newHttpClient()
      def ingest(s: String) = client.send(
        java.net.http.HttpRequest.newBuilder(
            java.net.URI.create(s"http://127.0.0.1:${rx.port}/"))
          .POST(java.net.http.HttpRequest.BodyPublishers.ofString(s)).build(),
        java.net.http.HttpResponse.BodyHandlers.discarding()).statusCode()
      assert(ingest("""{"ev":"a"}""") === 204)
      assert(ingest("""{"ev":"b"}""") === 204)
      spark.streams.active.foreach(_.processAllAvailable())
      val rows = spark.table("webhook_pipe_out").as[String].collect().toSet
      assert(rows === Set("""{"ev":"A"}""", """{"ev":"B"}"""))
    } finally {
      // teardown in finally: a failed assertion must not leak the
      // running spool-tailing query into every later test
      delete("/connector/whp1")
      rx.stop()
    }
  }
}
