package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.LeftAnti
import org.apache.spark.sql.catalyst.plans.logical.Join

import graft.kv.{GetStmt, KvEngine, SetStmt}
import graft.pipeline.{Engine, HttpService}

/** Zipf(s = 1) ranks over [0, n), by inverse CDF on a precomputed table. */
final class Zipf(n: Int) {
  private val cdf: Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / (i + 1))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total)
  }
  def next(r: scala.util.Random): Int = {
    val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
    math.min(n - 1, if (i >= 0) i else -i - 1)
  }
}

/** What one client expects a read of its own key to return: its last
  * acknowledged write of the key, else the preloaded value. */
final class KvModel(seed: Long) {
  val written = mutable.HashMap.empty[String, Option[String]]
  def ack(k: String, value: Option[String]): Unit = written(k) = value
  def expect(k: String): Option[String] =
    written.getOrElse(k, Some(KvHttp.preloadValue(k.drop(1).toInt, seed)))
  /** Empty when a read of `k` returned what the model holds, else why not. */
  def stale(k: String, got: Option[String]): Option[String] =
    if (got == expect(k)) None else Some(s"read $got for $k, expected ${expect(k)}")
}

/** kv_http: the state and control planes behind HTTP. Windows of a
  * closed loop of two clients, each starting from a fresh `/db/load`.
  * Per block of ten ops a client sends 4 SET and 1 DELETE of its own
  * Zipf-chosen keys in seeded order, each followed by a GET (`/db/query`)
  * of the key it wrote: GET 50 %, SET 40 %, DELETE 10 %, the GETs hits
  * and misses. Writes go half to `/db/execute`, half to
  * `/db/execute?queue&wait`. Each GET checks read-your-writes against the
  * client's model, and the final `/db/backup` must equal the model. */
object KvHttp {
  val preloadKeys = 100000
  val clients = 2
  val compactEvery = 32
  /** Untimed warm-up windows, timed windows per 15 s of --seconds, and
    * blocks of ten ops per client in each window. */
  val warmupWindows = 2
  val windowsPer15s = 4
  val blocksPerWindow = 1

  def key(i: Int): String = f"k$i%06d"
  def preloadValue(i: Int, seed: Long): String = s"v$i-$seed"

  private final class Client(base: String) {
    private val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1)
      .connectTimeout(Duration.ofSeconds(10)).build()
    /** POST; a transport error or timeout comes back as status -1. */
    def post(path: String, body: String): (Int, String) =
      try {
        val req = HttpRequest.newBuilder(URI.create(base + path))
          .timeout(Duration.ofSeconds(60))
          .POST(HttpRequest.BodyPublishers.ofString(body)).build()
        val r = http.send(req, HttpResponse.BodyHandlers.ofString())
        (r.statusCode(), r.body())
      } catch { case e: java.io.IOException => (-1, e.toString) }
    def get(path: String): (Int, String) = {
      val req = HttpRequest.newBuilder(URI.create(base + path))
        .timeout(Duration.ofSeconds(60)).GET().build()
      val r = http.send(req, HttpResponse.BodyHandlers.ofString())
      (r.statusCode(), r.body())
    }
  }

  private val mapper = new ObjectMapper()

  /** The value a `/db/query` response carries for one GET, None on a miss. */
  def queryValue(body: String): Option[String] = {
    val vs = mapper.readTree(body).get("results").get(0).get("values")
    if (vs.size() == 0) None else Some(vs.get(0).get(1).asText())
  }

  def planDepth(state: DataFrame): Int =
    state.queryExecution.logical.collect { case j: Join if j.joinType == LeftAnti => j }.size

  def run(conf: Conf, report: Report, spans: Spans): Unit = {
    val preload = (0 until preloadKeys).map(i => key(i) -> preloadValue(i, conf.seed))
    val dump = preload.map { case (k, v) => s"""{"key":"$k","value":"$v"}""" }
      .mkString("", "\n", "\n")

    // -- set-up: session + HttpService start + /db/load
    val (spark, kv, svc) = Session.setUp(report,
        s"median of session + HttpService start + /db/load of $preloadKeys keys")(
      (x: (SparkSession, KvEngine, HttpService)) => { x._3.stop(); Session.stop(x._1) }) { _ =>
      val spark = spans("setup.session")(Session.create(conf))
      val kv = new KvEngine(spark, KvEngine.empty(spark).state, compactEvery)
      val svc = spans("setup.http")(new HttpService(new Engine(spark), kv).start())
      val (code, body) = spans("setup.load")(
        new Client(s"http://127.0.0.1:${svc.boundPort}").post("/db/load", dump))
      require(code == 200, s"/db/load returned $code: $body")
      (spark, kv, svc)
    }
    val base = s"http://127.0.0.1:${svc.boundPort}"
    val loader = new Client(base)
    val counters = new SparkCounters
    if (conf.trace) spark.sparkContext.addSparkListener(counters)

    // plan-depth sampler (trace only): counts merges as depth steps
    val depthSamples = mutable.ArrayBuffer.empty[Double]
    var merges = 0L
    def sampleDepth(window: => Unit): Unit = if (!conf.trace) window else {
      @volatile var sampling = true
      val sampler = new Thread(() => {
        var last = planDepth(kv.state)
        while (sampling) {
          val d = planDepth(kv.state)
          if (d > last) merges += d - last
          else if (d < last) merges += (compactEvery - last) + d
          last = d
          depthSamples += d
          Thread.sleep(2)
        }
      }, "perfbench-depth")
      sampler.start()
      try window finally { sampling = false; sampler.join() }
    }

    // -- closed loop, in windows. Each is a fixed amount of work that
    // starts from plan depth 0, not a fixed time: GET cost grows with the
    // writes applied since the last compaction, so a fixed time would let
    // a faster commit reach deeper plans and read slower. The first
    // windows warm the code and are checked but not timed.
    val getMs, writeMs, queuedMs = new java.util.concurrent.ConcurrentLinkedQueue[Double]
    val acked = new java.util.concurrent.atomic.AtomicLong
    val ownZipf = new Zipf(preloadKeys / clients)
    val windows = math.max(1, math.round(conf.seconds * windowsPer15s / 15.0).toInt)
    val deadline = Clock.now + 6L * conf.seconds * 1000000000L
    val windowS = mutable.ArrayBuffer.empty[Double]
    var models = Array.empty[KvModel]
    for (w <- 0 until warmupWindows + windows) {
      val timed = w >= warmupWindows
      require(loader.post("/db/load", dump)._1 == 200, s"/db/load before window $w failed")
      models = Array.fill(clients)(new KvModel(conf.seed))
      val threads = (0 until clients).map { c =>
        new Thread(() => {
          val client = new Client(base)
          val r = new scala.util.Random((conf.seed * 31 + w) * 31 + c)
          val model = models(c)
          // the mix is exact in every block, in seeded order, so runs
          // differ in keys and order but not in how much of each op
          val writes = Seq.fill(blocksPerWindow)(r.shuffle("SSSSD".toSeq)).flatten
          var counter = 0
          for (op <- writes) {
            if (System.nanoTime() >= deadline) {
              report.attempt(2)
              report.fail(s"client $c: a write and its GET not started before the deadline", 2)
            } else {
              // each client writes only keys i with i % clients == c
              val k = key(ownZipf.next(r) * clients + c)
              counter += 1
              val (stmt, after) =
                if (op == 'S') { val v = s"c$c-w$w-$counter"; (s"SET $k $v", Some(v)) }
                else (s"DELETE $k", None)
              val queued = (counter + c) % 2 == 0
              val path = if (queued) "/db/execute?queue&wait&timeout=60s" else "/db/execute"
              report.attempt()
              val (res, ms) = Clock.timed(client.post(path, s"""["$stmt"]"""))
              if (res._1 != 200) report.fail(s"$path $stmt returned ${res._1}: ${res._2.take(200)}")
              else {
                model.ack(k, after)
                if (timed) {
                  acked.incrementAndGet()
                  (if (queued) queuedMs else writeMs).add(ms)
                }
              }
              // the GET that reads the key back, after a failed write too
              report.attempt()
              val (g, gms) = Clock.timed(client.post("/db/query", s"""["GET $k"]"""))
              if (g._1 != 200) report.fail(s"GET $k returned ${g._1}")
              else {
                if (timed) getMs.add(gms)
                model.stale(k, queryValue(g._2)).foreach(why => report.fail(s"client $c $why"))
              }
            }
          }
        }, s"perfbench-client-$c")
      }
      val t0 = Clock.now
      def go(): Unit = { threads.foreach(_.start()); threads.foreach(_.join()) }
      if (timed) sampleDepth(go()) else go()
      if (timed) windowS += Clock.s(t0)
      else report.note(f"kv: untimed warm-up window $w took ${Clock.s(t0)}%.2f s")
    }
    report.note(windowS.map(x => f"$x%.2f").mkString("kv: timed window seconds: ", ", ", ""))
    val snap = counters.snapshot

    def put(name: String, xs: Iterable[Double], p: Double): Unit = if (xs.nonEmpty) {
      val s = xs.toSeq
      report.put(name, Stats.percentile(s, p), "ms", s.size,
        Stats.supportNote(s.size, p))
    }
    put("get_p50_ms", getMs.asScala, 0.5)
    put("get_p95_ms", getMs.asScala, 0.95)
    put("write_p50_ms", writeMs.asScala, 0.5)
    put("write_p95_ms", writeMs.asScala, 0.95)
    put("queued_write_p95_ms", queuedMs.asScala, 0.95)
    val ops = getMs.size + writeMs.size + queuedMs.size
    report.put("kv_ops_per_s", ops / windowS.sum, "1/s", ops,
      f"$clients clients, $windows windows from plan depth 0 over ${windowS.sum}%.1f s, " +
        s"${acked.get} acknowledged writes")

    // -- final state must equal the model
    val expected = mutable.HashMap.from(preload)
    models.foreach(_.written.foreach {
      case (k, Some(v)) => expected(k) = v
      case (k, None)    => expected.remove(k)
    })
    val b0 = Clock.now
    val (code, body) = new Client(base).get("/db/backup")
    report.note(f"kv: /db/backup took ${Clock.s(b0)}%.2f s")
    report.attempt()
    if (code != 200) report.fail(s"/db/backup returned $code")
    else {
      val got = body.split('\n').iterator.filter(_.nonEmpty).map { l =>
        val n = mapper.readTree(l); n.get("key").asText() -> n.get("value").asText()
      }.toMap
      if (got != expected) {
        val diff = (got.keySet ++ expected.keySet).count(k => got.get(k) != expected.get(k))
        report.fail(s"/db/backup differs from the model on $diff keys")
      }
    }

    if (conf.trace) {
      SparkCounters.put(report, snap)
      if (depthSamples.nonEmpty)
        report.put("kv.plan_depth", Stats.median(depthSamples.toSeq), "joins", depthSamples.size)
      else report.note("no plan-depth sample was taken, so kv.plan_depth is missing")
      report.put("kv.merges_per_write", merges.toDouble / math.max(1L, acked.get), "ratio",
        acked.get.toInt)
      layers(report, spark, kv, base, preload, dump)
    }
    svc.stop()
    Session.stop(spark)
  }

  /** Timed direct calls into KvEngine on the same inputs: a replay from
    * the preload through one compaction cycle, and HTTP-vs-direct GETs. */
  private def layers(report: Report, spark: SparkSession, live: KvEngine,
      base: String, preload: Seq[(String, String)], dump: String): Unit = {
    import spark.implicits._
    val client = new Client(base)
    // back to plan depth 0, so each pair costs ~0.1 s instead of ~1 s
    require(client.post("/db/load", dump)._1 == 200, "/db/load before the overhead pairs failed")
    val overhead = (0 until 10).map { j =>
      val k = key(j * 9973 % preloadKeys)
      val (_, httpMs) = Clock.timed(client.post("/db/query", s"""["GET $k"]"""))
      val (_, directMs) = Clock.timed(live.synchronized(live.query(GetStmt(k)).collect()))
      httpMs - directMs
    }
    report.put("pipeline.http_overhead_ms", Stats.median(overhead), "ms", overhead.size)

    val counters = new SparkCounters
    spark.sparkContext.addSparkListener(counters)
    val kv = new KvEngine(spark, preload.toDF("key", "value"), compactEvery)
    val queryMs, execMs = mutable.ArrayBuffer.empty[Double]
    var compactMs = 0.0
    var jobs, tasks = 0L
    for (d <- 0 until compactEvery) {
      if (d % 8 == 0 || d == compactEvery - 1) {
        val before = counters.snapshot
        val (_, ms) = Clock.timed(kv.query(GetStmt(key(d))).collect())
        Thread.sleep(100) // listener events arrive asynchronously
        val after = counters.snapshot
        jobs += after("jobs") - before("jobs"); tasks += after("tasks") - before("tasks")
        queryMs += ms
      }
      val (_, ms) = Clock.timed(kv.execute(Seq(SetStmt(key(d), s"replay$d"))))
      if (d == compactEvery - 1) compactMs = ms else execMs += ms
    }
    spark.sparkContext.removeSparkListener(counters)
    report.put("kv.query_ms", Stats.median(queryMs.toSeq), "ms", queryMs.size,
      "direct KvEngine.query at plan depths 0, 8, 16, 24, 31")
    report.put("kv.jobs_per_get", jobs.toDouble / queryMs.size, "jobs", queryMs.size)
    report.put("kv.tasks_per_get", tasks.toDouble / queryMs.size, "tasks", queryMs.size)
    report.put("kv.execute_ms", Stats.median(execMs.toSeq), "ms", execMs.size)
    report.put("kv.compaction_ms", compactMs, "ms", 1, "the execute that compacts")
  }
}
