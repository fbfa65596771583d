package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.{EndpointConfig, Schemas}

/** Source registry (reference S5, `internal/pipeline/config.go:250-268`
  * — a `type → impl` factory). The reference wires mongodb + kafka;
  * we register those plus the README-declared file/rate sources, each
  * in batch and streaming flavors.
  *
  * MongoDB CDC (S1/S2) is modeled as a CDC-envelope feed: any
  * file/kafka stream of change-event JSON with the [[Schemas.cdc]]
  * shape. `load_initial_data=true` (mongo.go:71-76) maps to
  * reading the feed from its start: kafka begins at `earliest`, and
  * a file-backed feed reads its existing files as the first
  * micro-batch before the tail.
  */
object Sources {
  type BatchSource = (SparkSession, EndpointConfig) => DataFrame
  type StreamSource = (SparkSession, EndpointConfig) => DataFrame

  private def path(c: EndpointConfig): String =
    c.config.getOrElse("path", sys.error(s"source '${c.name}': missing 'path'"))

  /** Parse a CDC-envelope JSON feed into typed columns; only
    * full_document flows downstream by default (mongo.go:274). */
  private def cdcProject(df: DataFrame): DataFrame =
    df.select(from_json(col("value"), Schemas.cdc).as("cdc"))
      .select(col("cdc.*"))

  val batch: Map[String, BatchSource] = Map(
    "parquet" -> ((s, c) => s.read.parquet(path(c))),
    "file" -> ((s, c) => // NDJSON lines, schemaless payload
      s.read.text(path(c)).withColumnRenamed("value", "payload")),
    "json" -> ((s, c) => s.read.json(path(c))),
    "csv" -> ((s, c) => s.read.option("header", "true").csv(path(c))),
    "orc" -> ((s, c) => s.read.orc(path(c))), // columnar peer of parquet, in-box
    "mongodb" -> ((s, c) => // CDC envelope feed from files (see scaladoc)
      cdcProject(s.read.text(path(c)))),
    "kafka" -> ((s, c) => s.read.format("kafka")
      .option("kafka.bootstrap.servers", c.config.getOrElse("bootstrap_servers", ""))
      .option("subscribe", c.config.getOrElse("topic", ""))
      .load().selectExpr("CAST(value AS STRING) AS payload")),
    // README-declared jdbc source; exercised end-to-end against the
    // embedded Derby engine that ships with Spark's jars (JdbcSpec,
    // jdbc_roundtrip). `partition_column`/`num_partitions` map to
    // Spark's parallel-read split so a big table scans as N concurrent
    // range queries instead of one driver-side cursor.
    "jdbc" -> ((s, c) => {
      val r = s.read.format("jdbc")
        .option("url", c.config.getOrElse("url",
          sys.error(s"source '${c.name}': missing 'url'")))
        .option("dbtable", c.config.getOrElse("dbtable",
          sys.error(s"source '${c.name}': missing 'dbtable'")))
      val part = for {
        pc <- c.config.get("partition_column")
        lo <- c.config.get("lower_bound"); hi <- c.config.get("upper_bound")
      } yield r.option("partitionColumn", pc).option("lowerBound", lo)
        .option("upperBound", hi)
        .option("numPartitions", c.config.getOrElse("num_partitions", "8"))
      part.getOrElse(r).load()
    }),
    // README-declared http source, two layouts:
    //  - `urls` (comma-separated) or `urls_path` (a text file/table of
    //    URLs, one per line): fetches run per partition ON THE
    //    EXECUTORS — at 1000 executors that is 1000 concurrent
    //    download lanes, the mirror of HttpSink.postBatch's upload
    //    layout. This is the at-scale path.
    //  - `url` (single): one URL is one byte stream, so the fetch is
    //    inherently driver-side; rows parallelize immediately after.
    "http" -> ((s, c) => {
      val par = c.config.getOrElse("fetch_partitions", "32").toInt
      (c.config.get("urls"), c.config.get("urls_path")) match {
        case (Some(list), _) =>
          val urls = list.split(",").map(_.trim).filter(_.nonEmpty).toIndexedSeq
          HttpSource.fetchMany(
            s.createDataset(urls)(org.apache.spark.sql.Encoders.STRING),
            math.min(par, urls.size))
        case (None, Some(p)) =>
          HttpSource.fetchMany(
            s.read.text(p).as(org.apache.spark.sql.Encoders.STRING), par)
        case (None, None) =>
          val url = c.config.getOrElse("url",
            sys.error(s"source '${c.name}': missing 'url' (or 'urls'/'urls_path')"))
          val lines = HttpSource.fetchOne(url).toIndexedSeq
          s.createDataset(lines)(org.apache.spark.sql.Encoders.STRING)
            .toDF("payload")
      }
    }))

  val stream: Map[String, StreamSource] = Map(
    "file" -> ((s, c) => s.readStream.text(path(c))
      .withColumnRenamed("value", "payload")),
    "parquet" -> ((s, c) => {
      val schema = s.read.parquet(path(c)).schema // infer once, batch-side
      s.readStream.schema(schema).parquet(path(c))
    }),
    "mongodb" -> ((s, c) => cdcProject(s.readStream.text(path(c)))),
    "kafka" -> ((s, c) => s.readStream.format("kafka")
      .option("kafka.bootstrap.servers", c.config.getOrElse("bootstrap_servers", ""))
      .option("subscribe", c.config.getOrElse("topic", ""))
      .option("startingOffsets",
        // S4: "initial load" = consume from the beginning (kafka.go:185-193)
        if (c.config.get("load_initial_data").contains("true")) "earliest"
        else c.config.getOrElse("starting_offsets", "latest"))
      .load().selectExpr("CAST(value AS STRING) AS payload")),
    "rate" -> ((s, c) => s.readStream.format("rate")
      .option("rowsPerSecond", c.config.getOrElse("rows_per_second", "10"))
      .load().selectExpr("CAST(value AS STRING) AS payload")),
    // README-declared webhook source (reference README.md:66-83; zero
    // code there — beyond-parity here). Inbound HTTP POSTs land in a
    // spool directory (the receiver writes complete files atomically,
    // see [[WebhookSource]]), and the stream is the file source over
    // that spool — so ingestion survives driver restarts (spooled
    // payloads are durable and replayable from the checkpoint) instead
    // of living in server memory. The factory wires the SPOOL; the
    // receiver's lifecycle (bind/stop) is explicit via
    // [[WebhookSource.start]], owned by whoever owns the port.
    "webhook" -> ((s, c) => {
      val spool = c.config.getOrElse("spool_path",
        sys.error(s"source '${c.name}': missing 'spool_path'"))
      s.readStream.text(spool).withColumnRenamed("value", "payload")
    }))

  /** S6 http fetch kernels, shared by the single- and many-URL layouts. */
  object HttpSource {
    /** GET one NDJSON endpoint, non-2xx → error (no silent drops). */
    def fetchOne(url: String): Iterator[String] = {
      val client = java.net.http.HttpClient.newHttpClient()
      val resp = client.send(
        java.net.http.HttpRequest.newBuilder(java.net.URI.create(url)).GET().build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      if (resp.statusCode() >= 300)
        sys.error(s"http source: GET $url returned ${resp.statusCode()}")
      resp.body().split("\n").iterator.filter(_.nonEmpty)
    }

    /** Fan a URL table out across `par` partitions and fetch inside
      * `mapPartitions` — the download happens in tasks, not on the
      * driver, one HTTP client per partition. A failed fetch fails its
      * task (and the job), matching the sink's delivery honesty. */
    def fetchMany(urls: org.apache.spark.sql.Dataset[String], par: Int): DataFrame =
      urls.repartition(math.max(par, 1))
        .mapPartitions(it => it.flatMap(fetchOne))(
          org.apache.spark.sql.Encoders.STRING)
        .toDF("payload")
  }

  /** Inbound-HTTP receiver backing the `webhook` stream source: every
    * POST body becomes one spool file, written atomically (temp file +
    * rename in the same directory) so the Structured Streaming file
    * source can never observe a half-written payload. Payload bytes
    * are spooled verbatim — one POST = one file = its lines become
    * rows, so a caller POSTing NDJSON gets one row per line (the
    * file-source contract, same as the `file` type).
    *
    * Scale/deployment notes: the receiver is a spool WRITER, not part
    * of the query plan — run N receivers behind a load balancer all
    * writing the same (shared-fs/object-store) spool and one Spark
    * query tails them all; durability is the spool file, so a crashed
    * driver replays from its checkpoint without data loss (the
    * at-least-once contract every file source carries). 413-caps the
    * body at `maxBodyBytes` — an unbounded webhook body is the HTTP
    * shape of a decompression bomb. */
  /** One-time JVM belt for every jdk.httpserver surface in graft
    * (webhook receiver, control-plane HttpService): the documented
    * `sun.net.httpserver.maxReqTime` request-time bound kills an
    * exchange whose client stalls inside a single blocking read.
    * The JDK reads the property ONCE, at `ServerConfig` class-init —
    * i.e. when the first HttpServer of the JVM is constructed — so
    * every graft server-creation site calls [[ensure]] first and the
    * property is set before any graft server can trigger that init
    * (ADVICE r14: setting it inside one start() path was a silent
    * no-op if another server came up earlier). First-server-wins
    * remains for EMBEDDING apps: if host code created an HttpServer
    * before any graft code ran, this belt is inert — the webhook
    * drain loop's own 10 s wall-clock deadline still bounds the
    * drain path regardless.
    *
    * The same hook turns on `sun.net.httpserver.nodelay` (TCP_NODELAY
    * on accepted sockets), again unless already set. The JDK server
    * writes response headers and body as separate segments; on a
    * keep-alive connection Nagle's algorithm then holds the body until
    * the client's delayed ACK, a fixed ~40 ms on every response. */
  object HttpServerTuning {
    private val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    def ensure(): Unit =
      if (done.compareAndSet(false, true)) {
        setUnlessSet("sun.net.httpserver.maxReqTime", "30")
        setUnlessSet("sun.net.httpserver.nodelay", "true")
      }
    private def setUnlessSet(key: String, value: String): Unit =
      if (System.getProperty(key) == null) System.setProperty(key, value)
  }

  object WebhookSource {
    final class Receiver private[WebhookSource] (
        server: com.sun.net.httpserver.HttpServer, val spoolDir: String) {
      def port: Int = server.getAddress.getPort
      def stop(): Unit = server.stop(0)
    }

    /** `host` defaults to loopback (the HttpService convention); a
      * load-balanced deployment binds "0.0.0.0" explicitly. */
    def start(spoolDir: String, port: Int = 0,
        maxBodyBytes: Int = 8 * 1024 * 1024,
        host: String = "127.0.0.1"): Receiver = {
      val dir = java.nio.file.Paths.get(spoolDir)
      java.nio.file.Files.createDirectories(dir)
      // belt to the drain loop's braces: the jdk.httpserver-documented
      // request-time bound kills an exchange whose client stalls inside
      // a single blocking read (the in-loop deadline only fires between
      // reads). Set via the JVM-wide one-time hook — see
      // [[HttpServerTuning]] for the first-server-wins caveat.
      HttpServerTuning.ensure()
      val server = com.sun.net.httpserver.HttpServer.create(
        new java.net.InetSocketAddress(host, port), 0)
      server.createContext("/", (ex: com.sun.net.httpserver.HttpExchange) => {
        try {
          if (ex.getRequestMethod != "POST") {
            ex.sendResponseHeaders(405, -1)
          } else {
            val body = ex.getRequestBody.readNBytes(maxBodyBytes + 1)
            if (body.length > maxBodyBytes) {
              // drain (bounded discard) before responding: closing the
              // exchange with unread request bytes resets the TCP
              // connection, so a client mid-upload may never see the
              // 413. Reading to EOF (capped at 4x the limit — an
              // unbounded drain would re-open the bomb) lets the
              // status line reach well-behaved clients; a still-larger
              // body falls back to the reset, which is the correct
              // fate for an abusive sender. The drain is bounded in
              // TIME too (10 s wall-clock deadline): a byte cap alone
              // leaves a slowloris hold — a client trickling one byte
              // per read keeps the handler thread pinned indefinitely
              // while staying under 4x — so a slow-trickling sender
              // gets the reset once the deadline passes.
              val in = ex.getRequestBody
              val chunk = new Array[Byte](64 * 1024)
              val drainDeadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
              var drained = 0L
              var n = 0
              while (n >= 0 && drained < 4L * maxBodyBytes &&
                  System.nanoTime() < drainDeadline) {
                n = in.read(chunk)
                if (n > 0) drained += n
              }
              ex.sendResponseHeaders(413, -1)
            } else {
              val tmp = java.nio.file.Files.createTempFile(dir, ".spool-", ".tmp")
              java.nio.file.Files.write(tmp, body)
              // rename within the directory: atomic on POSIX, and the
              // file source ignores the dot-prefixed temp name anyway
              java.nio.file.Files.move(tmp, dir.resolve(
                s"wh-${System.nanoTime()}-${java.util.UUID.randomUUID()}.ndjson"),
                java.nio.file.StandardCopyOption.ATOMIC_MOVE)
              ex.sendResponseHeaders(204, -1)
            }
          }
        } finally ex.close()
      })
      server.start()
      new Receiver(server, spoolDir)
    }
  }

  def resolveBatch(c: EndpointConfig): BatchSource =
    batch.getOrElse(c.connectionType,
      throw new IllegalArgumentException(
        s"invalid source type: ${c.connectionType}")) // config.go:265-267

  def resolveStream(c: EndpointConfig): StreamSource =
    stream.getOrElse(c.connectionType,
      throw new IllegalArgumentException(
        s"invalid source type: ${c.connectionType}"))
}
