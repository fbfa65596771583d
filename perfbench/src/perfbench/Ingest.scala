package perfbench

import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.time.Instant

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery

import graft.model.EndpointConfig
import graft.pipeline.Engine

/** Reads a streaming file sink's commit log (`_spark_metadata`) and
  * notes when each data file was first seen committed. Batch logs are
  * `<n>` or, every tenth batch, `<n>.compact` holding all files so far. */
final class CommitReader(sinkDir: Path) {
  private val meta = sinkDir.resolve("_spark_metadata")
  private val mapper = new ObjectMapper()
  private var nextBatch = 0L
  /** data file → nanoTime of first sight, in commit order */
  val sight = mutable.LinkedHashMap.empty[Path, Long]
  @volatile var committedRecords = 0L
  /** committed batches that added at least one data file */
  var batches = 0L

  /** Pick up every batch committed since the last poll. */
  def poll(nowNs: Long = System.nanoTime()): Unit = {
    var more = true
    while (more) {
      val plain = meta.resolve(nextBatch.toString)
      val compact = meta.resolve(s"$nextBatch.compact")
      val log = if (Files.exists(plain)) Some(plain)
        else if (Files.exists(compact)) Some(compact) else None
      log match {
        case None => more = false
        case Some(f) =>
          val before = sight.size
          Files.readAllLines(f, UTF_8).asScala.drop(1).filter(_.nonEmpty).foreach { l =>
            val p = java.nio.file.Paths.get(new URI(mapper.readTree(l).get("path").asText()))
            if (!sight.contains(p)) {
              sight(p) = nowNs
              committedRecords += Files.readAllLines(p, UTF_8).asScala.count(_.nonEmpty)
            }
          }
          if (sight.size > before) batches += 1
          nextBatch += 1
      }
    }
  }
}

/** One generated ingest record. `dueUs` is when the open-loop schedule
  * meant to create it, in microseconds from the run's clock origin. */
final case class IngestRecord(seq: Long, dueUs: Long, eventTime: Instant, words: Seq[String]) {
  def json: String =
    s"""{"seq":$seq,"due_us":$dueUs,"eventTime":"$eventTime","text":"${words.mkString(" ")}"}"""
}

object IngestGen {
  private val vocab: IndexedSeq[String] = {
    val r = new scala.util.Random(7)
    IndexedSeq.fill(4096)(Seq.fill(3 + r.nextInt(6))(('a' + r.nextInt(26)).toChar).mkString)
  }
  val epoch: Instant = Instant.parse("2026-01-01T00:00:00Z")

  /** Record `seq` of the stream seeded with `seed`: 3–24 words. */
  def record(seed: Long, seq: Long, dueUs: Long): IngestRecord = {
    val r = new scala.util.Random(seed * 1000003L + seq)
    IngestRecord(seq, dueUs, epoch.plusSeconds(seq % 86400000L),
      Seq.fill(3 + r.nextInt(22))(vocab(r.nextInt(vocab.size))))
  }
}

/** ingest_stream: the reference's main plane, source → transform →
  * partition → sink, through `Engine.createPipeline` with a file source
  * on a spool directory and a file sink.
  *
  * After two untimed warm-up batches, the drain phase hands a fixed
  * pre-spooled backlog to fresh pipelines and times each until its last
  * record is committed. Then an open loop runs for half the run's
  * seconds: a generator thread drops one spool file per tick at a fixed
  * rate, stamping each record with its due time; latency runs from that
  * stamp to first sight in the sink's commit log. */
object Ingest {
  val ratePerS = 10000
  val tickMs = 100
  val backlogRecords = 160000
  val backlogFileRecords = 5000
  val warmupBatches = 2
  val drainReps = 6
  val warmupRecords = 20000
  val transforms = "to_job,uppercase,extract_event_time,token_count"

  private def spec(conf: Conf, key: String, spool: Path, sink: Path): String =
    s"""{"source": {"name": "spool", "type": "file", "key": "$key", "config": {
       |  "path": "$spool", "transforms": "$transforms", "partitions": "${conf.cpus}"}},
       |"sink": {"name": "out", "type": "file", "key": "$key", "config": {
       |  "path": "$sink", "checkpoint": "${sink}_ckpt"}}}""".stripMargin

  /** Start a pipeline and wait until its source is initialised. */
  private def start(engine: Engine, json: String): StreamingQuery = {
    val q = engine.createPipeline(json)
    val deadline = System.nanoTime() + 60e9.toLong
    while (q.status.message == "Initializing sources" && System.nanoTime() < deadline) {
      q.exception.foreach(e => throw e)
      Thread.sleep(2)
    }
    q
  }

  def run(conf: Conf, report: Report, spans: Spans): Unit = {
    // -- set-up: session start + pipeline start; the last pipeline stays up
    val spool1 = conf.dir("spool1")
    val sink1 = conf.out.resolve("sink1")
    val lastKey = s"ingest${Session.setupReps - 1}"
    val (spark, engine, q1) = Session.setUp(report, "median of session + pipeline starts")(
      (s: (SparkSession, Engine, StreamingQuery)) => Session.stop(s._1)) { i =>
      val spark = spans("setup.session")(Session.create(conf))
      val engine = new Engine(spark)
      val sink = if (i == Session.setupReps - 1) sink1 else conf.out.resolve(s"setup_sink$i")
      (spark, engine, spans("setup.pipeline")(start(engine, spec(conf, s"ingest$i", spool1, sink))))
    }
    val sparkCounters = new SparkCounters
    val streamCounters = new StreamingCounters
    if (conf.trace) {
      spark.sparkContext.addSparkListener(sparkCounters)
      spark.streams.addListener(streamCounters)
    }

    // -- warm-up, not timed: a few batches through the same pipeline, so
    // the measured phases do not start against cold code and caches
    val reader1 = new CommitReader(sink1)
    val warmSeq = 1L << 31
    for (w <- 0 until warmupBatches) {
      val body = (0 until warmupRecords).map { j =>
        IngestGen.record(conf.seed, j, 0L).copy(seq = warmSeq + w * warmupRecords + j).json
      }.mkString("", "\n", "\n")
      FileUtil.writeAtomically(spool1, f"w$w%02d.json", body)
      val deadline = System.nanoTime() + 60e9.toLong
      while (reader1.committedRecords < (w + 1L) * warmupRecords && System.nanoTime() < deadline) {
        q1.exception.foreach(e => throw e)
        reader1.poll()
        Thread.sleep(5)
      }
    }
    val warmFiles = reader1.sight.keySet.toSet
    val warmed = reader1.committedRecords
    val warmBatches = streamCounters.forQuery(q1.id.toString).size
    val warmCommits = reader1.batches

    // output checks: every record exactly once, correctly transformed
    val mapper = new ObjectMapper()
    def verify(reader: CommitReader, seqOffset: Long, expected: Long,
        onRecord: (Long, Long) => Unit): Unit = {
      report.attempt(expected)
      val seen = new java.util.BitSet()
      var dup = 0L; var bad = 0L
      reader.sight.filterNot(f => warmFiles(f._1)).foreach { case (p, sightNs) =>
        Files.readAllLines(p, UTF_8).asScala.filter(_.nonEmpty).foreach { l =>
          val row = mapper.readTree(l)
          val payload = mapper.readTree(row.get("payload").asText())
          val seq = payload.get("seq").asLong()
          val want = IngestGen.record(conf.seed, seq - seqOffset, payload.get("due_us").asLong())
          if (seq < seqOffset || seq >= seqOffset + expected) bad += 1
          else if (seen.get((seq - seqOffset).toInt)) dup += 1
          else {
            seen.set((seq - seqOffset).toInt)
            val et = Option(row.get("event_time")).map(_.asText()).map(Instant.parse)
            val text = payload.get("text").asText()
            if (text != want.words.mkString(" ").toUpperCase) bad += 1
            else if (!et.contains(want.eventTime)) bad += 1
            else if (row.get("n_tokens").asInt() != want.words.size) bad += 1
            else onRecord(seq, sightNs)
          }
        }
      }
      val missing = expected - seen.cardinality()
      if (missing > 0) report.fail(s"ingest: $missing records never committed", missing)
      if (dup > 0) report.fail(s"ingest: $dup duplicate records", dup)
      if (bad > 0) report.fail(s"ingest: $bad records with wrong payload, event_time or n_tokens", bad)
    }
    // -- drain: a pre-spooled backlog through fresh pipelines; it runs
    // before the open loop so that loop meets warm code
    val spool2 = conf.dir("spool2")
    val seq2 = 1L << 30
    (0 until backlogRecords / backlogFileRecords).foreach { f =>
      val body = (0 until backlogFileRecords).map { j =>
        IngestGen.record(conf.seed, f.toLong * backlogFileRecords + j, 0L).copy(
          seq = seq2 + f.toLong * backlogFileRecords + j).json }.mkString("", "\n", "\n")
      FileUtil.writeAtomically(spool2, f"b$f%05d.json", body)
    }
    val drains = (0 until drainReps).map { d =>
      val sink2 = conf.out.resolve(s"sink2_$d")
      val reader2 = new CommitReader(sink2)
      val d0 = Clock.now
      val q2 = spans("drain")(start(engine, spec(conf, s"ingest_drain$d", spool2, sink2)))
      val dDeadline = d0 + 30e9.toLong
      while (reader2.committedRecords < backlogRecords && System.nanoTime() < dDeadline) {
        q2.exception.foreach(e => throw e)
        reader2.poll()
        Thread.sleep(2)
      }
      val drainS = Clock.s(d0)
      engine.deletePipeline(s"ingest_drain$d")
      verify(reader2, seq2, backlogRecords, (_, _) => ())
      backlogRecords / drainS
    }
    report.note(drains.map(x => f"$x%.0f").mkString("drain records/s per pipeline: ", ", ", ""))
    // the first drain still warms the big-batch code path; it is checked, not timed
    report.put("drain_rps", Stats.median(drains.tail), "1/s", drains.size - 1,
      s"median over fresh pipelines after the first, each draining $backlogRecords records")

    // -- open loop
    val loopS = math.max(3.0, conf.seconds * 0.5)
    val ticks = (loopS * 1000 / tickMs).toInt
    val perTick = ratePerS * tickMs / 1000
    val lateMs = mutable.ArrayBuffer.empty[Double]
    val backlog = mutable.ArrayBuffer.empty[Long]
    @volatile var generated = 0L
    val origin = Clock.now
    val gen = new Thread(() => {
      for (t <- 0 until ticks) {
        val dueNs = origin + t.toLong * tickMs * 1000000L
        val wait = dueNs - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
        lateMs += Clock.ms(dueNs)
        val dueUs = (dueNs - origin) / 1000
        val body = (0 until perTick).map { j =>
          IngestGen.record(conf.seed, t.toLong * perTick + j, dueUs).json }.mkString("", "\n", "\n")
        FileUtil.writeAtomically(spool1, f"t$t%06d.json", body)
        generated += perTick
      }
    }, "perfbench-generator")
    gen.start()
    val expectedLoop = ticks.toLong * perTick
    val loopDeadline = origin + ((loopS + 20) * 1e9).toLong
    var nextSample = origin
    while (reader1.committedRecords - warmed < expectedLoop && System.nanoTime() < loopDeadline) {
      q1.exception.foreach(e => throw e)
      reader1.poll()
      if (System.nanoTime() >= nextSample && gen.isAlive) {
        backlog += generated - (reader1.committedRecords - warmed)
        nextSample += 250000000L
      }
      Thread.sleep(5)
    }
    gen.join()
    engine.deletePipeline(lastKey)
    val loopBatches =
      if (conf.trace) streamCounters.forQuery(q1.id.toString).drop(warmBatches) else Nil

    val latMs = mutable.ArrayBuffer.empty[Double]
    val dueBySeq = (seq: Long) => (seq / perTick) * tickMs * 1000L
    verify(reader1, 0L, expectedLoop, (seq, sightNs) =>
      latMs += (sightNs - origin) / 1e6 - dueBySeq(seq) / 1000.0)
    if (latMs.nonEmpty) {
      // committed batches are the independent samples: every record of a
      // batch is first seen at the same commit
      val batches = (reader1.batches - warmCommits).toInt
      val files = reader1.sight.size - warmFiles.size
      for ((name, p) <- Seq("ingest_lat_p50_ms" -> 0.5, "ingest_lat_p95_ms" -> 0.95))
        report.put(name, Stats.percentile(latMs.toSeq, p), "ms", batches,
          (s"${latMs.size} records in $files files over $batches committed batches" +:
            Seq(Stats.supportNote(batches, p)).filter(_.nonEmpty)).mkString("; "))
    }
    report.put("offered_rate_per_s", ratePerS.toDouble, "1/s", ticks)
    report.note(f"validity: generator lateness p50 ${Stats.median(lateMs.toSeq)}%.2f ms, " +
      f"max ${lateMs.max}%.2f ms over ${lateMs.size} ticks")
    val third = math.max(1, backlog.size / 3)
    val grew = backlog.size >= 3 &&
      backlog.takeRight(third).sum / third > backlog.take(third).sum / third + ratePerS
    report.note(s"validity: ingest backlog first/last third " +
      s"${backlog.take(third).sum / third}/${backlog.takeRight(third).sum / third} records, " +
      (if (grew) "GREW: the offered rate is not sustainable on this host" else "steady"))

    if (conf.trace) layers(conf, report, spark, spool2, loopBatches, sparkCounters,
      backlog.maxOption.getOrElse(0L), perTick)
    Session.stop(spark)
  }

  /** Per-layer numbers: streaming progress of the open loop, and timed direct
    * calls of Sources/Ops/Sinks on the drain backlog. */
  private def layers(conf: Conf, report: Report, spark: SparkSession, spool: Path,
      batches: Seq[StreamingCounters#Batch], counters: SparkCounters,
      backlogMax: Long, perFile: Int): Unit = {
    val busy = batches.filter(_.rows > 0)
    if (busy.isEmpty) report.note("no non-empty streaming progress event arrived, so the " +
      "sources.offset_ms, sinks.add_batch_ms and streaming.* batch metrics are missing")
    def med(f: Map[String, Long] => Double, name: String, unit: String): Unit =
      if (busy.nonEmpty) report.put(name, Stats.median(busy.map(b => f(b.durations))), unit, busy.size)
    def d(m: Map[String, Long], k: String) = m.getOrElse(k, 0L).toDouble
    med(m => d(m, "latestOffset") + d(m, "getBatch"), "sources.offset_ms", "ms")
    med(m => d(m, "addBatch"), "sinks.add_batch_ms", "ms")
    med(m => d(m, "triggerExecution"), "streaming.trigger_ms", "ms")
    med(m => d(m, "queryPlanning"), "streaming.plan_ms", "ms")
    med(m => d(m, "walCommit") + d(m, "commitOffsets"), "streaming.commit_ms", "ms")
    if (busy.nonEmpty)
      report.put("streaming.rows_per_batch", Stats.median(busy.map(_.rows.toDouble)), "rows", busy.size)
    report.put("streaming.backlog_files_max", math.ceil(backlogMax.toDouble / perFile), "files", 1)
    val snap = counters.snapshot
    SparkCounters.put(report, snap)

    val src = EndpointConfig("spool", "file", Map("path" -> spool.toString), "direct")
    val out = EndpointConfig("out", "file", Map("path" -> conf.out.resolve("direct_out").toString), "direct")
    val n = backlogRecords.toDouble
    def read() = graft.sources.Sources.batch("file")(spark, src)
    def chained() = graft.ops.Ops.chain(transforms.split(","))(read())
    read().count() // warm the file listing
    val (_, readMs) = Clock.timed(read().write.format("noop").mode("overwrite").save())
    val (_, chainMs) = Clock.timed(chained().write.format("noop").mode("overwrite").save())
    val (_, sinkMs) = Clock.timed(graft.sinks.Sinks.batch("file")(chained(), out))
    report.put("sources.read_ns_per_rec", readMs * 1e6 / n, "ns/rec", 1)
    report.put("ops.chain_ns_per_rec", math.max(0, chainMs - readMs) * 1e6 / n, "ns/rec", 1,
      "read+chain to noop, minus read")
    report.put("sinks.write_ns_per_rec", math.max(0, sinkMs - chainMs) * 1e6 / n, "ns/rec", 1,
      "read+chain+file sink, minus read+chain")
  }
}
