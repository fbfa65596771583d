package perfbench

import java.io.PrintWriter
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Paths

/** Entry point of the measuring JVM (started by perfbench/run.py).
  *
  * Every workload fills a [[Report]] with its named metrics. The final
  * result carries the end-to-end metrics of BENCHMARK.json (untraced
  * run) or the per-layer ones (traced run); the report text printed
  * before it names every metric of the run with its unit and sample
  * count, the output-check tallies and the validity evidence. */
object Main {
  /** BENCHMARK.json's end-to-end metrics: name → (unit, the workload
    * metric each one reads on ingest_stream, kv_http, corpus_dedup). */
  val endToEnd: Seq[(String, String, Map[String, String])] = Seq(
    ("setup_s", "s", Map("ingest_stream" -> "setup_s", "kv_http" -> "setup_s",
      "corpus_dedup" -> "setup_s")),
    ("latency_ms", "ms", Map("ingest_stream" -> "ingest_lat_p50_ms",
      "kv_http" -> "get_p50_ms", "corpus_dedup" -> "dedup_job_ms")),
    ("throughput_per_s", "1/s", Map("ingest_stream" -> "drain_rps",
      "kv_http" -> "kv_ops_per_s", "corpus_dedup" -> "corpus_rows_per_s")))

  /** BENCHMARK.json's per-layer metrics: name → (unit, the workload
    * whose run must measure it; "all" for every workload). */
  val perLayer: Seq[(String, String, String)] = {
    def on(w: String)(ms: (String, String)*) = ms.map { case (n, u) => (n, u, w) }
    on("ingest_stream")(
      "sources.offset_ms" -> "ms", "sources.read_ns_per_rec" -> "ns/rec",
      "ops.chain_ns_per_rec" -> "ns/rec", "sinks.write_ns_per_rec" -> "ns/rec",
      "sinks.add_batch_ms" -> "ms", "streaming.trigger_ms" -> "ms",
      "streaming.plan_ms" -> "ms", "streaming.commit_ms" -> "ms",
      "streaming.rows_per_batch" -> "rows", "streaming.backlog_files_max" -> "files") ++
    on("kv_http")(
      "pipeline.http_overhead_ms" -> "ms", "kv.query_ms" -> "ms",
      "kv.plan_depth" -> "joins", "kv.jobs_per_get" -> "jobs", "kv.tasks_per_get" -> "tasks",
      "kv.execute_ms" -> "ms", "kv.compaction_ms" -> "ms", "kv.merges_per_write" -> "ratio") ++
    on("corpus_dedup")(
      "queries.mine_s" -> "s", "queries.candidate_pairs" -> "pairs",
      "queries.pair_yield" -> "ratio", "queries.cc_s" -> "s",
      "ann.fit_s" -> "s", "ann.join_s" -> "s", "ann.semantic_s" -> "s",
      "ann.recall_at_10" -> "ratio") ++
    on("all")(
      "spark.jobs" -> "count", "spark.tasks" -> "count", "spark.task_busy_s" -> "s",
      "spark.gc_s" -> "s", "spark.shuffle_write_mb" -> "MB", "spark.spill_mb" -> "MB")
  }

  /** The per-layer values of a traced run of `workload`. A layer the
    * workload does not run reports 0; a metric the workload owns but did
    * not measure is NaN, which the result counts as a failure. */
  def layerValues(workload: String, own: collection.Map[String, Metric]): Seq[(String, String, Double)] =
    perLayer.map { case (n, u, w) =>
      (n, u, own.get(n).map(_.value).getOrElse(
        if (w == workload || w == "all") Double.NaN else 0.0))
    }

  def parse(args: Array[String]): Conf = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    val w = need("workload")
    require(endToEnd.head._3.contains(w), s"unknown workload $w")
    Conf(w, need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      need("cpus").toInt, Paths.get(need("out")).toAbsolutePath)
  }

  def main(args: Array[String]): Unit = {
    val conf = parse(args)
    val report = new Report
    val spans = new Spans(conf.trace)
    val cpu0 = ProcStat.read()
    val t0 = Clock.now
    try conf.workload match {
      case "ingest_stream" => Ingest.run(conf, report, spans)
      case "kv_http"       => KvHttp.run(conf, report, spans)
      case "corpus_dedup"  => Corpus.run(conf, report, spans)
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        System.exit(1) // Spark's non-daemon threads would keep the JVM alive
    }
    val wall = Clock.s(t0)
    ProcStat.stealShare(cpu0, ProcStat.read()).foreach { st =>
      report.note(f"validity: host CPU steal share over the run ${st * 100}%.2f%%")
    }
    report.note(f"run wall ${wall}%.1f s, cpus ${conf.cpus}, seed ${conf.seed}, " +
      s"seconds ${conf.seconds}, trace ${if (conf.trace) 1 else 0}")
    spans.write(conf.out.resolve("spans.jsonl").toFile)
    write(conf, report)
    System.exit(0)
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  def write(conf: Conf, report: Report): Unit = {
    val own = report.metrics
    val wanted: Seq[(String, String, Double)] =
      if (conf.trace) layerValues(conf.workload, own)
      else endToEnd.map { case (n, u, src) =>
        (n, u, own.get(src(conf.workload)).fold(Double.NaN)(_.value)) }
    val missing = wanted.collect { case (n, _, v) if v.isNaN => n }
    missing.foreach { n =>
      report.attempt()
      report.fail(s"metric $n was not measured on ${conf.workload}")
    }
    val correct = report.failedCount == 0
    val attempted = math.max(1L, report.attemptedCount)
    val text = new StringBuilder
    text ++= s"== perfbench ${conf.workload} seed=${conf.seed} trace=${if (conf.trace) 1 else 0}\n"
    own.values.foreach { m =>
      text ++= f"metric ${m.name}%-28s ${m.value}%14.4f ${m.unit}%-7s n=${m.n}" +
        (if (m.note.nonEmpty) s"  (${m.note})" else "") + "\n"
    }
    text ++= f"metric failed_frac                  ${report.failedCount.toDouble / attempted}%14.6f ratio   " +
      s"n=$attempted\n"
    report.notes.foreach(n => text ++= s"note   $n\n")
    report.failures.foreach(f => text ++= s"FAILED $f\n")
    val w = new PrintWriter(conf.out.resolve("report.txt").toFile, UTF_8)
    try w.print(text.toString) finally w.close()
    val metrics = wanted.map { case (n, u, v) =>
      s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }.mkString(", ")
    val json = s"""{"correct": $correct, "attempted": $attempted, """ +
      s""""failed": ${report.failedCount}, "metrics": {$metrics}}"""
    val r = new PrintWriter(conf.out.resolve("result.json").toFile, UTF_8)
    try r.print(json) finally r.close()
  }
}
