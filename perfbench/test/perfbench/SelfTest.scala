package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

/** Self-tests of the benchmark's own logic. Run with
  * `python3 perfbench/run.py --self-test` (which passes
  * `--benchmark BENCHMARK.json`); exits non-zero on a failure. */
object SelfTest {
  private var failures = 0
  private var checks = 0

  private def check(name: String)(cond: => Boolean): Unit = {
    checks += 1
    val ok = try cond catch { case e: Throwable => println(s"  threw $e"); false }
    if (!ok) { failures += 1; println(s"FAIL $name") } else println(s"ok   $name")
  }

  private def close(a: Double, b: Double) = math.abs(a - b) < 1e-9

  def percentiles(): Unit = {
    check("median of an odd sample is its middle value")(
      close(Stats.median(Seq(5.0, 1.0, 3.0, 2.0, 4.0)), 3.0))
    check("median of an even sample interpolates")(close(Stats.median(Seq(1.0, 2.0, 3.0, 4.0)), 2.5))
    check("percentile interpolates between closest ranks")(
      close(Stats.percentile(Seq(10.0, 20.0), 0.25), 12.5))
    check("p95 of 1..101 is 96")(close(Stats.percentile((1 to 101).map(_.toDouble), 0.95), 96.0))
    check("p0 and p100 are the extremes")(
      close(Stats.percentile(Seq(3.0, 9.0, 1.0), 0.0), 1.0) &&
        close(Stats.percentile(Seq(3.0, 9.0, 1.0), 1.0), 9.0))
    check("a single sample is every percentile")(close(Stats.percentile(Seq(7.0), 0.95), 7.0))
    check("no samples is an error")(
      scala.util.Try(Stats.percentile(Nil, 0.5)).isFailure)
    check("p95 needs ten samples beyond it: 200 yes, 199 no")(
      Stats.supported(200, 0.95) && !Stats.supported(199, 0.95))
    check("p50 needs twenty samples")(Stats.supported(20, 0.5) && !Stats.supported(19, 0.5))
    check("highest supported percentile follows the sample count")(
      Stats.highestSupported(1000).contains(0.99) && Stats.highestSupported(200).contains(0.95) &&
        Stats.highestSupported(40).contains(0.75) && Stats.highestSupported(19).isEmpty)
    check("an unsupported percentile is flagged with the highest supported one")(
      Stats.supportNote(200, 0.95).isEmpty &&
        Stats.supportNote(20, 0.95) == "p95 unsupported by sample; highest supported: p50" &&
        Stats.supportNote(5, 0.5) == "p50 unsupported by sample; highest supported: none")
  }

  def plantedCorpus(): Unit = {
    val c = CorpusGen.generate(seed = 5, nDocs = 2000, nVecs = 10)
    val exact = CorpusGen.exactPairs(c.docs)
    check("every planted pair has its designed Jaccard and containment")(
      c.designed.forall { case (k, (j, ct)) =>
        exact.get(k).exists { case (ej, ec) => close(ej, j) && close(ec, ct) } })
    check("no unplanted pair reaches either threshold")(
      exact.forall { case (k, (j, ct)) => c.designed.contains(k) || (j < 0.5 && ct < 0.7) })
    val js = c.designed.values.map(_._1)
    check("the design puts pairs on both sides of the Jaccard threshold")(
      js.exists(_ >= 0.5) && js.exists(_ < 0.5))
    val cs = c.designed.filter(_._2._1 < 0.5).values.map(_._2)
    check("some pairs are containment-only (Jaccard < 0.5, containment >= 0.7)")(cs.exists(_ >= 0.7))
    check("no designed value sits on a threshold")(
      c.designed.values.forall { case (j, ct) => !close(j, 0.5) && !close(ct, 0.7) })
    check("the boilerplate block makes shared work (candidate pairs below threshold)")(
      exact.count { case (k, _) => !c.designed.contains(k) } > 100)
    check("the same seed gives the same corpus")(
      CorpusGen.generate(5, 2000, 10).docs == c.docs)
    check("union-find representatives are component minima")(
      CorpusGen.clusterReps(Seq(1L, 2L, 3L, 4L, 5L), Seq(5L -> 2L, 2L -> 4L)) ==
        Map(1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 2L, 5L -> 2L))
  }

  private def write(p: Path, lines: String*): Unit =
    Files.write(p, lines.mkString("", "\n", "\n").getBytes(UTF_8))

  def commitReader(): Unit = {
    val sink = Files.createTempDirectory("sink")
    val meta = Files.createDirectories(sink.resolve("_spark_metadata"))
    def entry(f: Path) = s"""{"path":"${f.toUri}","size":1,"isDir":false,"modificationTime":1,""" +
      """"blockReplication":1,"blockSize":1,"action":"add"}"""
    val f0 = sink.resolve("part-0.json"); write(f0, "{}", "{}")
    val f1 = sink.resolve("part-1.json"); write(f1, "{}")
    val f2 = sink.resolve("part-2.json"); write(f2, "{}", "{}", "{}")
    val r = new CommitReader(sink)
    r.poll(10L)
    check("nothing is seen before a commit")(r.sight.isEmpty && r.committedRecords == 0)
    write(meta.resolve("0"), "v1", entry(f0))
    write(meta.resolve("1"), "v1", entry(f1))
    write(sink.resolve("part-uncommitted.json"), "{}")
    r.poll(20L)
    check("committed batches are read in order with their first-sight time")(
      r.sight.toSeq == Seq(f0 -> 20L, f1 -> 20L) && r.committedRecords == 3 && r.batches == 2)
    write(meta.resolve("2.compact"), "v1", entry(f0), entry(f1), entry(f2))
    r.poll(30L)
    check("a compacted log adds only its new files, earlier sights stay")(
      r.sight.toSeq == Seq(f0 -> 20L, f1 -> 20L, f2 -> 30L) && r.committedRecords == 6 &&
        r.batches == 3)
    r.poll(40L)
    check("polling again without commits changes nothing")(r.sight.size == 3 && r.committedRecords == 6)
    val walk = Files.walk(sink)
    try walk.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))
    finally walk.close()
  }

  /** The metric names and units the result carries are BENCHMARK.json's. */
  def benchmarkJson(path: String): Unit = {
    import scala.jdk.CollectionConverters._
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(new java.io.File(path))
    def metrics(key: String) = root.get(key).elements().asScala
      .map(m => m.get("name").asText() -> m.get("unit").asText()).toSeq
    check("end-to-end metrics match BENCHMARK.json")(
      metrics("end_to_end") == Main.endToEnd.map { case (n, u, _) => n -> u })
    check("per-layer metrics match BENCHMARK.json")(
      metrics("per_layer") == Main.perLayer.map { case (n, u, _) => n -> u })
    check("every per-layer metric belongs to a workload or to all")(
      Main.perLayer.forall { case (_, _, w) => w == "all" || Main.endToEnd.head._3.contains(w) })
    check("every workload of BENCHMARK.json maps each end-to-end metric")(
      root.get("workloads").elements().asScala.map(_.get("name").asText()).toSet ==
        Main.endToEnd.head._3.keySet && Main.endToEnd.forall(_._3.keySet == Main.endToEnd.head._3.keySet))
  }

  def layerValues(): Unit = {
    val own = Map("kv.query_ms" -> Metric("kv.query_ms", 5.0, "ms", 1))
    val v = Main.layerValues("kv_http", own).map { case (n, _, x) => n -> x }.toMap
    check("a measured per-layer metric keeps its value")(v("kv.query_ms") == 5.0)
    check("a missing per-layer metric of the run's own workload is NaN, not 0")(
      v("kv.plan_depth").isNaN && v("spark.jobs").isNaN)
    check("a layer the workload does not run reports 0")(
      v("streaming.trigger_ms") == 0.0 && v("ann.fit_s") == 0.0)
  }

  def kvModel(): Unit = {
    val m = new KvModel(seed = 9)
    val hit = """{"results":[{"columns":["key","value"],"values":[["k000004","c0-w0-1"]]}]}"""
    val miss = """{"results":[{"columns":["key","value"],"values":[]}]}"""
    check("a /db/query response gives the value of a hit and None for a miss")(
      KvHttp.queryValue(hit).contains("c0-w0-1") && KvHttp.queryValue(miss).isEmpty)
    check("an unwritten key must read its preloaded value")(
      m.stale("k000004", Some("v4-9")).isEmpty && m.stale("k000004", None).nonEmpty)
    m.ack("k000004", Some("c0-w0-1"))
    check("a read of the preloaded value after an acknowledged SET is reported stale")(
      m.stale("k000004", Some("v4-9")).nonEmpty)
    check("a read of the acknowledged SET passes")(m.stale("k000004", KvHttp.queryValue(hit)).isEmpty)
    m.ack("k000004", None)
    check("a hit after an acknowledged DELETE is reported stale")(
      m.stale("k000004", KvHttp.queryValue(hit)).nonEmpty && m.stale("k000004", None).isEmpty)
  }

  def main(args: Array[String]): Unit = {
    args.sliding(2).collectFirst { case Array("--benchmark", p) => p }.foreach(benchmarkJson)
    percentiles()
    layerValues()
    kvModel()
    plantedCorpus()
    commitReader()
    println(s"$checks checks, $failures failed")
    System.exit(if (failures == 0) 0 else 1)
  }
}
