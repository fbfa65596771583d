package perfbench

import java.io.{File, PrintWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Command-line settings of one run. `out` is the run's scratch directory. */
final case class Conf(workload: String, seed: Long, seconds: Int, trace: Boolean,
    cpus: Int, out: Path) {
  def dir(name: String): Path = {
    val d = out.resolve(name); Files.createDirectories(d); d
  }
}

object Clock {
  def now: Long = System.nanoTime()
  def ms(fromNs: Long, toNs: Long = System.nanoTime()): Double = (toNs - fromNs) / 1e6
  def s(fromNs: Long, toNs: Long = System.nanoTime()): Double = (toNs - fromNs) / 1e9

  def timed[A](body: => A): (A, Double) = {
    val t0 = now; val a = body; (a, ms(t0))
  }
}

/** Percentiles with their sample counts. A percentile p is *supported*
  * when at least ten samples lie beyond it, i.e. n·(1 − p) ≥ 10; an
  * unsupported one is still reported, flagged, never silently dropped. */
object Stats {
  /** Linear interpolation between closest ranks (numpy's default). */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p >= 0 && p <= 1, s"percentile $p outside [0,1]")
    val s = xs.sorted
    val pos = p * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  def supported(n: Int, p: Double): Boolean = n * (1 - p) >= 10 - 1e-9

  /** The highest of the usual percentiles the sample supports. */
  def highestSupported(n: Int): Option[Double] =
    Seq(0.999, 0.99, 0.95, 0.9, 0.75, 0.5).find(supported(n, _))

  /** Empty when percentile p is supported by n samples, else a warning. */
  def supportNote(n: Int, p: Double): String = {
    def name(q: Double) = s"p${math.round(q * 1000) / 10.0}".stripSuffix(".0")
    if (supported(n, p)) ""
    else s"${name(p)} unsupported by sample; highest supported: " +
      highestSupported(n).fold("none")(name)
  }
}

/** One named measurement for the report. `n` is its sample count. */
final case class Metric(name: String, value: Double, unit: String, n: Int,
    note: String = "")

/** What a run found: metrics, output-check tallies and validity evidence. */
final class Report {
  val metrics = mutable.LinkedHashMap.empty[String, Metric]
  val notes = mutable.ArrayBuffer.empty[String]
  private val attempted = new AtomicLong
  private val failed = new AtomicLong
  val failures = mutable.ArrayBuffer.empty[String]

  def put(name: String, value: Double, unit: String, n: Int, note: String = ""): Unit =
    metrics(name) = Metric(name, value, unit, n, note)

  def note(s: String): Unit = synchronized { notes += s }

  /** Count `n` attempted operations. */
  def attempt(n: Long = 1): Unit = attempted.addAndGet(n)

  /** Count a failed operation or output check, keeping the first few reasons. */
  def fail(why: String, n: Long = 1): Unit = {
    failed.addAndGet(n)
    synchronized { if (failures.size < 20) failures += why }
  }

  def attemptedCount: Long = attempted.get
  def failedCount: Long = failed.get
}

/** Host CPU counters from /proc/stat, for the steal share of a run. */
object ProcStat {
  final case class Cpu(total: Long, steal: Long)

  def read(): Option[Cpu] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat", "UTF-8")
      try src.getLines().find(_.startsWith("cpu ")).map { l =>
        val f = l.trim.split("\\s+").drop(1).map(_.toLong)
        Cpu(f.take(8).sum, if (f.length > 7) f(7) else 0L)
      } finally src.close()
    } catch { case _: java.io.IOException => None }

  def stealShare(a: Option[Cpu], b: Option[Cpu]): Option[Double] = for {
    x <- a; y <- b if y.total > x.total
  } yield (y.steal - x.steal).toDouble / (y.total - x.total)
}

/** Counters from a SparkListener the benchmark registers (trace runs only). */
final class SparkCounters extends SparkListener {
  val jobs, tasks, busyMs, gcMs, shuffleWriteBytes, spillBytes = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      busyMs.addAndGet(m.executorRunTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  def snapshot: Map[String, Long] = Map("jobs" -> jobs.get, "tasks" -> tasks.get,
    "busyMs" -> busyMs.get, "gcMs" -> gcMs.get,
    "shuffleWriteBytes" -> shuffleWriteBytes.get, "spillBytes" -> spillBytes.get)
}

object SparkCounters {
  /** The `spark.*` per-layer metrics of one snapshot. */
  def put(report: Report, snap: Map[String, Long]): Unit = {
    report.put("spark.jobs", snap("jobs").toDouble, "count", 1)
    report.put("spark.tasks", snap("tasks").toDouble, "count", 1)
    report.put("spark.task_busy_s", snap("busyMs") / 1e3, "s", 1)
    report.put("spark.gc_s", snap("gcMs") / 1e3, "s", 1)
    report.put("spark.shuffle_write_mb", snap("shuffleWriteBytes") / 1e6, "MB", 1)
    report.put("spark.spill_mb", snap("spillBytes") / 1e6, "MB", 1)
  }
}

/** Streaming progress events, kept in memory (trace runs only). */
final class StreamingCounters extends StreamingQueryListener {
  final case class Batch(query: String, rows: Long, durations: Map[String, Long])
  val batches = new java.util.concurrent.ConcurrentLinkedQueue[Batch]

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    import scala.jdk.CollectionConverters._
    val p = e.progress
    batches.add(Batch(p.id.toString, p.numInputRows,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
  }

  def forQuery(id: String): Seq[Batch] = {
    import scala.jdk.CollectionConverters._
    batches.asScala.filter(_.query == id).toSeq
  }
}

/** Spans the benchmark records around its calls into the program. They
  * stay in memory and are written as JSON lines when the run ends. */
final class Spans(enabled: Boolean) {
  final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long)
  private val done = mutable.ArrayBuffer.empty[Span]
  private val open = new ThreadLocal[List[Int]] { override def initialValue = Nil }
  private val ids = new java.util.concurrent.atomic.AtomicInteger

  def apply[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = open.get.headOption.getOrElse(0)
      open.set(id :: open.get)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        open.set(open.get.tail)
        synchronized { done += Span(id, parent, name, t0, t1) }
      }
    }

  def write(file: File): Unit = if (enabled) {
    val w = new PrintWriter(file, UTF_8)
    try synchronized {
      done.sortBy(_.startNs).foreach { s =>
        w.println(s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
          s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""")
      }
    } finally w.close()
  }
}

object Session {
  /** Set-up is timed this many times per run; the median is reported. */
  val setupReps = 7

  /** Times `start(i)` for i in 0 until setupReps, stopping each result
    * (untimed) before the next start, and reports the median as
    * `setup_s`. Returns the last result, still running. */
  def setUp[A](report: Report, note: String)(stop: A => Unit)(start: Int => A): A = {
    val times = mutable.ArrayBuffer.empty[Double]
    var last = Option.empty[A]
    for (i <- 0 until setupReps) {
      last.foreach(stop)
      val t0 = Clock.now
      last = Some(start(i))
      times += Clock.s(t0)
    }
    report.put("setup_s", Stats.median(times.toSeq), "s", times.size, note)
    last.get
  }

  /** A fresh local session configured like graft.Bench: the graft
    * optimizer rules, AQE on, shuffle partitions = cores. */
  def create(conf: Conf): SparkSession = {
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master(s"local[${conf.cpus}]")
      .appName(s"perfbench-${conf.workload}")
      .withExtensions(new graft.plans.GraftOptimizations())
      .config("spark.sql.shuffle.partitions", conf.cpus.toLong)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", conf.dir("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def stop(s: SparkSession): Unit = {
    s.streams.active.foreach(_.stop())
    s.stop()
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
  }
}

object FileUtil {
  def writeAtomically(dir: Path, name: String, body: String): Unit = {
    val tmp = dir.resolve("." + name + ".tmp")
    Files.write(tmp, body.getBytes(UTF_8))
    Files.move(tmp, dir.resolve(name), java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }
}
