package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      // the graft optimizer rules run on the graded path: the oracle
      // gate itself proves RangeJoinRewrite result-identical per round
      .withExtensions(new graft.plans.GraftOptimizations())
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // local iteration aid: SPARK_GRAFT_ONLY=q1,q2 restricts the dump
    // (the driver never sets it, so the graded run stays the full set)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // a typo'd name would silently shrink (or empty) the dump and read
    // as a mysteriously-passing verification — warn loudly and log the
    // selection size so a partial run is always self-announcing
    only.foreach { o =>
      val unknown = o -- SparkEntry.queries.keySet
      if (unknown.nonEmpty) System.err.println(
        s"[verify] WARNING: SPARK_GRAFT_ONLY names not in the catalog " +
          s"(ignored): ${unknown.toSeq.sorted.mkString(",")}")
    }
    val selected = SparkEntry.queries.filter { case (n, _) =>
      only.forall(_.contains(n)) }
    only.foreach { o => System.err.println(
      s"[verify] SPARK_GRAFT_ONLY selected ${selected.size} of " +
        s"${SparkEntry.queries.size} catalog entries") }
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      // dir-dependent artifact paths (the BPE merge parquet) ride the
      // SQL as placeholders; substitute the per-dir path now that the
      // dump dir is known
      .map { case (k, v) =>
        s"${q(k)}: ${q(graft.queries.Batch13.substituteOraclePaths(v, sfDir))}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
