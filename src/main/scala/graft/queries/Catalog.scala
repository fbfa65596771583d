package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._
import graft.functions._

/** The verifiable query catalog: every entry has a Spark definition
  * and (where ANSI-SQL-expressible) a DuckDB oracle with identical
  * column names and row order.
  *
  * Numeric determinism policy: double columns that get aggregated are
  * cast to DECIMAL(18,4) first, aggregated exactly in decimal, and the
  * final result cast back to DOUBLE — both here and in the oracle SQL —
  * so Spark's and DuckDB's float summation order cannot produce
  * hash-divergent results.
  */
object Catalog {

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") events(spark, dir)
    else spark.read.parquet(s"$dir/$name.parquet")

  /** `events` with `ts` as TimestampType: the fixtures store it as
    * TIMESTAMP(MICROS), which arrives as TIMESTAMP_NTZ; the UTC session
    * TZ makes the naive value the same instant. */
  def events(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/events.parquet")
      .withColumn("ts", col("ts").cast(TimestampType))

  /** Shared replay scaffold for the streaming gate entries: copy ONE
    * fixture file into a scratch source dir, stream it through
    * `xform` (stream-side transform, e.g. a GroupState operator) and
    * `perBatch` (micro-batch-side transform, e.g. a stream-vs-static
    * join), appending each batch's rows to a parquet result dir under
    * the run-scoped applied-batch marker discipline
    * ([[graft.ops.Ann.onceBatch]]) — the same idempotent-sink shape
    * the library's streaming ops use. The fixture copy is reclaimed
    * as soon as the stream stops (a bench run replays each entry
    * several times); the small result dir lives on for the returned
    * lazy DataFrame. */
  private[queries] def replayToParquet(s: SparkSession, dir: String,
      file: String,
      xform: DataFrame => DataFrame = identity,
      perBatch: DataFrame => DataFrame = identity): DataFrame = {
    val src = java.nio.file.Files.createTempDirectory("graft_replay_")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(dir, file), src.resolve(file))
    replayScratch(s, src, xform, perBatch)
  }

  /** [[replayToParquet]] for a COMPUTED feed (no fixture file has the
    * right shape — e.g. the KV statement feed): materializes `feed` to
    * the scratch source dir as ONE parquet file (one file = one
    * micro-batch = deterministic replay) and streams it through the
    * same idempotent-sink scaffold. */
  private[queries] def replayFeedToParquet(s: SparkSession, feed: DataFrame,
      xform: DataFrame => DataFrame = identity,
      perBatch: DataFrame => DataFrame = identity): DataFrame = {
    val src = java.nio.file.Files.createTempDirectory("graft_replay_")
    feed.coalesce(1).write.mode("overwrite").parquet(src.toString)
    replayScratch(s, src, xform, perBatch)
  }

  /** [[replayFeedToParquet]] but the feed lands as `nFiles` parquet
    * files and the stream reads them with maxFilesPerTrigger=1, so
    * the replay runs as `nFiles` MICRO-BATCHES — the multi-batch gate
    * path (r14 verdict: a single-batch replay never exercises the
    * cross-batch state merge). Which rows land in which batch is NOT
    * pinned (column-less repartition(n) round-robins from a
    * per-partition offset), and doesn't need to be: the entries
    * using this select a batch-order-insensitive final state. */
  private[queries] def replayFeedToParquetMulti(s: SparkSession,
      feed: DataFrame, nFiles: Int,
      xform: DataFrame => DataFrame = identity,
      perBatch: DataFrame => DataFrame = identity): DataFrame = {
    val src = java.nio.file.Files.createTempDirectory("graft_replay_")
    feed.repartition(nFiles).write.mode("overwrite").parquet(src.toString)
    replayScratch(s, src, xform, perBatch, maxFilesPerTrigger = Some(1))
  }

  private def replayScratch(s: SparkSession, src: java.nio.file.Path,
      xform: DataFrame => DataFrame,
      perBatch: DataFrame => DataFrame,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val schema = s.read.parquet(src.toString).schema
    // the result dir must outlive this call (the returned DataFrame
    // reads it lazily), so it can't be reclaimed with the fixture copy
    // below — but a bench run replays each streaming entry across
    // warmup + several timed passes, and un-registered dirs full of
    // result data accumulated in /tmp for the JVM's whole life
    // (ADVICE r11). Register the tree for deletion on exit.
    val outPath = java.nio.file.Files.createTempDirectory("graft_replay_out_")
    Reuse.deleteOnExit(outPath)
    val out = outPath.toString
    val reader = maxFilesPerTrigger.foldLeft(s.readStream.schema(schema))(
      (r, n) => r.option("maxFilesPerTrigger", n))
    val streamed = xform(reader.parquet(src.toString))
    // The replayed feeds key their state on a handful of groups
    // (event_type-sized), but stateful operators allocate one state
    // store + checkpoint stream PER shuffle partition PER micro-batch
    // — at the session's 32 partitions the multi-batch replays spend
    // more time on empty state stores than on data. Scope the stream
    // to 8 partitions for the replay (the query pins its own state
    // partitioning at start, so the restore below cannot affect it)
    // and restore the session conf; suite/main execution is
    // sequential, so the scoped mutation cannot race another query.
    // A real deployment sizes this per stream load — this IS that
    // sizing for the gate corpora, not a fixture shortcut.
    val partsKey = "spark.sql.shuffle.partitions"
    val prevParts = s.conf.get(partsKey)
    s.conf.set(partsKey, math.min(8, prevParts.toInt).toString)
    // a throwing start() must still restore the conf, or every later
    // query in the shared session silently runs at 8 partitions
    val q =
      try graft.ops.Ann.idempotentForeachBatch(streamed, out, "") { batch =>
        perBatch(batch).write.mode("append").parquet(s"$out/results")
      }.start()
      catch { case e: Throwable => s.conf.set(partsKey, prevParts); throw e }
    // cleanup rides the SAME finally as stop so a failing replay
    // doesn't leak its fixture copy; the conf restore waits for
    // processAllAvailable because micro-batches plan ASYNC after
    // start() — restoring earlier would race the first batch's
    // state-partitioning pin
    try q.processAllAvailable() finally {
      s.conf.set(partsKey, prevParts)
      q.stop()
      try {
        val walk = java.nio.file.Files.walk(src)
        try
          walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
            .forEach(f => { java.nio.file.Files.deleteIfExists(f); () })
        finally walk.close()
      } catch { case _: Exception => () }
    }
    // an xform matching zero fixture rows leaves no results dir; an
    // empty frame WITH the right schema beats an unrelated
    // path-does-not-exist five frames from the real cause. The schema
    // comes from perBatch over an empty batch of the stream's shape.
    if (!new java.io.File(s"$out/results").exists()) {
      val emptyBatch = s.createDataFrame(
        s.sparkContext.emptyRDD[org.apache.spark.sql.Row], streamed.schema)
      perBatch(emptyBatch).limit(0)
        .write.mode("overwrite").parquet(s"$out/results")
    }
    s.read.parquet(s"$out/results")
  }

  private val d4 = DecimalType(18, 4)
  /** Exact-decimal view of a double column. */
  private def dec(c: org.apache.spark.sql.Column) = c.cast(d4)
  /** SQL-side equivalent. */
  private def decSql(c: String) = s"CAST($c AS DECIMAL(18,4))"

  // ---------------------------------------------------------------- //
  // Each entry: name -> (spark builder, Option[oracle SQL]).         //
  // ---------------------------------------------------------------- //
  case class Q(
      build: (SparkSession, String) => DataFrame,
      oracle: Option[String],
      doc: String)

  val all: Seq[(String, Q)] = Seq(

    // ---- T1: per-record map/projection plane (reference ops.go:22-33)
    "t1_map_project" -> Q(
      (s, dir) => {
        table(s, dir, "events")
          .select(
            col("event_id"),
            upper(col("event_type")).as("etype"),
            (dec(col("value")) * 2).cast("double").as("v2"),
            concat(lit("u"), col("user_id")).as("ukey"))
          .orderBy("event_id")
      },
      Some("""SELECT event_id, upper(event_type) AS etype,
             |  CAST(CAST(value AS DECIMAL(18,4)) * 2 AS DOUBLE) AS v2,
             |  'u' || user_id AS ukey
             |FROM events ORDER BY event_id""".stripMargin),
      "1:1 job mapper (reference internal/pipeline/ops.go:22-33)"),

    // ---- T4: recursive JSON uppercase via custom codegen'd Expression.
    // Payload is built in-query with a known shape so the oracle can
    // reproduce the expected output by string construction.
    "t4_uppercase_json" -> Q(
      (s, dir) => {
        table(s, dir, "events")
          .select(
            col("event_id"),
            json_upper(
              concat(lit("{\"type\":\""), col("event_type"),
                lit("\",\"k\":"), get_json_object(col("props"), "$.k").cast("long"),
                lit(",\"tags\":[\"a\",\"b\"],\"meta\":{\"src\":\"wire\"}}")))
              .as("payload_upper"))
          .orderBy("event_id")
      },
      Some("""SELECT event_id,
             |  '{"type":"' || upper(event_type) ||
             |  '","k":' || CAST(json_extract(props, '$.k') AS BIGINT) ||
             |  ',"tags":["A","B"],"meta":{"src":"WIRE"}}' AS payload_upper
             |FROM events ORDER BY event_id""".stripMargin),
      "recursive JSON string-value uppercase (reference pipeline.go:282-340)"),

    // ---- T6: eventTime extraction from a JSON payload (job.go:66-81)
    "t6_event_time" -> Q(
      (s, dir) => {
        table(s, dir, "events")
          .select(
            col("event_id"),
            to_timestamp(
              get_json_object(
                concat(lit("{\"eventTime\":\""),
                  date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss'Z'"),
                  lit("\"}")),
                "$.eventTime"),
              "yyyy-MM-dd'T'HH:mm:ss'Z'").as("event_time"))
          .orderBy("event_id")
      },
      Some("""SELECT event_id,
             |  strptime(json_extract_string(
             |    '{"eventTime":"' || strftime(ts, '%Y-%m-%dT%H:%M:%SZ') || '"}',
             |    '$.eventTime'), '%Y-%m-%dT%H:%M:%SZ') AS event_time
             |FROM events ORDER BY event_id""".stripMargin),
      "RFC3339 eventTime parse from payload (reference models/job.go:66-81)"),

    // ---- S1: CDC latest-per-key materialization
    "s1_cdc_latest" -> Q(
      (s, dir) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts").desc, col("event_id").desc)
        table(s, dir, "events")
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("user_id"), col("event_id"), col("event_type"))
          .orderBy("user_id")
      },
      Some("""SELECT user_id, event_id, event_type FROM (
             |  SELECT user_id, event_id, event_type,
             |    row_number() OVER (PARTITION BY user_id
             |      ORDER BY ts DESC, event_id DESC) AS rn
             |  FROM events) WHERE rn = 1 ORDER BY user_id""".stripMargin),
      "apply-latest-change-per-key over a CDC feed (reference sources/mongo.go:207-309)"),

    // ---- Q1-style aggregation (TPC-H Q1 shape on the fixtures)
    "q1_agg" -> Q(
      (s, dir) => {
        table(s, dir, "lineitem")
          .filter(col("l_shipdate") <= lit("1998-09-01"))
          .groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(
            sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
            sum(dec(col("l_extendedprice"))).cast("double").as("sum_base_price"),
            sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
              .cast("double").as("sum_disc_price"),
            (sum(dec(col("l_quantity"))).cast("double") / count(lit(1))).as("avg_qty"),
            count(lit(1)).as("count_order"))
          .orderBy("l_returnflag", "l_linestatus")
      },
      Some(s"""SELECT l_returnflag, l_linestatus,
              |  CAST(sum(${decSql("l_quantity")}) AS DOUBLE) AS sum_qty,
              |  CAST(sum(${decSql("l_extendedprice")}) AS DOUBLE) AS sum_base_price,
              |  CAST(sum(${decSql("l_extendedprice")} * (1 - ${decSql("l_discount")})) AS DOUBLE) AS sum_disc_price,
              |  CAST(sum(${decSql("l_quantity")}) AS DOUBLE) / count(*) AS avg_qty,
              |  count(*) AS count_order
              |FROM lineitem
              |WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
              |GROUP BY l_returnflag, l_linestatus
              |ORDER BY l_returnflag, l_linestatus""".stripMargin),
      "hash aggregate with exact-decimal sums (roadmap aggregations, ROADMAP.md:95-106)"),

    // ---- Q3-style join + agg + top-k
    "q3_topk_join" -> Q(
      (s, dir) => {
        val cust = table(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
        val ord = table(s, dir, "orders")
        val li = table(s, dir, "lineitem")
        li.join(ord, li("l_orderkey") === ord("o_orderkey"))
          .join(cust, ord("o_custkey") === cust("c_custkey"))
          .groupBy(col("l_orderkey"), col("o_orderdate"))
          .agg(sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
            .cast("double").as("revenue"))
          .orderBy(col("revenue").desc, col("l_orderkey"))
          .limit(10)
      },
      Some(s"""SELECT l_orderkey, o_orderdate,
              |  CAST(sum(${decSql("l_extendedprice")} * (1 - ${decSql("l_discount")})) AS DOUBLE) AS revenue
              |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
              |JOIN customer ON o_custkey = c_custkey
              |WHERE c_mktsegment = 'BUILDING'
              |GROUP BY l_orderkey, o_orderdate
              |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin),
      "3-way join + agg + top-k (roadmap stream JOINs, ROADMAP.md:103)"),

    // ---- Q5-style multi-join over the full star schema
    "q5_multi_join" -> Q(
      (s, dir) => {
        val region = table(s, dir, "region")
        val nation = table(s, dir, "nation")
        val cust = table(s, dir, "customer")
        val ord = table(s, dir, "orders")
        val li = table(s, dir, "lineitem")
        val sup = table(s, dir, "supplier")
        li.join(ord, li("l_orderkey") === ord("o_orderkey"))
          .join(cust, ord("o_custkey") === cust("c_custkey"))
          .join(sup, li("l_suppkey") === sup("s_suppkey") &&
            cust("c_nationkey") === sup("s_nationkey"))
          .join(broadcast(nation), sup("s_nationkey") === nation("n_nationkey"))
          .join(broadcast(region), nation("n_regionkey") === region("r_regionkey"))
          .groupBy(col("n_name"))
          .agg(sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
            .cast("double").as("revenue"))
          .orderBy(col("n_name"))
      },
      Some(s"""SELECT n_name,
              |  CAST(sum(${decSql("l_extendedprice")} * (1 - ${decSql("l_discount")})) AS DOUBLE) AS revenue
              |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
              |JOIN customer ON o_custkey = c_custkey
              |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
              |JOIN nation ON s_nationkey = n_nationkey
              |JOIN region ON n_regionkey = r_regionkey
              |GROUP BY n_name ORDER BY n_name""".stripMargin),
      "6-way broadcast-dim join (roadmap SQL interface)"),

    // ---- window functions: per-nation top-3 customers by balance
    "win_rank" -> Q(
      (s, dir) => {
        val w = Window.partitionBy(col("c_nationkey"))
          .orderBy(col("c_acctbal").desc, col("c_custkey"))
        table(s, dir, "customer")
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 3)
          .select(col("c_nationkey"), col("rk"), col("c_custkey"), col("c_acctbal"))
          .orderBy(col("c_nationkey"), col("rk"))
      },
      Some("""SELECT c_nationkey, rk, c_custkey, c_acctbal FROM (
             |  SELECT c_nationkey, c_custkey, c_acctbal,
             |    row_number() OVER (PARTITION BY c_nationkey
             |      ORDER BY c_acctbal DESC, c_custkey) AS rk
             |  FROM customer) WHERE rk <= 3
             |ORDER BY c_nationkey, rk""".stripMargin),
      "ranking window (roadmap windowing, ROADMAP.md:97)"),

    // ---- exact dedup over the event stream's payloads
    "dedup_exact" -> Q(
      (s, dir) => {
        table(s, dir, "events")
          .groupBy(col("props"))
          .agg(min(col("event_id")).as("keeper_id"), count(lit(1)).as("n_dupes"))
          .orderBy("keeper_id")
      },
      Some("""SELECT props, min(event_id) AS keeper_id, count(*) AS n_dupes
             |FROM events GROUP BY props ORDER BY keeper_id""".stripMargin),
      "exact deduplication by full payload (training-data dedup plane)"),

    // ---- JSON field extraction (R5 dot-path semantics)
    "json_extract_path" -> Q(
      (s, dir) => {
        table(s, dir, "events")
          .select(
            col("event_id"),
            get_json_object(col("props"), "$.k").cast("long").as("k"))
          .orderBy("event_id")
      },
      Some("""SELECT event_id, CAST(json_extract(props, '$.k') AS BIGINT) AS k
             |FROM events ORDER BY event_id""".stripMargin),
      "dot-path JSON extraction (reference getSubJSON, internal/http/service.go:1715-1751)"),
  )

  def full: Seq[(String, Q)] = {
    val entries = all ++ Batch2.entries ++ Batch3.entries ++ Batch4.entries ++ Batch5.entries ++ Batch6.entries ++ Batch7.entries ++ Batch8.entries ++ Batch9.entries ++ Batch10.entries ++ Batch11.entries ++ Batch12.entries ++ Batch13.entries
    val dupes = entries.groupBy(_._1).filter(_._2.size > 1).keys
    require(dupes.isEmpty, s"duplicate query names: ${dupes.mkString(",")}")
    entries
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    full.map { case (n, q) => n -> q.build }.toMap

  def oracleSql: Map[String, String] =
    full.collect { case (n, q) if q.oracle.isDefined => n -> q.oracle.get }.toMap
}
