package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.cosine_sim
import graft.queries.Catalog.{Q, table, events}
import graft.queries.Artifact.SampleBounded

/** Query batch 4: wider SQL surface (cube, pivot, more window
  * functions, scalar subqueries) and more training-data ops (k-NN
  * join, token frequencies, per-language stats, embedding norms). */
object Batch4 {

  private val d4 = DecimalType(18, 4)
  private def dec(c: org.apache.spark.sql.Column) = c.cast(d4)
  private def decSql(c: String) = s"CAST($c AS DECIMAL(18,4))"

  /** Build-once keep-set bloom for the composed pipeline: the doc_ids
    * that survive near-dup removal, built from the memoized pair mine,
    * persisted and RELOADED through the sidecar path (persistBloom/
    * loadBloom) so the entry exercises the same build-once/apply-many
    * artifact flow a real deployment uses across jobs. ~9.6 bits per
    * kept doc at 1% fpp — broadcast-class at any corpus size. */
  /** Fresh scratch path per BUILD (`createTempDirectory` — unique by
    * construction), replacing the old `math.abs(dir.hashCode)` key: a
    * hashCode collision, two JVMs sharing /tmp, or Int.MinValue could
    * all serve a bloom built for DIFFERENT data, and a mismatched
    * keep-set bloom silently drops surviving documents (round-9
    * advice). Uniqueness is what BloomPathSpec pins. */
  private[graft] def bloomScratchPath(): String =
    java.nio.file.Files.createTempDirectory("graft_keep_bloom_")
      .resolve("bloom.parquet").toAbsolutePath.toString

  private[graft] val keepBloom =
    Artifact("keep_bloom", SampleBounded, Batch3.pairCounts)((s, dir) => {
    val losers = Batch3.ngramPairs(s, dir).select(col("doc_b")).distinct()
    val keepers = table(s, dir, "documents").select(col("doc_id"))
      .join(losers, col("doc_id") === col("doc_b"), "left_anti")
    val path = bloomScratchPath()
    graft.ops.Scale.persistBloom(
      graft.ops.Scale.bloomKeyFilter(keepers, "doc_id"), s, path)
    graft.ops.Scale.loadBloom(s, path)
  })(_ => ())

  /** Brute-force k-NN-join oracle over the vec_id < 5 query set,
    * shared by the exhaustive batched joins (flat, two-level, and the
    * streaming twin — all exact by construction at full probes). */
  private val knnJoinExactOracle: String =
    """SELECT qid, vec_id, score, rk FROM (
      |  SELECT q.vec_id AS qid, e.vec_id,
      |    list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
      |      CAST(q.embedding AS DOUBLE[])) AS score,
      |    row_number() OVER (PARTITION BY q.vec_id
      |      ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
      |        CAST(q.embedding AS DOUBLE[])) DESC, e.vec_id) AS rk
      |  FROM embeddings e, (SELECT * FROM embeddings WHERE vec_id < 5) q
      |  WHERE e.vec_id <> q.vec_id)
      |WHERE rk <= 3 ORDER BY qid, rk""".stripMargin

  val entries: Seq[(String, Q)] = Seq(

    // ---- CUBE grouping sets
    "cube_agg" -> Q(
      (s, dir) => {
        table(s, dir, "lineitem")
          .cube(col("l_returnflag"), col("l_linestatus"))
          .agg(count(lit(1)).as("n"),
            sum(dec(col("l_quantity"))).cast("double").as("sum_qty"))
          .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))
      },
      Some(s"""SELECT l_returnflag, l_linestatus, count(*) AS n,
              |  CAST(sum(${decSql("l_quantity")}) AS DOUBLE) AS sum_qty
              |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
              |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin),
      "CUBE grouping sets"),

    // ---- manual pivot (conditional aggregation — engine-portable)
    "pivot_events" -> Q(
      (s, dir) => {
        val types = Seq("click", "error", "purchase", "signup", "view")
        val aggs = types.map(t =>
          count(when(col("event_type") === t, 1)).as(s"n_$t"))
        events(s, dir)
          .groupBy(col("user_id"))
          .agg(aggs.head, aggs.tail: _*)
          .orderBy("user_id")
      },
      Some("""SELECT user_id,
             |  count(CASE WHEN event_type = 'click' THEN 1 END) AS n_click,
             |  count(CASE WHEN event_type = 'error' THEN 1 END) AS n_error,
             |  count(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_purchase,
             |  count(CASE WHEN event_type = 'signup' THEN 1 END) AS n_signup,
             |  count(CASE WHEN event_type = 'view' THEN 1 END) AS n_view
             |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin),
      "pivot via conditional aggregation"),

    // ---- batch sessionization: 30-min-gap session ids via the
    // classic lag + running-sum-of-starts idiom — the BATCH twin of
    // stream_session (same gap semantics, session ids instead of
    // session_window structs). One keyed window shuffle; the
    // per-session rollup partial-aggregates map-side.
    "sessionize" -> Q(
      (s, dir) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        events(s, dir)
          .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
          .withColumn("new_sess",
            when(col("prev_us").isNull ||
              unix_micros(col("ts")) - col("prev_us") > 30L * 60 * 1000000, 1)
              .otherwise(0))
          .withColumn("session_id", sum(col("new_sess")).over(run))
          .groupBy(col("user_id"), col("session_id"))
          .agg(count(lit(1)).as("n_events"),
            min(col("ts")).as("session_start"),
            max(col("ts")).as("session_end"))
          .orderBy("user_id", "session_id")
      },
      Some("""WITH e AS (
             |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
             |l AS (SELECT user_id, event_id, ts,
             |        lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
             |      FROM e),
             |c AS (SELECT user_id, ts,
             |        CAST(sum(CASE WHEN prev_ts IS NULL
             |              OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000
             |            THEN 1 ELSE 0 END) OVER (
             |          PARTITION BY user_id ORDER BY ts, event_id
             |          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
             |      FROM l)
             |SELECT user_id, session_id, count(*) AS n_events,
             |  min(ts) AS session_start, max(ts) AS session_end
             |FROM c GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
      "30-min-gap sessionization (lag + running start-count; batch twin of stream_session)"),

    // ---- TPC-H Q7-shaped volume shipping: 6-way join with TWO nation
    // dimension roles (supplier's and customer's), symmetric pair
    // filter, per-year revenue. Plan shape: fact tables equi-join on
    // keys, both nation roles BROADCAST (25 rows each), the pair
    // filter prunes before aggregation — no shuffle carries more than
    // the surviving fact rows at any scale.
    "q7_volume_shipping" -> Q(
      (s, dir) => {
        val li = table(s, dir, "lineitem")
          .filter(col("l_shipdate") >= "1995-01-01" && col("l_shipdate") < "1997-01-01")
        val n1 = table(s, dir, "nation")
          .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
        val n2 = table(s, dir, "nation")
          .select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))
        li.join(table(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
          .join(table(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
          .join(table(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(n1), col("s_nationkey") === col("s_nk"))
          .join(broadcast(n2), col("c_nationkey") === col("c_nk"))
          .filter((col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
                  (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1"))
          .groupBy(col("supp_nation"), col("cust_nation"),
            year(col("l_shipdate")).cast("long").as("l_year"))
          .agg(sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
            .cast("double").as("revenue"))
          .orderBy("supp_nation", "cust_nation", "l_year")
      },
      Some(s"""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
              |  year(l_shipdate) AS l_year,
              |  CAST(sum(${decSql("l_extendedprice")} * (1 - ${decSql("l_discount")})) AS DOUBLE)
              |    AS revenue
              |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
              |JOIN customer ON o_custkey = c_custkey
              |JOIN supplier ON l_suppkey = s_suppkey
              |JOIN nation n1 ON s_nationkey = n1.n_nationkey
              |JOIN nation n2 ON c_nationkey = n2.n_nationkey
              |WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
              |    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
              |  AND l_shipdate >= TIMESTAMP '1995-01-01'
              |  AND l_shipdate < TIMESTAMP '1997-01-01'
              |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin),
      "TPC-H Q7 shape: dual-role nation dims broadcast, symmetric pair filter, per-year revenue"),

    // ---- weekly cohort retention: users grouped by first-purchase
    // week, activity counted per week offset — the classic retention
    // matrix. Two map-side-combinable aggregations + one equi-join on
    // user_id, no window: at 100 TB both aggs shuffle by user once and
    // the cohort side broadcasts (|users| << |events|). Week offsets
    // are exact multiples of 7 days (both endpoints week-truncated),
    // so the /7 division is exact in both engines.
    "cohort_retention" -> Q(
      (s, dir) => {
        val p = events(s, dir).filter(col("event_type") === "purchase")
          .select(col("user_id"), to_date(date_trunc("week", col("ts"))).as("w"))
        val fw = p.groupBy("user_id").agg(min(col("w")).as("cohort"))
        p.join(fw, "user_id")
          .groupBy(col("cohort"),
            (datediff(col("w"), col("cohort")) / 7).cast("long").as("week_offset"))
          .agg(count_distinct(col("user_id")).as("active_users"))
          .orderBy("cohort", "week_offset")
      },
      Some("""WITH p AS (
             |  SELECT user_id,
             |    CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS DATE) AS w
             |  FROM events WHERE event_type = 'purchase'),
             |fw AS (SELECT user_id, min(w) AS cohort FROM p GROUP BY 1)
             |SELECT cohort, (w - cohort) // 7 AS week_offset,
             |  count(DISTINCT user_id) AS active_users
             |FROM p JOIN fw USING (user_id)
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
      "weekly cohort retention matrix (first-activity cohort x week offset; aggs + equi-join, no window)"),

    // ---- ntile / first_value / last_value windows (explicit ROWS frame)
    "win_ntile_bounds" -> Q(
      (s, dir) => {
        val w = Window.partitionBy(col("c_nationkey"))
          .orderBy(col("c_acctbal").desc, col("c_custkey"))
        val frame = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        table(s, dir, "customer")
          .select(col("c_nationkey"), col("c_custkey"),
            ntile(4).over(w).as("quartile"),
            first(col("c_custkey")).over(frame).as("richest"),
            last(col("c_custkey")).over(frame).as("poorest"))
          .orderBy("c_nationkey", "c_custkey")
      },
      Some("""SELECT c_nationkey, c_custkey,
             |  ntile(4) OVER w AS quartile,
             |  first_value(c_custkey) OVER
             |    (w ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS richest,
             |  last_value(c_custkey) OVER
             |    (w ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS poorest
             |FROM customer
             |WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey)
             |ORDER BY c_nationkey, c_custkey""".stripMargin),
      "ntile + unbounded-frame first/last value"),

    // ---- correlated scalar subquery (customers above their nation's avg)
    "scalar_subquery" -> Q(
      (s, dir) => {
        val cust = table(s, dir, "customer")
        val avgByNation = cust.groupBy(col("c_nationkey").as("nk"))
          .agg((sum(dec(col("c_acctbal"))).cast("double") / count(lit(1))).as("nation_avg"))
        cust.join(broadcast(avgByNation), col("c_nationkey") === col("nk"))
          .filter(col("c_acctbal") > col("nation_avg"))
          .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"))
          .orderBy("c_custkey")
      },
      Some(s"""SELECT c_custkey, c_nationkey, c_acctbal FROM customer c
              |WHERE c_acctbal > (
              |  SELECT CAST(sum(${decSql("c_acctbal")}) AS DOUBLE) / count(*)
              |  FROM customer c2 WHERE c2.c_nationkey = c.c_nationkey)
              |ORDER BY c_custkey""".stripMargin),
      "correlated scalar subquery = broadcast agg join (Catalyst would decorrelate identically)"),

    // ---- k-NN join: top-3 neighbors for each of a query set. The
    // rk <= 3 cut runs as Spark's WindowGroupLimit. A graft RowTopK
    // aggregate was retired for it: at sf0.1, local[4], one A/B read
    // 0.297 -> 0.261 s and a second (min of 5 alternating JVM pairs)
    // 0.444 -> 0.474 s, a loss of about 7 % kept for one less operator.
    "ann_knn_join" -> Q(
      (s, dir) => {
        val emb = table(s, dir, "embeddings")
        val queries = emb.filter(col("vec_id") < 5)
          .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
        val w = Window.partitionBy(col("qid"))
          .orderBy(col("score").desc, col("vec_id"))
        emb.crossJoin(broadcast(queries))
          .filter(col("vec_id") =!= col("qid"))
          .select(col("qid"), col("vec_id"),
            cosine_sim(col("embedding"), col("qvec")).as("score"))
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 3)
          .orderBy("qid", "rk")
      },
      Some("""SELECT qid, vec_id, score, rk FROM (
             |  SELECT q.vec_id AS qid, e.vec_id,
             |    list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
             |      CAST(q.embedding AS DOUBLE[])) AS score,
             |    row_number() OVER (PARTITION BY q.vec_id
             |      ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
             |        CAST(q.embedding AS DOUBLE[])) DESC, e.vec_id) AS rk
             |  FROM embeddings e, (SELECT * FROM embeddings WHERE vec_id < 5) q
             |  WHERE e.vec_id <> q.vec_id)
             |WHERE rk <= 3 ORDER BY qid, rk""".stripMargin),
      "k-NN join: per-query top-k neighbors (broadcast query set, window rank)"),

    // ---- the IVF-routed flavor of ann_knn_join: each query probes
    // only its ranked clusters via an EQUI-join on cluster id (center
    // ranking against the broadcast center table, bounded-top-k cuts
    // on both sides of the scoring join — the batched-ANN shape that
    // scales past a broadcastable query set). nprobe = k probes every
    // cluster, so the result is exact BY CONSTRUCTION and shares
    // ann_knn_join's oracle; the pruned path runs in AnnSpec.
    "ann_ivf_knn_join" -> Q(
      (s, dir) => {
        val idx = Batch3.ivfIndex(s, dir)
        val queries = table(s, dir, "embeddings").filter(col("vec_id") < 5)
          .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
        graft.ops.Ann.knnJoinIvf(idx, "embedding", "vec_id", queries,
            "qid", "qvec", topK = 3, nprobe = idx.centers.length,
            excludeSelf = true)
          .orderBy("qid", "rk")
      },
      Some(knnJoinExactOracle),
      "IVF-routed k-NN join: per-query cluster probes via equi-join, bounded top-k both sides (exhaustive = exact; pruned path AnnSpec-verified)"),

    // ---- the STREAMING batched ANN join on the oracle gate: query
    // vectors arrive as a stream against the FROZEN build-once index
    // (the online-lookup/online-dedup service shape); each micro-batch
    // routes through knnJoinIvf and appends under the applied-batchId
    // marker discipline. Exhaustive probes on a single-batch replay =
    // exact, so the same brute-force oracle applies, hash-compared.
    "ann_knn_join_stream" -> Q(
      (s, dir) => {
        val idx = Batch3.ivfIndex(s, dir)
        Catalog.replayToParquet(s, dir, "embeddings.parquet",
            xform = _.filter(col("vec_id") < 5)
              .select(col("vec_id").as("qid"), col("embedding").as("qvec")),
            perBatch = batch => graft.ops.Ann.knnJoinIvf(
              idx, "embedding", "vec_id", batch, "qid", "qvec",
              topK = 3, nprobe = idx.centers.length, excludeSelf = true))
          .orderBy("qid", "rk")
      },
      Some(knnJoinExactOracle),
      "streaming batched ANN join against the frozen IVF index (micro-batched knnJoinIvf, idempotent appends; exhaustive single-batch replay = exact)"),

    // ---- the batched join through the TWO-LEVEL ranking (the
    // SemDeDup-scale-k shape): coarse cells ranked per query, probed
    // cells expanded through the cell-keyed sub-center equi-join, then
    // the same scoring tail. Exhaustive nprobeCoarse/nprobe = exact,
    // same oracle as the flat joins; the √k ranking advantage is what
    // SQL cannot express (AnnSpec proves flat/hier equality + pruned
    // recall).
    "ann_hier_knn_join" -> Q(
      (s, dir) => {
        val h = Batch3.hierIndex(s, dir)
        val queries = table(s, dir, "embeddings").filter(col("vec_id") < 5)
          .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
        graft.ops.Ann.knnJoinIvfHier(h, "embedding", "vec_id", queries,
            "qid", "qvec", topK = 3, nprobeCoarse = h.k1,
            nprobe = h.k1 * h.k2, excludeSelf = true)
          .orderBy("qid", "rk")
      },
      Some(knnJoinExactOracle),
      "two-level batched k-NN join: coarse-cell ranking + cell-keyed sub-center equi-join (exhaustive = exact; pruned path AnnSpec-verified)"),

    // ---- corpus token frequencies (top 50)
    "top_tokens" -> Q(
      (s, dir) => {
        table(s, dir, "documents")
          .select(explode(split(col("text"), " ")).as("token"))
          .groupBy("token").agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("token"))
          .limit(50)
      },
      Some("""SELECT token, count(*) AS n FROM (
             |  SELECT unnest(string_split(text, ' ')) AS token FROM documents)
             |GROUP BY token ORDER BY n DESC, token LIMIT 50""".stripMargin),
      "corpus token frequency (explode + count + top-k)"),

    // ---- per-language corpus stats
    "doc_stats_by_lang" -> Q(
      (s, dir) => {
        table(s, dir, "documents")
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("total_chars"),
            (sum(col("n_chars")).cast("double") / count(lit(1))).as("avg_chars"),
            countDistinct(col("source")).as("n_sources"))
          .orderBy("lang")
      },
      // NB: CAST(sum(...) AS BIGINT) — DuckDB's sum(INTEGER/BIGINT)
      // returns HUGEINT while Spark returns BIGINT; the driver's hash
      // canonicalizes them differently even when values are equal.
      Some("""SELECT lang, count(*) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
             |  CAST(sum(n_chars) AS DOUBLE) / count(*) AS avg_chars,
             |  count(DISTINCT source) AS n_sources
             |FROM documents GROUP BY lang ORDER BY lang""".stripMargin),
      "per-language corpus statistics"),

    // ---- heavy hitters via custom TypedImperativeAggregate. k=64
    //      exceeds the corpus vocabulary (31), so Misra-Gries counts
    //      are exact and the full token histogram is the oracle.
    "heavy_hitter_tokens" -> Q(
      (s, dir) => {
        import graft.functions.HeavyHitters.heavy_hitters
        table(s, dir, "documents")
          .select(explode(split(col("text"), " ")).as("token"))
          .agg(heavy_hitters(col("token"), 64).as("hh"))
          .select(explode(col("hh")).as("e"))
          .select(col("e.item").as("token"), col("e.count").as("n"))
          .orderBy(col("n").desc, col("token"))
      },
      Some("""SELECT token, count(*) AS n FROM (
             |  SELECT unnest(string_split(text, ' ')) AS token FROM documents)
             |GROUP BY token ORDER BY n DESC, token""".stripMargin),
      "Misra-Gries heavy hitters (custom TypedImperativeAggregate; exact when k >= |vocab|)"),

    // ---- asymmetric containment (near-dup literature's second metric:
    //      inter/min(|A|,|B|) — catches subset-style duplication that
    //      Jaccard under-scores). Same inverted-index shape as
    //      dedup_ngram_jaccard.
    "dedup_containment" -> Q(
      (s, dir) => {
        // containment = inter/min(|A|,|B|) over the SAME memoized
        // pair-count subtree as the Jaccard family (Batch3.pairCounts) —
        // one mining execution per run serves both metrics.
        Batch3.pairCounts(s, dir)
          .withColumn("containment",
            col("inter").cast("double") / least(col("na"), col("nb")))
          .filter(col("containment") >= 0.7)
          .select(col("doc_a"), col("doc_b"), col("containment"))
          .orderBy("doc_a", "doc_b")
      },
      Some("""WITH s AS (
             |  SELECT doc_id, list_distinct(list_transform(
             |    range(1, greatest(len(string_split(text, ' ')) - 2, 0) + 1),
             |    i -> array_to_string(list_slice(string_split(text, ' '), i, i + 2), ' '))) AS sh
             |  FROM documents)
             |SELECT doc_a, doc_b, containment FROM (
             |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             |    CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
             |      least(len(a.sh), len(b.sh)) AS containment
             |  FROM s a JOIN s b ON a.doc_id < b.doc_id)
             |WHERE containment >= 0.7 ORDER BY doc_a, doc_b""".stripMargin),
      "shingle containment pairs (asymmetric near-dup metric)"),

    // ---- per-day top event per user (windowed top-k over time buckets)
    "win_topk_per_day" -> Q(
      (s, dir) => {
        val w = Window.partitionBy(col("user_id"), col("day"))
          .orderBy(col("value").desc, col("event_id"))
        events(s, dir)
          .withColumn("day", date_trunc("day", col("ts")))
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") === 1)
          .select(col("user_id"), col("day"), col("event_id"), col("value"))
          .orderBy("user_id", "day")
      },
      Some("""SELECT user_id, day, event_id, value FROM (
             |  SELECT user_id, date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
             |    event_id, value,
             |    row_number() OVER (PARTITION BY user_id,
             |      date_trunc('day', CAST(ts AS TIMESTAMP))
             |      ORDER BY value DESC, event_id) AS rk
             |  FROM events)
             |WHERE rk = 1 ORDER BY user_id, day""".stripMargin),
      "per-group-per-bucket top-k (windowed rank over time buckets)"),

    // ---- same semantics, scale-correct plan: BoundedTopK pre-reduces
    // each map task to k rows per key BEFORE the exchange, so the
    // shuffle moves O(keys·k) ids instead of every row (the window
    // version above must shuffle the whole table to rank it). Same
    // DuckDB oracle as win_topk_per_day — identical answer, different
    // physical strategy.
    "win_topk_bounded" -> Q(
      (s, dir) => {
        events(s, dir)
          .withColumn("day", date_trunc("day", col("ts")))
          .groupBy(col("user_id"), col("day"))
          .agg(graft.functions.BoundedTopK.top_k_by(
            col("value"), col("event_id"), 1).as("top"))
          .select(col("user_id"), col("day"), explode(col("top")).as("t"))
          .select(col("user_id"), col("day"),
            col("t.id").as("event_id"), col("t.ord").as("value"))
          .orderBy("user_id", "day")
      },
      Some("""SELECT user_id, day, event_id, value FROM (
             |  SELECT user_id, date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
             |    event_id, value,
             |    row_number() OVER (PARTITION BY user_id,
             |      date_trunc('day', CAST(ts AS TIMESTAMP))
             |      ORDER BY value DESC, event_id) AS rk
             |  FROM events)
             |WHERE rk = 1 ORDER BY user_id, day""".stripMargin),
      "bounded-buffer top-k-per-key aggregate (O(keys*k) shuffle; same oracle as the window version)"),

    // ---- the composed training-corpus pipeline: quality filter ->
    //      language filter -> near-dup removal -> corpus stats.
    // The dedup keep-set rides in front as a persisted BLOOM probed in
    // the documents scan stage (build-once / apply-many — the same
    // artifact every downstream corpus scan of a real pipeline would
    // reload): might_contain=false proves the doc is a dup LOSER, so
    // it drops below the first exchange; false positives (~1%) ride
    // through to the anti-join that would have dropped them anyway,
    // keeping the result exactly equal to the unfiltered composition
    // (same oracle). PlanSpec asserts the probe sits under the shuffle.
    "pipeline_training_corpus" -> Q(
      (s, dir) => {
        val quality = Catalog.queries("quality_score")(s, dir)
        val langs = Catalog.queries("lang_id")(s, dir).select(col("doc_id"), col("lang_pred"))
        val dupLosers = Batch3.ngramPairs(s, dir)
          .select(col("doc_b")).distinct()
        graft.ops.Scale.bloomPrefilter(
            Catalog.table(s, dir, "documents"), "doc_id", keepBloom(s, dir))
          .join(quality, "doc_id")
          .join(langs, "doc_id")
          .filter(col("quality") >= 0.5 && col("lang_pred") === "en")
          .join(dupLosers, col("doc_id") === col("doc_b"), "left_anti")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("total_chars"),
            min(col("doc_id")).as("first_doc"))
      },
      Some(s"""WITH q AS (${Batch3.qualityOracle}),
              |l AS (${Batch3.langOracle}),
              |s AS (
              |  SELECT doc_id, list_distinct(list_transform(
              |    range(1, greatest(len(string_split(text, ' ')) - 2, 0) + 1),
              |    i -> array_to_string(list_slice(string_split(text, ' '), i, i + 2), ' '))) AS sh
              |  FROM documents),
              |losers AS (
              |  SELECT DISTINCT doc_b FROM (
              |    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
              |      CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
              |        (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jaccard
              |    FROM s a JOIN s b ON a.doc_id < b.doc_id)
              |  WHERE jaccard >= 0.5)
              |SELECT count(*) AS n_docs,
              |  CAST(sum(d.n_chars) AS BIGINT) AS total_chars,
              |  min(d.doc_id) AS first_doc
              |FROM documents d
              |JOIN q ON q.doc_id = d.doc_id
              |JOIN l ON l.doc_id = d.doc_id
              |WHERE q.quality >= 0.5 AND l.lang_pred = 'en'
              |  AND d.doc_id NOT IN (SELECT doc_b FROM losers)""".stripMargin),
      "composed training-data pipeline: quality + language + near-dup filters -> corpus stats"),

    // ---- embedding L2 norms (higher-order functions, double math)

    // ---- embedding L2 norms (higher-order functions, double math)
    "embedding_norms" -> Q(
      (s, dir) => {
        table(s, dir, "embeddings")
          .select(col("vec_id"),
            sqrt(aggregate(col("embedding").cast("array<double>"),
              lit(0.0), (acc, x) => acc + x * x)).as("l2_norm"))
          .orderBy("vec_id")
      },
      Some("""SELECT vec_id,
             |  sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
             |    x -> x * x))) AS l2_norm
             |FROM embeddings ORDER BY vec_id""".stripMargin),
      "L2 norms via higher-order aggregate (codegen'd, no UDF)"),

    // ---- K6/S6 jdbc endpoints: write → read back through the registry
    // factories against embedded Derby (the JDBC engine shipped in
    // Spark's jar dir). The write is intentionally eager (a sink IS an
    // action); 25 rows, in-memory database keyed by the sf dir so
    // repeated bench invocations overwrite instead of accumulating.
    "jdbc_roundtrip" -> Q(
      (s, dir) => {
        System.setProperty("derby.stream.error.file", "/dev/null")
        val url = s"jdbc:derby:memory:graft_rt_${math.abs(dir.hashCode)};create=true"
        val wCfg = graft.model.EndpointConfig(
          name = "jdbc_rt_w", connectionType = "jdbc", key = "jrt",
          config = Map("url" -> url, "dbtable" -> "nation_rt", "mode" -> "overwrite"))
        graft.sinks.Sinks.batch("jdbc")(
          table(s, dir, "nation").select(
            col("n_nationkey"), col("n_name"), col("n_regionkey")), wCfg)
        val rCfg = wCfg.copy(name = "jdbc_rt_r",
          config = wCfg.config + ("partition_column" -> "n_nationkey",
            "lower_bound" -> "0", "upper_bound" -> "25", "num_partitions" -> "4"))
        graft.sources.Sources.resolveBatch(rCfg)(s, rCfg)
          .orderBy("n_nationkey")
      },
      Some("""SELECT n_nationkey, n_name, n_regionkey
             |FROM nation ORDER BY n_nationkey""".stripMargin),
      "jdbc sink + partitioned jdbc source roundtrip (embedded Derby)"),
  )
}
