package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.queries.Batch3.{shingles, shinglesSql, toks}
import graft.queries.Catalog.{Q, events, table}

/** Query batch 6: sliding event-time windows, idf-weighted shingle
  * cosine similarity, and deterministic stratified sampling — rounding
  * out the streaming plane (ROADMAP.md:95-106 "sliding windows") and
  * the training-data plane (weighted near-dup scoring, per-language
  * corpus sampling).
  */
object Batch6 {

  private val d4 = DecimalType(18, 4)
  private def dec(c: org.apache.spark.sql.Column) = c.cast(d4)
  private def decSql(c: String) = s"CAST($c AS DECIMAL(18,4))"

  val entries: Seq[(String, Q)] = Seq(

    // ---- sliding event-time windows (1 h width / 30 min slide): each
    // event lands in exactly two windows. Spark's window() with a
    // slide produces the expansion inside codegen; the oracle unnests
    // the two bucket starts per event. time_bucket's 2000-01-01 origin
    // coincides with Spark's epoch alignment for any slide that
    // divides a day. StreamingSpec replays this through a real stream
    // and matches.
    "stream_sliding" -> Q(
      (s, dir) => {
        events(s, dir)
          .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(dec(col("value"))).cast("double").as("sum_value"))
          .select(col("window.start").as("win_start"), col("event_type"),
            col("n"), col("sum_value"))
          .orderBy("win_start", "event_type")
      },
      Some(s"""WITH e AS (
              |  SELECT CAST(ts AS TIMESTAMP) AS ts, event_type, value FROM events),
              |w AS (
              |  SELECT unnest([
              |      time_bucket(INTERVAL 30 MINUTE, ts),
              |      time_bucket(INTERVAL 30 MINUTE, ts) - INTERVAL 30 MINUTE
              |    ]) AS win_start, event_type, value
              |  FROM e)
              |SELECT win_start, event_type, count(*) AS n,
              |  CAST(sum(${decSql("value")}) AS DOUBLE) AS sum_value
              |FROM w GROUP BY 1, 2 ORDER BY win_start, event_type""".stripMargin),
      "sliding event-time window (1h/30min; streaming twin replayed in StreamingSpec)"),

    // ---- idf-weighted shingle cosine: near-dup scoring that, unlike
    // raw Jaccard, discounts boilerplate shingles. Same inverted-index
    // discipline as the Jaccard miner — the weight of a shared shingle
    // depends only on the shingle, so the dot product is
    // sum(idf^2) over shared shingles: one equi-join on the 8-byte
    // hash + one aggregation; norms are per-doc aggregates of the same
    // quantity; ids-only until the final projection. Shingle (not
    // token) granularity keeps df bounded — token-level idf would
    // Σdf²-explode on a small vocabulary (and a maxDf cap composes
    // here exactly as in minePairCounts).
    // Parity: idf² is quantized to DECIMAL(18,8) BEFORE the exact
    // decimal sums (ln differs by 1 ulp between engines); sqrt and
    // division are correctly-rounded IEEE ops on identical inputs, and
    // the final cosine is re-quantized for safety.
    "shingle_cosine_pairs" -> Q(
      (s, dir) => {
        val docs = table(s, dir, "documents")
        val n = docs.count().toDouble
        // Lazily cached like minePairCounts' index: inv feeds FOUR
        // consumers (idf2, weighted, norms, the b-side) — without the
        // cache the shingle HOFs re-run per consumer whenever the
        // optimizer fails to reuse the exchange (plan-shape luck).
        // spreadScan: single-file corpora otherwise run the shingle
        // HOFs — and every stage over this cache — on ONE task (r22,
        // guide §2.5 input skew; same guard as Batch3.shingleDocs)
        val inv = Reuse.cacheFresh("batch6.shingleInv",
          graft.ops.Scale.spreadScan(docs, "doc_id")
          .select(col("doc_id"), explode(shingles(col("text"), 3)).as("shingle"))
          .select(col("doc_id"), xxhash64(col("shingle")).as("shash")))
        val idf2 = inv.groupBy("shash").agg(count(lit(1)).as("df"))
          .select(col("shash"),
            (log(lit(n) / col("df")) * log(lit(n) / col("df")))
              .cast(DecimalType(18, 8)).as("idf2"))
        // cached (r22, guide §2.4): weighted feeds THREE consumers —
        // the self-join's a and b sides plus norms — and each would
        // otherwise re-run the inv⋈idf2 join (idf2 aggregation
        // included) as its own subtree; the cache holds one extra
        // decimal column over the inv rows it already stores
        val weighted = Reuse.cacheFresh("batch6.weighted",
          inv.join(idf2, "shash"))
        val norms = weighted.groupBy("doc_id")
          .agg(sqrt(sum(col("idf2")).cast("double")).as("norm"))
        // Σdf² skew guard (same discipline as minePairCounts): the dot
        // product is a shash self-join of `weighted`, and idf² rides
        // the shingle, so carrying the a-side weight through
        // blockedSelfJoinPairs yields the IDENTICAL (doc_a, doc_b,
        // idf2) multiset as the plain join — one hot boilerplate
        // shingle never lands df² candidates on a single reducer.
        graft.ops.Scale.blockedSelfJoinPairs(
            weighted.select("doc_id", "shash", "idf2"), "shash", "doc_id")
          .select(col("doc_id_a").as("doc_a"), col("doc_id_b").as("doc_b"),
            col("idf2_a").as("idf2"))
          .groupBy("doc_a", "doc_b")
          .agg(sum(col("idf2")).cast("double").as("dot"))
          .join(norms.select(col("doc_id").as("doc_a"), col("norm").as("norm_a")), "doc_a")
          .join(norms.select(col("doc_id").as("doc_b"), col("norm").as("norm_b")), "doc_b")
          .withColumn("cosine",
            (col("dot") / (col("norm_a") * col("norm_b")))
              .cast(DecimalType(18, 8)).cast("double"))
          .filter(col("cosine") >= 0.5)
          .select(col("doc_a"), col("doc_b"), col("cosine"))
          .orderBy("doc_a", "doc_b")
      },
      Some(s"""WITH s AS (
              |  SELECT doc_id, unnest(${shinglesSql("string_split(text, ' ')", 3)}) AS shingle
              |  FROM documents),
              |idf AS (
              |  SELECT shingle,
              |    CAST(ln((SELECT CAST(count(*) AS DOUBLE) FROM documents) / count(*)) *
              |         ln((SELECT CAST(count(*) AS DOUBLE) FROM documents) / count(*))
              |      AS DECIMAL(18,8)) AS idf2
              |  FROM s GROUP BY shingle),
              |w AS (SELECT s.doc_id, s.shingle, idf.idf2 FROM s JOIN idf USING (shingle)),
              |norms AS (
              |  SELECT doc_id, sqrt(CAST(sum(idf2) AS DOUBLE)) AS norm
              |  FROM w GROUP BY doc_id),
              |dots AS (
              |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
              |    CAST(sum(a.idf2) AS DOUBLE) AS dot
              |  FROM w a JOIN w b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              |  GROUP BY 1, 2)
              |SELECT doc_a, doc_b, cosine FROM (
              |  SELECT doc_a, doc_b,
              |    CAST(CAST(dot / (na.norm * nb.norm) AS DECIMAL(18,8)) AS DOUBLE) AS cosine
              |  FROM dots
              |  JOIN norms na ON na.doc_id = doc_a
              |  JOIN norms nb ON nb.doc_id = doc_b)
              |WHERE cosine >= 0.5 ORDER BY doc_a, doc_b""".stripMargin),
      "idf-weighted shingle cosine near-dup pairs (inverted index, decimal-exact sums)"),

    // ---- deterministic stratified sample: 20 docs per language,
    // selected by md5(doc_id) order — a reproducible balanced subset
    // (the per-language cap a curriculum/mixture builder needs).
    // Hash-order = uniform-at-random but seedless-stable across
    // engines and runs. The window top-k shuffles full rows once; at
    // 100 TB the BoundedTopK aggregate (win_topk_bounded) is the
    // drop-in O(keys·k)-shuffle variant of this exact shape.
    "sample_stratified" -> Q(
      (s, dir) => {
        val w = Window.partitionBy(col("lang"))
          .orderBy(col("r"), col("doc_id"))
        table(s, dir, "documents")
          .withColumn("r", md5(col("doc_id").cast("string")))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 20)
          .select(col("lang"), col("rank").cast("long").as("rank"), col("doc_id"))
          .orderBy("lang", "rank")
      },
      Some("""SELECT lang, rank, doc_id FROM (
             |  SELECT lang, doc_id,
             |    CAST(row_number() OVER (PARTITION BY lang
             |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS rank
             |  FROM documents)
             |WHERE rank <= 20 ORDER BY lang, rank""".stripMargin),
      "deterministic per-language stratified sample (hash-ordered top-k per stratum)"),
  )
}
