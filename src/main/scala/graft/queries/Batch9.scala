package graft.queries

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.queries.Catalog.{Q, table, events}
import graft.queries.Artifact.SampleBounded
import graft.queries.Batch3.{toks, shingles, shinglesSql}

/** Query batch 9: the remaining LLM-training-data primitives —
  * document chunking, benchmark-contamination detection, Gopher-style
  * repetition signals, quantized (int8) similarity search, PII-style
  * masking, event-sequence mining, and near-dup graph degree.
  *
  * Scale notes:
  *  - chunk_docs / rep_signals / pii_mask are pure per-row (or
  *    two-level-aggregate) shapes: no join, map-side combinable,
  *    embarrassingly partitionable at 100 TB.
  *  - contamination_ngram joins the corpus against a BROADCAST eval
  *    set: benchmark suites are small by nature (thousands of docs),
  *    so the train side streams once with no shuffle of the corpus.
  *  - ann_int8_topk is the compressed-domain scoring path: vectors
  *    quantize to int8 (4× smaller than float32 — at 100 TB that is
  *    the difference between spilling and staying in memory), scores
  *    compute in exact integer arithmetic, and the plan is still a
  *    single scan + TakeOrdered.
  */
object Batch9 {

  /** Build-once + incremental-append artifact for the ann_append_search
    * gate entry, memoized per (session, dir): the index is FIT on the
    * even-id half only, persisted, the odd-id half appended as a
    * micro-batch — and then the SAME batch replayed, so the gate
    * proves the applied-batchId marker swallows an at-least-once retry
    * (a double-append would duplicate ids and break the hash compare).
    * The reloaded index serves the search, exercising the full
    * persist → append → reload artifact flow a deployment runs across
    * jobs. */
  private val appendIdx = Artifact("append_idx", SampleBounded)((s, dir) => {
    val emb = table(s, dir, "embeddings")
    val even = emb.filter(col("vec_id") % 2 === 0)
    val odd = emb.filter(col("vec_id") % 2 === 1)
    val idx = graft.ops.Ann.buildIvf(even, "embedding", k = 16)
    val path = Batch13.freshIdxPath("append_idx", dir)
    graft.ops.Ann.persistIvf(idx, path)
    require(graft.ops.Ann.appendBatchIdempotent(idx, odd, "embedding", path, 0L),
      "ann_append_search: first append unexpectedly skipped")
    require(!graft.ops.Ann.appendBatchIdempotent(idx, odd, "embedding", path, 0L),
      "ann_append_search: replayed batch was not recognized as applied")
    val loaded = graft.ops.Ann.loadIvf(s, path)
    loaded.copy(assigned = Reuse.cache(loaded.assigned))
  })(_.assigned.count())

  /** The append lifecycle continued through COMPACTION for the
    * ann_compact_search gate entry: two frozen-center append batches
    * (odd ids split in half) leave multiple small files per cluster
    * directory; compactIvf rewrites to one file per cluster and the
    * reloaded index must still serve the byte-identical corpus — the
    * day-2 maintenance op a streaming-append deployment runs on a
    * cadence, hash-proven against the brute-force oracle. */
  private val compactIdx = Artifact("compact_idx", SampleBounded)((s, dir) => {
    val emb = table(s, dir, "embeddings")
    val idx = graft.ops.Ann.buildIvf(
      emb.filter(col("vec_id") % 2 === 0), "embedding", k = 16)
    val path = Batch13.freshIdxPath("compact_idx", dir)
    graft.ops.Ann.persistIvf(idx, path)
    graft.ops.Ann.appendBatchIdempotent(idx,
      emb.filter(col("vec_id") % 4 === 1), "embedding", path, 0L)
    graft.ops.Ann.appendBatchIdempotent(idx,
      emb.filter(col("vec_id") % 4 === 3), "embedding", path, 1L)
    graft.ops.Ann.compactIvf(s, path)
    val loaded = graft.ops.Ann.loadIvf(s, path)
    loaded.copy(assigned = Reuse.cache(loaded.assigned))
  })(_.assigned.count())

  /** dedup_incremental's DuckDB re-derivation, shared verbatim with
    * the streaming twin's gate entry (single-batch feed ≡ batch
    * keeps). */
  private val incrementalOracle: String =
    s"""WITH s AS (
       |  SELECT doc_id, ${shinglesSql("string_split(text, ' ')", 3)} AS sh
       |  FROM documents),
       |shard AS (SELECT * FROM s WHERE doc_id % 10 = 0),
       |base  AS (SELECT * FROM s WHERE doc_id % 10 <> 0),
       |dup AS (
       |  SELECT DISTINCT a.doc_id FROM shard a JOIN base b ON
       |    CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
       |      (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
       |      >= CAST(0.5 AS DOUBLE))
       |SELECT doc_id FROM shard
       |WHERE doc_id NOT IN (SELECT doc_id FROM dup)
       |ORDER BY doc_id""".stripMargin

  /** The miner's inverted index `(idc, shash)` for a (doc_id, sh)
    * frame — exposed private[graft] so the scale specs can assert
    * the grid guard's per-task candidate bound against the REAL join
    * input, and so the streaming twin can build the corpus side (and
    * its per-shingle sizes) ONCE instead of per micro-batch. */
  private[graft] def incrementalInv(d: org.apache.spark.sql.DataFrame,
      idc: String): org.apache.spark.sql.DataFrame =
    d.select(col("doc_id").as(idc), explode(col("sh")).as("shingle"))
      .select(col(idc), xxhash64(col("shingle")).as("shash"))

  /** The asymmetric shard-vs-corpus near-dup filter shared by
    * dedup_incremental and its streaming twin: inverted-index
    * equi-join of the (small) shard against the base corpus on
    * hashed shingles — Σ df(shard)·df(base) work, never shard×base —
    * then the Jaccard cut and a left-anti keep. Inputs carry
    * (doc_id, sh); at 100 TB the base index is the persisted
    * build-once artifact and each incoming shard re-runs only this
    * asymmetric join.
    *
    * The shingle join rides [[graft.ops.Scale.gridJoinPairs]] (r20
    * verdict #1 — this was the last unguarded Σdf·df hot-key join in
    * the dedup plane): a boilerplate shingle present in b shard docs
    * and B corpus docs would land b·B candidate rows on ONE reducer
    * in the plain join; the grid guard splits that key into a gl×gr
    * task grid with a provably identical pair multiset, so the DuckDB
    * oracle stays the plain equi-join. Streaming callers pass the
    * build-once corpus inverted index as `baseInv` and its
    * per-shingle df table as `baseInvSizes` (`(shash, __rn)`), so a
    * micro-batch never re-explodes or re-aggregates the corpus. */
  private[graft] def incrementalKeeps(shard: org.apache.spark.sql.DataFrame,
      base: org.apache.spark.sql.DataFrame,
      baseInv: Option[org.apache.spark.sql.DataFrame] = None,
      baseInvSizes: Option[org.apache.spark.sql.DataFrame] = None)
      : org.apache.spark.sql.DataFrame = {
    val inter = graft.ops.Scale.gridJoinPairs(
        incrementalInv(shard, "sid"),
        baseInv.getOrElse(incrementalInv(base, "bid")),
        keyCols = Seq("shash"), leftId = "sid", rightId = "bid",
        cap = 2048, rightSizes = baseInvSizes)
      .groupBy("sid", "bid").agg(count(lit(1)).as("inter"))
    val sizes = shard.unionByName(base)
      .select(col("doc_id"), size(col("sh")).as("n"))
    val dups = inter
      .join(sizes.select(col("doc_id").as("sid"), col("n").as("ns")), "sid")
      .join(sizes.select(col("doc_id").as("bid"), col("n").as("nb")), "bid")
      .withColumn("j",
        col("inter").cast("double") / (col("ns") + col("nb") - col("inter")))
      .filter(col("j") >= 0.5)
      .select(col("sid")).distinct()
    shard.select(col("doc_id"))
      .join(dups, col("doc_id") === col("sid"), "left_anti")
  }

  /** Symmetric int8 quantization of a float vector: per-vector scale
    * 127/max|x|, explicit floor(x*scale + 0.5) so the rounding rule is
    * engine-independent (no HALF_UP vs HALF_EVEN ambiguity). All
    * downstream arithmetic (dot product, norms) is exact integer math;
    * only the final score division is floating-point. */
  private def quantize(v: Column): Column = {
    val dv = transform(v, x => x.cast("double"))
    val m  = array_max(transform(dv, x => abs(x)))
    // all-zero vector: 127/0 = Inf, 0*Inf = NaN — quantize to zeros
    // instead (the score then nulls out on the zero norm, not a crash).
    // 0L keeps both branches array<bigint> (floor returns BIGINT).
    when(m === 0, transform(dv, _ => lit(0L)))
      .otherwise(transform(dv, x => floor(x * (lit(127.0) / m) + lit(0.5))))
  }

  /** Exact long-sum of an array<long>. */
  private def lsum(a: Column): Column =
    aggregate(a, lit(0L), (acc, x) => acc + x)

  val entries: Seq[(String, Q)] = Seq(

    // ---- fixed-size overlapping token chunks (context-window prep).
    // chunk_idx derives from the start offset — no ordinality needed,
    // so both engines compute it without relying on unnest order.
    "chunk_docs" -> Q(
      (s, dir) => {
        val sz = 64; val step = 48
        table(s, dir, "documents")
          .select(col("doc_id"), toks(col("text")).as("t"))
          .select(col("doc_id"), col("t"),
            explode(sequence(lit(1), size(col("t")), lit(step))).as("st"))
          .select(col("doc_id"),
            ((col("st") - 1) / step).cast("long").as("chunk_idx"),
            concat_ws(" ", slice(col("t"), col("st"), lit(sz))).as("chunk_text"),
            least(lit(sz), size(col("t")) - col("st") + 1).cast("long").as("n_tok"))
          .orderBy("doc_id", "chunk_idx")
      },
      Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
             |s AS (SELECT doc_id, t, unnest(range(1, len(t)+1, 48)) AS st FROM d)
             |SELECT doc_id, CAST((st-1)//48 AS BIGINT) AS chunk_idx,
             |  array_to_string(list_slice(t, st, st+63), ' ') AS chunk_text,
             |  CAST(least(64, len(t)-st+1) AS BIGINT) AS n_tok
             |FROM s ORDER BY doc_id, chunk_idx""".stripMargin),
      "overlapping 64-token/48-stride document chunking (per-row HOF, no shuffle)"),

    // ---- benchmark-contamination check: distinct 3-gram overlap of
    // every training doc against a held-out eval set (doc_id % 97 = 0
    // stands in for the benchmark suite). The eval side is broadcast —
    // the deliberate scale choice: benchmark suites stay small while
    // the corpus streams by once. Spark joins on xxhash64(shingle)
    // (8-byte keys; collision odds ~|shingles|²/2⁶⁴, ignorable), the
    // oracle on the strings themselves.
    "contamination_ngram" -> Q(
      (s, dir) => {
        val d = table(s, dir, "documents")
          .select(col("doc_id"), shingles(col("text"), 3).as("sh"))
        val bench = d.filter(col("doc_id") % 97 === 0)
          .select(explode(col("sh")).as("shingle"))
          .select(xxhash64(col("shingle")).as("shash")).distinct()
        val train = d.filter(col("doc_id") % 97 =!= 0)
        val shared = train
          .select(col("doc_id"), explode(col("sh")).as("shingle"))
          .select(col("doc_id"), xxhash64(col("shingle")).as("shash"))
          .join(broadcast(bench), "shash")
          .groupBy("doc_id").agg(count(lit(1)).as("shared"))
        shared
          .join(train.select(col("doc_id"), size(col("sh")).cast("long").as("total")), "doc_id")
          .withColumn("ratio", col("shared").cast("double") / col("total"))
          .filter(col("ratio") >= 0.04)
          .select(col("doc_id"), col("shared"), col("total"), col("ratio"))
          .orderBy("doc_id")
      },
      Some(s"""WITH d AS (
              |  SELECT doc_id, ${shinglesSql("string_split(text, ' ')", 3)} AS sh
              |  FROM documents),
              |b AS (SELECT DISTINCT shingle FROM
              |        (SELECT unnest(sh) AS shingle FROM d WHERE doc_id % 97 = 0)),
              |t AS (SELECT doc_id, unnest(sh) AS shingle FROM d WHERE doc_id % 97 <> 0),
              |j AS (SELECT t.doc_id, count(*) AS shared FROM t JOIN b USING (shingle)
              |      GROUP BY t.doc_id),
              |tot AS (SELECT doc_id, CAST(len(sh) AS BIGINT) AS total FROM d
              |        WHERE doc_id % 97 <> 0)
              |SELECT j.doc_id, j.shared, tot.total,
              |  CAST(j.shared AS DOUBLE)/tot.total AS ratio
              |FROM j JOIN tot USING (doc_id)
              |WHERE CAST(j.shared AS DOUBLE)/tot.total >= CAST(0.04 AS DOUBLE)
              |ORDER BY doc_id""".stripMargin),
      "train-vs-eval 3-gram contamination ratio (broadcast eval side, corpus streams once)"),

    // ---- Gopher-style repetition signals: distinct-token ratio, top
    // token fraction, top bigram fraction. Two-level aggregation
    // ((doc,gram) then doc) — the map-side-combinable shape; never a
    // per-doc collect or an O(n²) HOF.
    "rep_signals" -> Q(
      (s, dir) => {
        val d = table(s, dir, "documents")
          .select(col("doc_id"), toks(col("text")).as("t"))
        val ta = d.select(col("doc_id"), explode(col("t")).as("tok"))
          .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
          .groupBy("doc_id").agg(
            max(col("c")).as("top_tok"), sum(col("c")).as("n_tok"),
            count(lit(1)).as("n_distinct"))
        // <2 tokens → zero bigrams (matching the oracle's empty
        // range(1,1)); one-pass kernel, multiplicity preserved
        val ba = table(s, dir, "documents")
          .select(col("doc_id"),
            explode(graft.functions.word_grams(col("text"), 2)).as("bg"))
          .groupBy("doc_id", "bg").agg(count(lit(1)).as("c"))
          .groupBy("doc_id").agg(max(col("c")).as("top_bg"), sum(col("c")).as("n_bg"))
        ta.join(ba, "doc_id")
          .select(col("doc_id"), col("n_tok"),
            (col("n_distinct").cast("double") / col("n_tok")).as("distinct_ratio"),
            (col("top_tok").cast("double") / col("n_tok")).as("top_tok_frac"),
            (col("top_bg").cast("double") / col("n_bg")).as("top_bigram_frac"))
          .withColumn("repetitive",
            col("top_bigram_frac") > 0.08 || col("distinct_ratio") < 0.2)
          .orderBy("doc_id")
      },
      Some("""WITH d AS (SELECT doc_id, string_split(text,' ') AS t FROM documents),
             |tc AS (SELECT doc_id, tok, count(*) AS c FROM
             |         (SELECT doc_id, unnest(t) AS tok FROM d) GROUP BY 1,2),
             |ta AS (SELECT doc_id, max(c) AS top_tok, CAST(sum(c) AS BIGINT) AS n_tok,
             |         count(*) AS n_distinct FROM tc GROUP BY 1),
             |bc AS (SELECT doc_id, bg, count(*) AS c FROM (
             |    SELECT doc_id, unnest(list_transform(range(1, greatest(len(t)-1,0)+1),
             |      i -> array_to_string(list_slice(t, i, i+1), ' '))) AS bg FROM d)
             |    GROUP BY 1,2),
             |ba AS (SELECT doc_id, max(c) AS top_bg, CAST(sum(c) AS BIGINT) AS n_bg
             |       FROM bc GROUP BY 1)
             |SELECT ta.doc_id, n_tok,
             |  CAST(n_distinct AS DOUBLE)/n_tok AS distinct_ratio,
             |  CAST(top_tok AS DOUBLE)/n_tok AS top_tok_frac,
             |  CAST(top_bg AS DOUBLE)/n_bg AS top_bigram_frac,
             |  (CAST(top_bg AS DOUBLE)/n_bg > CAST(0.08 AS DOUBLE)
             |   OR CAST(n_distinct AS DOUBLE)/n_tok < CAST(0.2 AS DOUBLE)) AS repetitive
             |FROM ta JOIN ba USING (doc_id) ORDER BY doc_id""".stripMargin),
      "Gopher-style repetition/quality signals (two-level agg, map-side combine)"),

    // ---- quantized similarity search: int8 symmetric quantization +
    // exact integer dot/norms. The compressed-domain twin of ann_topk;
    // AnnSpec asserts its top-k recall against the float path.
    "ann_int8_topk" -> Q(
      (s, dir) => {
        val emb = table(s, dir, "embeddings")
        val q = emb.filter(col("vec_id") === 0)
          .select(quantize(col("embedding")).as("qb"))
        emb.select(col("vec_id"), quantize(col("embedding")).as("qa"))
          .crossJoin(broadcast(q))
          .select(col("vec_id"),
            (lsum(zip_with(col("qa"), col("qb"), (a, b) => a * b)).cast("double")
              / (sqrt(lsum(transform(col("qa"), a => a * a)).cast("double"))
                 * sqrt(lsum(transform(col("qb"), b => b * b)).cast("double"))))
              .as("score"))
          .orderBy(col("score").desc, col("vec_id"))
          .limit(20)
      },
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             |s AS (SELECT vec_id, v,
             |        CAST(127 AS DOUBLE) / list_max(list_transform(v, x -> abs(x))) AS sc
             |      FROM e),
             |qz AS (SELECT vec_id,
             |         list_transform(v, x -> CAST(floor(x * sc + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS q
             |       FROM s),
             |qq AS (SELECT q AS qb FROM qz WHERE vec_id = 0)
             |SELECT vec_id,
             |  CAST(list_sum(list_transform(range(1, len(q)+1), i -> q[i]*qb[i])) AS DOUBLE)
             |  / (sqrt(CAST(list_sum(list_transform(q, x -> x*x)) AS DOUBLE))
             |     * sqrt(CAST(list_sum(list_transform(qb, x -> x*x)) AS DOUBLE))) AS score
             |FROM qz, qq ORDER BY score DESC, vec_id LIMIT 20""".stripMargin),
      "int8-quantized cosine top-k (4x smaller vectors, exact integer scoring)"),

    // ---- IVF-SQ8 on the oracle gate: exhaustive probe + exhaustive
    // rescore makes the two-stage compressed search exact BY
    // CONSTRUCTION (every cluster scanned, every candidate re-ranked
    // on the float embeddings), so DuckDB can oracle it like
    // ann_ivf_topk while the query still runs the real SQ8 machinery —
    // byte codes in the index, integer first-stage scoring, two-stage
    // cut. The point of SQ8 (pruned nprobe + small rescore touching a
    // fraction of the float data) is what SQL cannot express; that
    // path runs in AnnSpec with recall/exactness assertions.
    // ---- incremental index maintenance on the oracle gate: search an
    // index that was FIT on half the corpus, grown to full coverage by
    // a frozen-center append (replayed once to prove retry
    // idempotence — see appendIdx), persisted and RELOADED.
    // Exhaustive probe makes the result exact by construction, so the
    // same brute-force DuckDB oracle as ann_ivf_topk applies: any
    // append bug (lost rows, duplicated retry rows, drifted
    // assignment) breaks the row/hash compare.
    "ann_append_search" -> Q(
      (s, dir) => {
        val idx = appendIdx(s, dir)
        val q = table(s, dir, "embeddings").filter(col("vec_id") === 0)
          .select(col("embedding")).head().getSeq[Float](0).toArray
        graft.ops.Ann.searchIvf(idx, "embedding", q,
            topK = 20, nprobe = idx.centers.length,
            tieBreak = Seq(col("vec_id")))
          .select(col("vec_id"), col("score"))
          .orderBy(col("score").desc, col("vec_id"))
      },
      Some("""SELECT vec_id,
             |  list_cosine_similarity(CAST(embedding AS DOUBLE[]),
             |    (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0))
             |    AS score
             |FROM embeddings ORDER BY score DESC, vec_id LIMIT 20""".stripMargin),
      "search over a persisted index grown by idempotent frozen-center appends (retry replayed; reload serves old+new rows; exhaustive probe = exact)"),

    // ---- compaction on the oracle gate: the appended layout (see
    // appendIdx's lifecycle, here with TWO append batches) is
    // compacted to one file per cluster directory and reloaded; the
    // exhaustive search must still match the brute-force oracle —
    // compaction that lost, duplicated, or re-assigned a single row
    // breaks the hash compare.
    "ann_compact_search" -> Q(
      (s, dir) => {
        val idx = compactIdx(s, dir)
        val q = table(s, dir, "embeddings").filter(col("vec_id") === 0)
          .select(col("embedding")).head().getSeq[Float](0).toArray
        graft.ops.Ann.searchIvf(idx, "embedding", q,
            topK = 20, nprobe = idx.centers.length,
            tieBreak = Seq(col("vec_id")))
          .select(col("vec_id"), col("score"))
          .orderBy(col("score").desc, col("vec_id"))
      },
      Some("""SELECT vec_id,
             |  list_cosine_similarity(CAST(embedding AS DOUBLE[]),
             |    (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0))
             |    AS score
             |FROM embeddings ORDER BY score DESC, vec_id LIMIT 20""".stripMargin),
      "search after small-file compaction of an appended index (one file per cluster dir; content hash-identical; exhaustive probe = exact)"),

    "ann_ivf_sq8" -> Q(
      (s, dir) => {
        val idx = Batch3.sq8Index(s, dir)
        val q = table(s, dir, "embeddings").filter(col("vec_id") === 0)
          .select(col("embedding")).head().getSeq[Float](0).toArray
        // rescore >= |table| (footer-metadata count, not a scan)
        val n = table(s, dir, "embeddings").count().toInt
        graft.ops.Ann.searchIvf(idx, "embedding", q,
            topK = 20, nprobe = idx.centers.length,
            tieBreak = Seq(col("vec_id")), codes = graft.ops.Ann.Sq8(rescore = n))
          .select(col("vec_id"), col("score"))
          .orderBy(col("score").desc, col("vec_id"))
      },
      Some("""SELECT vec_id,
             |  list_cosine_similarity(CAST(embedding AS DOUBLE[]),
             |    (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0))
             |    AS score
             |FROM embeddings ORDER BY score DESC, vec_id LIMIT 20""".stripMargin),
      "IVF-SQ8: int8 codes in the index, integer first-stage scoring, exact float rescore (exhaustive probe+rescore = exact; pruned path AnnSpec-verified)"),

    // ---- the TWO-LEVEL hierarchical IVF on the oracle gate: build
    // with buildIvfHierarchical (coarse driver-local fit + per-cell
    // executor-side Lloyd + argmax_cosine_cell two-pass assignment),
    // probe with searchIvfHier at exhaustive nprobeCoarse=k1 and
    // nprobe=k1·k2 — every cell's every sub-cluster is scanned, so the
    // result is exact BY CONSTRUCTION and shares ann_ivf_topk's
    // brute-force DuckDB oracle, while the query executes the full
    // hierarchical plane end to end (the fit, both bounded argmax
    // passes, and the two-level cell→cluster probe ranking). The point
    // of the hierarchy (√k fit cost and √k-per-query center ranking at
    // SemDeDup-scale k) is what SQL cannot express; that path runs in
    // AnnSpec with measured cost bounds and recall assertions.
    "ann_ivf_hier_topk" -> Q(
      (s, dir) => {
        val h = Batch3.hierIndex(s, dir)
        val q = table(s, dir, "embeddings").filter(col("vec_id") === 0)
          .select(col("embedding")).head().getSeq[Float](0).toArray
        graft.ops.Ann.searchIvfHier(h, "embedding", q, topK = 20,
            nprobeCoarse = h.k1, nprobe = h.k1 * h.k2,
            tieBreak = Seq(col("vec_id")))
          .select(col("vec_id"), col("score"))
          .orderBy(col("score").desc, col("vec_id"))
      },
      Some("""SELECT vec_id,
             |  list_cosine_similarity(CAST(embedding AS DOUBLE[]),
             |    (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0))
             |    AS score
             |FROM embeddings ORDER BY score DESC, vec_id LIMIT 20""".stripMargin),
      "two-level hierarchical IVF: sqrt(k)-scaled fit + two-pass cell assignment; exhaustive two-level probe = exact (oracled), pruned path AnnSpec-verified"),

    // ---- IVF-PQ on the oracle gate, same exactness construction as
    // ann_ivf_sq8: exhaustive probe + exhaustive rescore means the ADC
    // stage only ORDERS candidates that all survive the cut, so the
    // float re-rank is exact and DuckDB-oracle-able. The production
    // path (nprobe << k, rescore << n over m-byte codes — 32× smaller
    // than float32 at d=64/m=8) is AnnSpec-verified.
    "ann_ivf_pq" -> Q(
      (s, dir) => {
        val (idx, cb) = Batch3.pqIndex(s, dir)
        val q = table(s, dir, "embeddings").filter(col("vec_id") === 0)
          .select(col("embedding")).head().getSeq[Float](0).toArray
        val n = table(s, dir, "embeddings").count().toInt
        graft.ops.Ann.searchIvf(idx, "embedding", q,
            topK = 20, nprobe = idx.centers.length,
            tieBreak = Seq(col("vec_id")), codes = graft.ops.Ann.Pq(cb, rescore = n))
          .select(col("vec_id"), col("score"))
          .orderBy(col("score").desc, col("vec_id"))
      },
      Some("""SELECT vec_id,
             |  list_cosine_similarity(CAST(embedding AS DOUBLE[]),
             |    (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0))
             |    AS score
             |FROM embeddings ORDER BY score DESC, vec_id LIMIT 20""".stripMargin),
      "IVF-PQ: m-byte product-quantized codes, ADC first stage, exact float rescore (exhaustive = exact; pruned path AnnSpec-verified)"),

    // ---- PII-style masking: digit runs collapsed to '#' (the
    // redaction primitive; the synthetic props payload is the only
    // digit-bearing text column). Pure per-row regex — stays in
    // whole-stage codegen, no shuffle.
    "pii_mask" -> Q(
      (s, dir) => {
        events(s, dir)
          .select(col("event_id"),
            regexp_replace(col("props"), "[0-9]+", "#").as("masked"),
            (length(col("props"))
              - length(regexp_replace(col("props"), "[0-9]", ""))).cast("long")
              .as("n_digits"))
          .orderBy("event_id")
      },
      Some("""SELECT event_id, regexp_replace(props, '[0-9]+', '#', 'g') AS masked,
             |  CAST(length(props) - length(regexp_replace(props, '[0-9]', '', 'g')) AS BIGINT)
             |    AS n_digits
             |FROM events ORDER BY event_id""".stripMargin),
      "digit-run redaction + digit census (per-row regex, codegen'd)"),

    // ---- exact-substring duplication signals (the Lee et al. 2022
    // "Deduplicating Training Data Makes Language Models Better"
    // primitive, window-granular): 16-token windows at stride 8,
    // inverted-indexed by window hash; a window appearing in >1 doc is
    // duplicated text. Per doc: how many of its windows are shared and
    // the duplicated fraction. Scale shape: explode is linear in corpus
    // tokens, the index join is equi (8-byte xxhash64 keys, never the
    // strings), aggregation is map-side combinable — no pairwise doc
    // comparison anywhere, so Σdf bounds the join, not n².
    "dedup_substring" -> Q(
      (s, dir) => {
        val sz = 16; val step = 8
        val d = table(s, dir, "documents")
          .select(col("doc_id"), col("text"),
            size(toks(col("text"))).as("n_tok"))
          .filter(col("n_tok") >= sz)
        val w = d.select(col("doc_id"),
            explode(graft.functions.word_grams(col("text"), sz, step)).as("win"))
          .select(col("doc_id"), xxhash64(col("win")).as("wh"))
        val dup = w.groupBy("wh")
          .agg(count_distinct(col("doc_id")).as("nd"))
          .filter(col("nd") > 1).select("wh")
        val shared = w.join(dup, "wh")
          .groupBy("doc_id").agg(count_distinct(col("wh")).as("shared_windows"))
        val tot = d.select(col("doc_id"),
          (floor((col("n_tok") - sz) / step) + 1).cast("long").as("n_windows"))
        tot.join(shared, "doc_id")
          .withColumn("dup_frac",
            col("shared_windows").cast("double") / col("n_windows"))
          .select(col("doc_id"), col("n_windows"), col("shared_windows"), col("dup_frac"))
          .orderBy("doc_id")
      },
      Some("""WITH d AS (
             |  SELECT doc_id, string_split(text,' ') AS t FROM documents
             |  WHERE len(string_split(text,' ')) >= 16),
             |w AS (SELECT doc_id, unnest(list_transform(
             |        range(1, len(t)-16+2, 8),
             |        i -> array_to_string(list_slice(t, i, i+15), ' '))) AS win
             |      FROM d),
             |dw AS (SELECT win FROM w GROUP BY win HAVING count(DISTINCT doc_id) > 1),
             |sh AS (SELECT doc_id, count(DISTINCT win) AS shared_windows
             |       FROM w JOIN dw USING (win) GROUP BY doc_id),
             |tot AS (SELECT doc_id, CAST((len(t)-16)//8 + 1 AS BIGINT) AS n_windows
             |        FROM d)
             |SELECT tot.doc_id, n_windows, shared_windows,
             |  CAST(shared_windows AS DOUBLE)/n_windows AS dup_frac
             |FROM tot JOIN sh USING (doc_id) ORDER BY tot.doc_id""".stripMargin),
      "exact-substring dup signals: 16-token windows, inverted index on window hash, per-doc duplicated fraction"),

    // ---- incremental (cross-corpus) dedup: filter a NEW shard against
    // an EXISTING base corpus — the per-ingest shape of a real training
    // pipeline (the full pairwise dedup runs once; every later shard
    // dedups against the accumulated index). doc_id % 10 = 0 stands in
    // for the incoming shard. Asymmetric inverted-index join: cost is
    // Σ df_shard(shingle)·df_base(shingle), never |shard|·|base|; at
    // 100 TB the base-side index is the persisted artifact and only
    // the shard explodes fresh.
    "dedup_incremental" -> Q(
      (s, dir) => {
        // NO spreadScan here, deliberately (r22 A/B): the entry's two
        // sides are narrow re-executed subtrees over a tiny shard/base
        // split, and hash-spreading the scan measured ~0.6 s SLOWER
        // (1.99 -> 2.58 s) — the repartition re-runs per subtree
        // instance and every stage gains 32 near-empty tasks
        val docs = table(s, dir, "documents")
          .select(col("doc_id"), shingles(col("text"), 3).as("sh"))
        incrementalKeeps(docs.filter(col("doc_id") % 10 === 0),
            docs.filter(col("doc_id") % 10 =!= 0))
          .orderBy("doc_id")
      },
      Some(incrementalOracle),
      "incremental shard-vs-corpus near-dup filter (asymmetric inverted-index join, anti-join keeps clean docs)"),

    // ---- the STREAMING incremental-dedup twin on the oracle gate:
    // arriving shard documents stream against the STATIC base corpus
    // (at 100 TB: the persisted inverted-index artifact); each
    // micro-batch runs the same asymmetric incrementalKeeps join and
    // appends its keeps under the applied-batchId marker discipline.
    // A single-batch replay of the fixture shard must equal
    // dedup_incremental's keep set exactly — shared oracle, hash-
    // compared. The online-ingest dedup service shape: stream new
    // docs in, emit only the ones that aren't near-dups of the corpus.
    "dedup_incremental_stream" -> Q(
      (s, dir) => {
        // NO spreadScan (r22 A/B) — see dedup_incremental above
        val base = table(s, dir, "documents")
          .filter(col("doc_id") % 10 =!= 0)
          .select(col("doc_id"), shingles(col("text"), 3).as("sh"))
        // the corpus side of the per-batch grid join, built ONCE per
        // entry run (at 100 TB: loaded from the persisted artifact):
        // the inverted index and its per-shingle df table are static
        // across micro-batches, so cache them instead of re-exploding
        // and re-aggregating the corpus in every batch's plan. Inside
        // the timed region — this is streaming state, not cross-run
        // precomputation.
        val baseInv = Reuse.cacheFresh("batch9.incrBaseInv",
          incrementalInv(base, "bid"))
        val baseSizes = Reuse.cacheFresh("batch9.incrBaseSizes",
          baseInv.groupBy("shash").agg(count(lit(1)).as("__rn")))
        // materialize the corpus-side state EAGERLY, before the stream
        // starts: the replay scaffold scopes micro-batches to 8
        // shuffle partitions (state-store sizing), and a lazy cache
        // would materialize the full corpus explode+agg under that
        // reduced parallelism inside batch 1 — this one action runs it
        // at the session's full width instead
        baseSizes.count()
        Catalog.replayToParquet(s, dir, "documents.parquet",
            xform = _.filter(col("doc_id") % 10 === 0),
            perBatch = batch => incrementalKeeps(
              batch.select(col("doc_id"), shingles(col("text"), 3).as("sh")),
              base, baseInv = Some(baseInv), baseInvSizes = Some(baseSizes)))
          .orderBy("doc_id")
      },
      Some(incrementalOracle),
      "streaming incremental near-dup filter (micro-batched shard-vs-corpus join, idempotent appends; single-batch replay == batch keeps)"),

    // ---- event-sequence mining: user-session transition matrix
    // (lag window per user, then a global count). The window shuffles
    // by user_id once; the transition aggregate is map-side combinable
    // over a 25-cell domain.
    "event_transitions" -> Q(
      (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        events(s, dir)
          .withColumn("prev", lag(col("event_type"), 1).over(w))
          .filter(col("prev").isNotNull)
          .groupBy(col("prev").as("from_type"), col("event_type").as("to_type"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("from_type"), col("to_type"))
      },
      Some("""SELECT prev AS from_type, event_type AS to_type, count(*) AS n FROM (
             |  SELECT event_type, lag(event_type) OVER (
             |    PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev
             |  FROM events)
             |WHERE prev IS NOT NULL GROUP BY 1,2
             |ORDER BY n DESC, from_type, to_type""".stripMargin),
      "per-user event-transition matrix (one keyed window + tiny global agg)"),

    // ---- near-dup graph degree histogram: how many docs have k
    // near-duplicates. Reads the memoized pair subtree (Batch3
    // pairCounts) — no re-mining; Bench labels it amortized.
    "dedup_degree" -> Q(
      (s, dir) => {
        val pairs = Batch3.ngramPairs(s, dir)
        pairs.select(col("doc_a").as("doc_id"))
          .unionAll(pairs.select(col("doc_b").as("doc_id")))
          .groupBy("doc_id").agg(count(lit(1)).as("degree"))
          .groupBy("degree").agg(count(lit(1)).as("n_docs"))
          .orderBy("degree")
      },
      Some(s"""WITH s AS (
              |  SELECT doc_id, ${shinglesSql("string_split(text, ' ')", 3)} AS sh
              |  FROM documents),
              |pairs AS (
              |  SELECT doc_a, doc_b FROM (
              |    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
              |      CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
              |        (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jaccard
              |    FROM s a JOIN s b ON a.doc_id < b.doc_id)
              |  WHERE jaccard >= 0.5),
              |deg AS (SELECT doc_id, count(*) AS degree FROM (
              |    SELECT doc_a AS doc_id FROM pairs
              |    UNION ALL SELECT doc_b FROM pairs) GROUP BY 1)
              |SELECT degree, count(*) AS n_docs FROM deg GROUP BY 1 ORDER BY degree""".stripMargin),
      "near-dup graph degree histogram (consumer of the shared pair subtree)"))
}
