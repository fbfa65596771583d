package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.functions.fnv64
import graft.queries.Catalog.{Q, events, table}
import graft.queries.Artifact.SampleBounded

/** Query batch 10: training-corpus assembly operators — deterministic
  * data mixing, sequence packing, token-budget selection — plus the
  * Z-order layout key, HLL distinct sketching, and gaps-and-islands.
  *
  * The common thread is DETERMINISM AT SCALE: every sampling/selection
  * decision here is a pure function of the row (hash buckets, window
  * positions), never `rand()` — so task retries, speculative
  * execution, and re-runs of a 100-TB job select byte-identical
  * corpora, and the DuckDB oracle can replay each decision exactly.
  */
object Batch10 {

  // the catalog's decimal-exact numeric policy (see Catalog scaladoc)
  private val d4 = org.apache.spark.sql.types.DecimalType(18, 4)
  private def dec(c: org.apache.spark.sql.Column) = c.cast(d4)
  private def decSql(c: String) = s"CAST($c AS DECIMAL(18,4))"

  /** The dedup_embedding planting (Batch3): the fixture embeddings are
    * mutually far apart, so near-dups are PLANTED — exact copies
    * (vec_id+1000000, cos=1) and adjacent-component swaps
    * (vec_id+2000000, genuine cos<1 near-dups by pure permutation). */
  private[queries] def plantedEmbeddings(s: SparkSession, dir: String): DataFrame = {
    val base = table(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val exactCopies = base.filter(col("vec_id") % 50 === 1)
      .select((col("vec_id") + 1000000).as("vec_id"), col("embedding"))
    val swapped = base.filter(col("vec_id") % 50 === 2)
      .select((col("vec_id") + 2000000).as("vec_id"),
        concat(
          array(element_at(col("embedding"), 2), element_at(col("embedding"), 1)),
          slice(col("embedding"), lit(3), size(col("embedding")) - 2)).as("embedding"))
    base.unionByName(exactCopies).unionByName(swapped)
  }

  /** SemDeDup's k: target cluster size ~100 (k = n/100) with NO small
    * constant ceiling — the paper's scale lever is precisely that k
    * GROWS with n so the within-cluster quadratic pair scan stays
    * ~constant work per row. The only cap is k-means-fit practicality
    * (2^20 centroids ≈ the most a coarse quantizer fit can carry);
    * past it mean cluster size grows linearly again, but at 2^20
    * clusters that slope starts at n ≈ 10^8, not n ≈ 25k as the old
    * min(256, ...) cap did. */
  private[graft] def semanticK(n: Long): Int =
    math.max(16L, math.min(1L << 20, n / 100)).toInt

  /** Fit-sample size for [[semanticK]]'s k: ~20 sample points per
    * centroid, floored at the default 100k and capped at 2M rows so
    * the driver-local Lloyd fit stays bounded; past the cap the fit
    * sees fewer points per centroid and degrades gracefully (centroid
    * quality, not correctness — assignment still covers every row). */
  private[graft] def semanticFitRows(k: Int): Int =
    math.max(100000, math.min(2000000, 20 * k))

  /** Memoized SemDeDup result per (session, dir) — the k-means fit +
    * within-cluster pair scan run once; later invocations read the
    * cached keep-set (bench marks the entry `amortized`).
    * buildIvfAuto picks the fit: the flat fit at catalog-fixture k,
    * the two-level hierarchical fit once k outgrows a single Lloyd
    * problem (above ~4k centroids) — so the un-capped [[semanticK]]
    * is fittable all the way to its 2^20 ceiling. */
  private val semanticDedup = Artifact("semantic_dedup", SampleBounded)((s, dir) => {
    val emb = plantedEmbeddings(s, dir)
    val n = emb.count()
    val k = semanticK(n)
    val idx = graft.ops.Ann.buildIvfAuto(emb, "embedding", k = k,
      maxFitRows = semanticFitRows(k))
    // persist the fitted centroids once per corpus: the one
    // non-SQL-derivable artifact — DuckDB re-runs assignment, the
    // within-cluster pair scan, and the drop rule from this table
    // (the ann_tune_nprobe trick applied to SemDeDup, r14)
    Batch13.persistCentersOnce(s,
      Batch13.artifactPath("sem_centers", dir), idx.centers)
    graft.ops.Ann.semanticDedup(idx, "embedding", "vec_id", tau = 0.9)
      .select(col("vec_id"), col("cluster"))
      .transform(Reuse.cacheFresh("batch10.semanticDedup", _))
  })(_.count())

  /** SemDeDup through the FORCED two-level fit: `hierThreshold = 8`
    * sits below the fixture's k (semanticK floors at 16), so
    * [[graft.ops.Ann.buildIvfAuto]] takes the hierarchical branch —
    * the oracle gate then executes the same coarse-fit +
    * per-cell-Lloyd + two-pass-assignment machinery a SemDeDup-scale
    * (k ≈ 2^20) deployment runs, not just the flat fit the
    * fixture k would otherwise pick. Drop-rule invariants for the
    * hier-fit path are asserted in AnnSpec (copies collapse, no kept
    * same-cluster pair >= tau, deterministic). */
  private val semanticDedupHier =
    Artifact("semantic_dedup_hier", SampleBounded)((s, dir) => {
    val emb = plantedEmbeddings(s, dir)
    val n = emb.count()
    val k = semanticK(n)
    // the exact branch buildIvfAuto(hierThreshold = 8) takes for k >
    // 8, called directly so the coarse table is in hand — the oracle
    // re-runs the TWO-PASS assignment (coarse cell, then sub-center
    // within the cell) and needs both fitted tables
    val h = graft.ops.Ann.buildIvfHierarchical(emb, "embedding", k = k,
      maxFitRows = semanticFitRows(k))
    Batch13.persistCentersOnce(s,
      Batch13.artifactPath("sem_hier_flat", dir), h.index.centers)
    Batch13.persistCentersOnce(s,
      Batch13.artifactPath("sem_hier_coarse", dir), h.coarse)
    graft.ops.Ann.semanticDedup(h.index, "embedding", "vec_id", tau = 0.9)
      .select(col("vec_id"), col("cluster"))
      .transform(Reuse.cacheFresh("batch10.semanticDedupHier", _))
  })(_.count())

  /** Clamped cosine both engines share: Spark's cosine kernels clamp
    * to [-1,1] (float rounding pushes parallel-vector similarity to
    * 1+2e-16); DuckDB's list_cosine_similarity does not, so the SQL
    * mirrors the clamp wherever a similarity is COMPARED (assignment
    * argmax, the ccos dominance order) — without it a 1-vs-1+ulp pair
    * could order differently across engines. */
  private def clampSql(e: String): String = Batch3.clampCosSql(e)

  /** Shared SemDeDup oracle scaffolding (r14): DuckDB re-runs
    * everything downstream of the k-means fit from the persisted
    * centroid table(s) — the planted corpus construction, cluster
    * assignment (`asgCtes` supplies the flat or two-pass variant,
    * emitting asg(vec_id, ev, cluster, ccos)), the within-cluster
    * dominance drop rule, and the keep set. Mirrors
    * [[graft.ops.Ann.semanticDedup]]'s exact join condition: drop x
    * iff a same-cluster y with cos(x,y) >= tau precedes it in the
    * total (ccos, id) order. */
  private def semanticOracleSql(centerCtes: String, asgCtes: String): String =
    s"""WITH $centerCtes,
       |base AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings),
       |planted AS (
       |  SELECT vec_id, ev FROM base
       |  UNION ALL
       |  SELECT vec_id + 1000000 AS vec_id, ev FROM base
       |  WHERE vec_id % 50 = 1
       |  UNION ALL
       |  SELECT vec_id + 2000000 AS vec_id,
       |    list_concat([ev[2], ev[1]], ev[3:]) AS ev
       |  FROM base WHERE vec_id % 50 = 2),
       |$asgCtes,
       |dropped AS (
       |  SELECT DISTINCT x.vec_id
       |  FROM asg x JOIN asg y ON x.cluster = y.cluster
       |    AND x.vec_id <> y.vec_id
       |    AND (y.ccos < x.ccos OR (y.ccos = x.ccos AND y.vec_id < x.vec_id))
       |    AND list_cosine_similarity(x.ev, y.ev) >= CAST(0.9 AS DOUBLE))
       |SELECT a.vec_id, CAST(a.cluster AS INTEGER) AS cluster
       |FROM asg a WHERE a.vec_id NOT IN (SELECT vec_id FROM dropped)
       |ORDER BY vec_id""".stripMargin

  /** Flat assignment: argmax clamped-cosine over the persisted
    * centers, lowest cluster id on ties (argmax_cosine's strict-> in
    * index order); ccos is the winning similarity (identical to
    * centroid_cosine at the assigned center). */
  private def semanticFlatAsgSql: String = {
    val sim = clampSql("list_cosine_similarity(p.ev, c.cv)")
    s"""asg AS (
       |  SELECT vec_id, ev, cluster, sim AS ccos FROM (
       |    SELECT p.vec_id, p.ev, c.cluster, $sim AS sim,
       |      row_number() OVER (PARTITION BY p.vec_id
       |        ORDER BY $sim DESC, c.cluster) AS rn
       |    FROM planted p CROSS JOIN centers c) WHERE rn = 1)""".stripMargin
  }

  /** Two-pass assignment (the argmax_cosine + argmax_cosine_cell
    * pair): coarse cell first, then the argmax among the cell's own
    * sub-centers — flat cluster ids encode cell·k2 + j, so the cell's
    * sub-centers are the flat rows with cluster // k2 = cell. */
  private def semanticHierAsgSql: String = {
    val simC = clampSql("list_cosine_similarity(p.ev, c.cv)")
    val simF = clampSql("list_cosine_similarity(ca.ev, f.cv)")
    s"""k2v AS (
       |  SELECT (SELECT count(*) FROM flat) // (SELECT count(*) FROM coarse)
       |    AS k2),
       |cellasg AS (
       |  SELECT vec_id, ev, cell FROM (
       |    SELECT p.vec_id, p.ev, c.cluster AS cell,
       |      row_number() OVER (PARTITION BY p.vec_id
       |        ORDER BY $simC DESC, c.cluster) AS rn
       |    FROM planted p CROSS JOIN coarse c) WHERE rn = 1),
       |asg AS (
       |  SELECT vec_id, ev, cluster, sim AS ccos FROM (
       |    SELECT ca.vec_id, ca.ev, f.cluster, $simF AS sim,
       |      row_number() OVER (PARTITION BY ca.vec_id
       |        ORDER BY $simF DESC, f.cluster) AS rn
       |    FROM cellasg ca JOIN flat f
       |      ON f.cluster // (SELECT k2 FROM k2v) = ca.cell)
       |  WHERE rn = 1)""".stripMargin
  }

  /** CASE expression both engines share: per-language keep-threshold
    * out of 16384 hash buckets (power of two, so the signed
    * `pmod`/unsigned `%` views of the FNV hash agree on the low 14
    * bits — a 10000-bucket variant would NOT round-trip, since
    * 2^64 % 10000 != 0 shifts every negative signed hash). */
  private[graft] val mixRateSql =
    """CASE lang WHEN 'en' THEN 13107 WHEN 'zh' THEN 8192
      |WHEN 'de' THEN 4096 ELSE 6554 END""".stripMargin.replace("\n", " ")

  /** pack_sequences' DuckDB re-derivation, shared VERBATIM with the
    * streaming twin's gate entry: on a single-batch ordered feed the
    * GroupState operator must reproduce the batch windows exactly, so
    * one oracle serves both. */
  private val packSequencesOracle: String =
    """WITH RECURSIVE k AS (
      |  SELECT DISTINCT 'shard:' || doc_id AS s FROM documents),
      |fnv(s, i, h) AS (
      |  SELECT s, 1, CAST(14695981039346656037 AS HUGEINT) FROM k
      |  UNION ALL
      |  SELECT s, i+1,
      |    ((h - (h % 256) + CAST(xor(CAST(h % 256 AS BIGINT),
      |        CAST(unicode(substr(s, i, 1)) AS BIGINT)) AS HUGEINT))
      |      * 1099511628211) % 18446744073709551616
      |  FROM fnv WHERE i <= length(s)),
      |final AS (SELECT s, h FROM fnv WHERE i = length(s) + 1),
      |t AS (
      |  SELECT d.doc_id, d.lang, CAST(f.h % 8 AS BIGINT) AS shard,
      |    CAST(len(string_split(d.text, ' ')) AS BIGINT) AS toks
      |  FROM documents d JOIN final f ON f.s = 'shard:' || d.doc_id),
      |c AS (
      |  SELECT doc_id, lang, shard, toks,
      |    CAST(sum(toks) OVER (PARTITION BY lang, shard ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS cum
      |  FROM t)
      |SELECT doc_id, lang, shard, toks, cum,
      |  (cum - toks) // 512 AS pack_id
      |FROM c ORDER BY doc_id""".stripMargin

  /** corpus_budget_exact's DuckDB re-derivation — the naive single
    * global window, which the two-phase operator provably equals
    * (PlanSpec) — shared verbatim with the streaming twin's gate
    * entry (single-batch feed ≡ batch rows, StreamingSpec). */
  private val corpusBudgetExactOracle: String =
    """WITH t AS (
      |  SELECT doc_id, lang, n_chars,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, lang, toks,
      |    CAST(sum(toks) OVER (PARTITION BY lang
      |      ORDER BY n_chars DESC, doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS cum
      |  FROM t)
      |SELECT lang, doc_id, toks, cum FROM c
      |WHERE cum - toks < 2000 ORDER BY lang, cum""".stripMargin

  /** approx_distinct_kmv's DuckDB re-derivation — shared verbatim with
    * the streaming twin's gate entry (single-batch feed ≡ batch
    * sketch): splitmix64 over the key in HUGEINT mod-2^64 arithmetic,
    * sign-flip to BIGINT, bottom-64 per group, the (k-1)/u_k
    * estimator. */
  private val kmvOracle: String = {
    val m2 = Batch3.mixM2Sql
    val m3 = Batch3.mixM3Sql
    val fin = Batch3.mixFinSql
    s"""WITH kk AS (SELECT DISTINCT event_type, user_id FROM events
           |  WHERE user_id IS NOT NULL),
           |m1 AS (
           |  SELECT event_type, (${Batch3.toUnsignedSql("user_id")}
           |    + 11400714819323198485) % 18446744073709551616 AS z
           |  FROM kk),
           |m2 AS (SELECT event_type, $m2 AS z FROM m1),
           |m3 AS (SELECT event_type, $m3 AS z FROM m2),
           |fh AS (
           |  SELECT DISTINCT event_type,
           |    CAST(($fin) - 9223372036854775808 AS BIGINT) AS fh
           |  FROM m3),
           |ranked AS (
           |  SELECT event_type, fh,
           |    row_number() OVER (PARTITION BY event_type ORDER BY fh) AS rn,
           |    count(*) OVER (PARTITION BY event_type) AS nd
           |  FROM fh),
           |agg AS (
           |  SELECT event_type, CAST(least(max(nd), 64) AS INTEGER) AS n_min,
           |    max(CASE WHEN rn = least(nd, 64) THEN fh END) AS kth_flipped
           |  FROM ranked GROUP BY event_type)
           |SELECT event_type, n_min, kth_flipped,
           |  CASE WHEN n_min < 64 THEN CAST(n_min AS DOUBLE)
           |  ELSE CAST(63 AS DOUBLE) /
           |    ((CAST(kth_flipped AS DOUBLE)
           |      + CAST(9223372036854775808 AS DOUBLE))
           |     / CAST(18446744073709551616 AS DOUBLE)) END AS est_users
           |FROM agg ORDER BY event_type""".stripMargin
  }

  val entries: Seq[(String, Q)] = Seq(

    // ---- deterministic data mixing: per-language hash sampling.
    // The training-mixture primitive: down/up-weight sources by
    // keeping doc_id-hash buckets below a per-language threshold.
    // Stateless per row — no shuffle, no rand(), no driver state; at
    // 100 TB this is a pure scan+filter that pushes into the reader,
    // and reruns/retries keep the SAME documents (rand()-sampling
    // does not survive task retries, and Bernoulli sampling by row
    // position is not stable under file re-splits). The salt prefix
    // decorrelates this sample from any other hash use of doc_id.
    "sample_weighted" -> Q(
      (s, dir) => {
        // the shared batch/streaming operator — StreamingSpec runs the
        // SAME call on a documents stream and proves row-set equality
        graft.streaming.Streaming
          .sampleWeighted(table(s, dir, "documents"), "doc_id", mixRateSql)
          .select(col("doc_id"), col("lang"), col("bucket"))
          .orderBy("doc_id")
      },
      // FNV-1a 64 re-derived in DuckDB over the salted key (same
      // recursive-CTE kernel as p2_fnv_partition; HUGEINT arithmetic
      // mod 2^64, xor on the low byte only).
      Some(s"""WITH RECURSIVE k AS (
              |  SELECT DISTINCT 'mix:' || doc_id AS s FROM documents),
              |fnv(s, i, h) AS (
              |  SELECT s, 1, CAST(14695981039346656037 AS HUGEINT) FROM k
              |  UNION ALL
              |  SELECT s, i+1,
              |    ((h - (h % 256) + CAST(xor(CAST(h % 256 AS BIGINT),
              |        CAST(unicode(substr(s, i, 1)) AS BIGINT)) AS HUGEINT))
              |      * 1099511628211) % 18446744073709551616
              |  FROM fnv WHERE i <= length(s)),
              |final AS (SELECT s, h FROM fnv WHERE i = length(s) + 1)
              |SELECT d.doc_id, d.lang, CAST(f.h % 16384 AS BIGINT) AS bucket
              |FROM documents d JOIN final f ON f.s = 'mix:' || d.doc_id
              |WHERE CAST(f.h % 16384 AS BIGINT) < $mixRateSql
              |ORDER BY doc_id""".stripMargin),
      "deterministic per-language hash sampling (training-data mixing; retry-stable, shuffle-free)"),

    // ---- temperature mixing: sample_weighted with the rates DERIVED
    // from corpus statistics instead of pinned constants — the
    // multilingual data-mixing op (sample sources ∝ p^(1/T); T=2
    // upsamples low-resource languages relative to their share). The
    // sampling itself is the same shuffle-free salted-FNV bucket
    // filter; what's new is the rate table: per-lang doc shares →
    // p^(1/T) weights → normalized to an expected 50%-of-corpus budget
    // → per-lang keep thresholds out of 16384 buckets. The control
    // read is one row per LANGUAGE (bounded by construction); all rate
    // math happens once on the driver and enters the plan as integer
    // CASE literals, so the distributed filter carries no float math.
    //
    // Engine parity (the idf² discipline): the p^(1/T) weights are
    // quantized to DECIMAL(18,8) BEFORE the normalizing sum (pow can
    // differ in the last ulp; an unordered double sum would not), the
    // sum is exact decimal, the normalization division runs on the
    // identical doubles in both engines, and the final rate re-
    // quantizes before the ×16384 (exact — power of two) and floor.
    "mix_temperature" -> Q(
      (s, dir) => {
        val docs = table(s, dir, "documents")
        def d8(x: Double): java.math.BigDecimal = new java.math.BigDecimal(x)
          .setScale(8, java.math.RoundingMode.HALF_UP)
        // NULL langs drop on BOTH sides by construction: the oracle's
        // equi-join on r.lang never matches NULL, and the CASE's
        // ELSE 0 keeps no bucket — but they must also not NPE the
        // driver-side rate table, hence the isNotNull cut here
        val counts = docs.filter(col("lang").isNotNull).groupBy("lang").count()
          .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq.sortBy(_._1)
        val nn = counts.map(_._2).sum.toDouble
        val w = counts.map { case (l, nl) => (l, nl, d8(math.pow(nl / nn, 0.5))) }
        val swD = w.map(_._3).reduce(_.add(_)).doubleValue // exact decimal sum
        val thr = w.map { case (l, nl, wl) =>
          val r = math.min(1.0, 0.5 * nn * (wl.doubleValue / swD) / nl)
          l -> math.floor(d8(r).doubleValue * 16384).toLong
        }
        // SQL-escape the corpus-derived literals (a lang value carrying
        // a quote must not break the CASE the rate table rides in on)
        val caseSql = thr.map { case (l, t) =>
          s"WHEN '${l.replace("'", "''")}' THEN $t" }
          .mkString("CASE lang ", " ", " ELSE 0 END")
        graft.streaming.Streaming
          .sampleWeighted(docs, "doc_id", caseSql, salt = "temp:")
          .select(col("doc_id"), col("lang"), col("bucket"))
          .orderBy("doc_id")
      },
      Some("""WITH RECURSIVE n AS (
             |  SELECT lang, count(*) AS nl FROM documents GROUP BY lang),
             |tot AS (SELECT CAST(sum(nl) AS DOUBLE) AS nn FROM n),
             |w AS (
             |  SELECT lang, nl,
             |    CAST(pow(CAST(nl AS DOUBLE) / (SELECT nn FROM tot), 0.5)
             |      AS DECIMAL(18,8)) AS wl
             |  FROM n),
             |z AS (SELECT CAST(sum(wl) AS DOUBLE) AS sw FROM w),
             |r AS (
             |  SELECT lang,
             |    CAST(floor(CAST(least(1.0,
             |        0.5 * (SELECT nn FROM tot)
             |          * (CAST(wl AS DOUBLE) / (SELECT sw FROM z))
             |          / CAST(nl AS DOUBLE))
             |      AS DECIMAL(18,8)) * 16384) AS BIGINT) AS thr
             |  FROM w),
             |k AS (SELECT DISTINCT 'temp:' || doc_id AS s FROM documents),
             |fnv(s, i, h) AS (
             |  SELECT s, 1, CAST(14695981039346656037 AS HUGEINT) FROM k
             |  UNION ALL
             |  SELECT s, i+1,
             |    ((h - (h % 256) + CAST(xor(CAST(h % 256 AS BIGINT),
             |        CAST(unicode(substr(s, i, 1)) AS BIGINT)) AS HUGEINT))
             |      * 1099511628211) % 18446744073709551616
             |  FROM fnv WHERE i <= length(s)),
             |final AS (SELECT s, h FROM fnv WHERE i = length(s) + 1)
             |SELECT d.doc_id, d.lang, CAST(f.h % 16384 AS BIGINT) AS bucket
             |FROM documents d
             |JOIN final f ON f.s = 'temp:' || d.doc_id
             |JOIN r ON r.lang = d.lang
             |WHERE CAST(f.h % 16384 AS BIGINT) < r.thr
             |ORDER BY doc_id""".stripMargin),
      "temperature mixing (p^(1/T), T=2): corpus-derived per-language rates, decimal-exact normalization, same shuffle-free salted-FNV bucket sampling as sample_weighted"),

    // ---- sequence packing: GPT-style document concatenation into
    // fixed token-budget packs. pack_id = starting-token-offset div
    // budget, from a running token sum — one window, no driver loop,
    // no UDF. The window key is NOT bare (lang): that collapses
    // parallelism to the number of languages, so at 100 TB one
    // reducer would sort and scan an entire language's corpus. The
    // key is (lang, shard = fnv64('shard:'||doc_id) % 8) — packs only
    // need contiguity WITHIN a shard (they never cross shard
    // boundaries), so sub-sharding trades nothing but global pack
    // numbering for K× parallelism, stays deterministic (hash shard,
    // no rand()), and the oracle re-derives the identical shards.
    // At 100 TB K scales with cluster width; 8 here keeps the sf0.01
    // fixture's per-shard runs non-trivial.
    "pack_sequences" -> Q(
      (s, dir) => {
        val w = Window.partitionBy(col("lang"), col("shard"))
          .orderBy(col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        table(s, dir, "documents")
          .withColumn("shard",
            pmod(fnv64(concat(lit("shard:"), col("doc_id"))), lit(8)))
          .withColumn("toks", size(split(col("text"), " ")).cast("long"))
          .withColumn("cum", sum(col("toks")).over(w))
          .withColumn("pack_id", expr("(cum - toks) div 512"))
          .select(col("doc_id"), col("lang"), col("shard"), col("toks"),
            col("cum"), col("pack_id"))
          .orderBy("doc_id")
      },
      // same recursive-CTE FNV-1a kernel as sample_weighted, salted
      // 'shard:' (mod 8 is a power of two, so the HUGEINT % and the
      // signed pmod views agree)
      Some(packSequencesOracle),
      "fixed-budget sequence packing over (lang, hash-shard) windows (parallel pack assembly)"),

    // ---- token-budget corpus selection: take the longest documents
    // until a token budget is exhausted (the "select best N tokens
    // per source" mixing step; length stands in for the quality
    // ordering — quality_score is its own catalog entry). Same
    // sub-sharded window as pack_sequences: the per-language budget
    // splits evenly across the K hash shards (250 × 8 = 2000), so
    // selection is a per-shard greedy prefix — deterministic,
    // oracle-replicable, and never a one-reducer-per-language sort.
    // The boundary document that CROSSES its shard budget is kept
    // (its start offset is inside budget), matching how packing
    // consumes it.
    "corpus_budget_take" -> Q(
      (s, dir) => {
        val w = Window.partitionBy(col("lang"), col("shard"))
          .orderBy(col("n_chars").desc, col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        table(s, dir, "documents")
          .withColumn("shard",
            pmod(fnv64(concat(lit("shard:"), col("doc_id"))), lit(8)))
          .withColumn("toks", size(split(col("text"), " ")).cast("long"))
          .withColumn("cum", sum(col("toks")).over(w))
          .filter(col("cum") - col("toks") < 250L)
          .select(col("lang"), col("shard"), col("doc_id"), col("toks"),
            col("cum"))
          .orderBy("lang", "shard", "cum")
      },
      Some("""WITH RECURSIVE k AS (
             |  SELECT DISTINCT 'shard:' || doc_id AS s FROM documents),
             |fnv(s, i, h) AS (
             |  SELECT s, 1, CAST(14695981039346656037 AS HUGEINT) FROM k
             |  UNION ALL
             |  SELECT s, i+1,
             |    ((h - (h % 256) + CAST(xor(CAST(h % 256 AS BIGINT),
             |        CAST(unicode(substr(s, i, 1)) AS BIGINT)) AS HUGEINT))
             |      * 1099511628211) % 18446744073709551616
             |  FROM fnv WHERE i <= length(s)),
             |final AS (SELECT s, h FROM fnv WHERE i = length(s) + 1),
             |t AS (
             |  SELECT d.doc_id, d.lang, CAST(f.h % 8 AS BIGINT) AS shard,
             |    d.n_chars,
             |    CAST(len(string_split(d.text, ' ')) AS BIGINT) AS toks
             |  FROM documents d JOIN final f ON f.s = 'shard:' || d.doc_id),
             |c AS (
             |  SELECT doc_id, lang, shard, toks,
             |    CAST(sum(toks) OVER (PARTITION BY lang, shard
             |      ORDER BY n_chars DESC, doc_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             |      AS cum
             |  FROM t)
             |SELECT lang, shard, doc_id, toks, cum FROM c
             |WHERE cum - toks < 250 ORDER BY lang, shard, cum""".stripMargin),
      "greedy token-budget selection per (lang, hash-shard) (parallel quality-ordered trimming)"),

    // ---- EXACT global token-budget selection, two-phase: the
    // original single-window semantics (global greedy prefix in
    // (n_chars DESC, doc_id) order until the per-language budget B is
    // spent) WITHOUT the one-reducer-per-language window. Phase 1
    // prunes per (lang, shard): a row whose WITHIN-SHARD running
    // start is already >= B can never be globally selected (its
    // shard predecessors alone exhaust the budget, and they all
    // precede it globally too). Phase 2 runs the global window over
    // the survivors only — provably <= K·(B + max_toks) tokens per
    // language, a constant w.r.t. corpus size — and its running sum
    // is EXACT for every truly-selected row: if any pruned row
    // preceded a survivor globally, that survivor's in-phase-1
    // predecessors already carry >= B tokens, so the phase-2 filter
    // rejects it; no false positives, no misses. The oracle is the
    // plain unsharded global window — semantics are identical, so
    // DuckDB needs no shard replay.
    "corpus_budget_exact" -> Q(
      (s, dir) => {
        val budget = 2000L
        val wShard = Window.partitionBy(col("lang"), col("shard"))
          .orderBy(col("n_chars").desc, col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wGlobal = Window.partitionBy(col("lang"))
          .orderBy(col("n_chars").desc, col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        table(s, dir, "documents")
          .withColumn("shard",
            pmod(fnv64(concat(lit("shard:"), col("doc_id"))), lit(8)))
          .withColumn("toks", size(split(col("text"), " ")).cast("long"))
          .withColumn("scum", sum(col("toks")).over(wShard))
          .filter(col("scum") - col("toks") < budget)
          .withColumn("cum", sum(col("toks")).over(wGlobal))
          .filter(col("cum") - col("toks") < budget)
          .select(col("lang"), col("doc_id"), col("toks"), col("cum"))
          .orderBy("lang", "cum")
      },
      Some(corpusBudgetExactOracle),
      "exact global token-budget selection via bounded two-phase windows (shard prune + tiny global pass)"),

    // ---- Z-order (Morton) clustering key over (user bucket, hour of
    // day) — the data-LAYOUT operator for 100 TB: writing files sorted
    // by zkey makes parquet min/max footers selective on BOTH
    // dimensions at once, so either predicate prunes files (a plain
    // sort by user prunes only user predicates). The interleave is
    // pure bit arithmetic — two shift/mask spreads — staying entirely
    // inside whole-stage codegen; both engines evaluate the identical
    // formula, so the key (and therefore the layout) is
    // engine-portable. 8 bits per dimension = 256 buckets each,
    // matching typical file-count granularity.
    "zorder_key" -> Q(
      (s, dir) => {
        def spread(v: String): String = {
          val a = s"(($v | shiftleft($v, 4)) & 3855)"
          val b = s"(($a | shiftleft($a, 2)) & 13107)"
          s"(($b | shiftleft($b, 1)) & 21845)"
        }
        events(s, dir)
          .withColumn("xb", col("user_id") % 256)
          .withColumn("yb", hour(col("ts")).cast("long"))
          .withColumn("zkey",
            expr(s"${spread("xb")} | shiftleft(${spread("yb")}, 1)"))
          .select(col("event_id"), col("xb"), col("yb"), col("zkey"))
          .orderBy("event_id")
      },
      Some("""WITH b AS (
             |  SELECT event_id, user_id % 256 AS xb,
             |    CAST(hour(CAST(ts AS TIMESTAMP)) AS BIGINT) AS yb
             |  FROM events),
             |s AS (
             |  SELECT event_id, xb, yb,
             |    ((xb | (xb << 4)) & 3855) AS x1, ((yb | (yb << 4)) & 3855) AS y1
             |  FROM b),
             |s2 AS (
             |  SELECT event_id, xb, yb,
             |    ((x1 | (x1 << 2)) & 13107) AS x2, ((y1 | (y1 << 2)) & 13107) AS y2
             |  FROM s),
             |s3 AS (
             |  SELECT event_id, xb, yb,
             |    ((x2 | (x2 << 1)) & 21845) AS x3, ((y2 | (y2 << 1)) & 21845) AS y3
             |  FROM s2)
             |SELECT event_id, xb, yb, (x3 | (y3 << 1)) AS zkey
             |FROM s3 ORDER BY event_id""".stripMargin),
      "Z-order/Morton clustering key (two-dimension file-skipping layout)"),

    // ---- HLL distinct sketch: approx_count_distinct is Spark's
    // HyperLogLog++ — a MERGEABLE fixed-size sketch, so the aggregate
    // is map-side combinable and the shuffle carries one ~KB sketch
    // per (partition, group) instead of the distinct key set; exact
    // distinct on a 100-TB key column shuffles the keys themselves.
    // Approximate results are engine-specific (DuckDB's HLL rounds
    // differently), so this entry takes the rows-only gate; the
    // accuracy bound vs exact distinct is asserted in ScaleSpec.
    "approx_distinct" -> Q(
      (s, dir) => {
        events(s, dir)
          .groupBy(col("event_type"))
          .agg(approx_count_distinct(col("user_id")).as("approx_users"))
          .orderBy("event_type")
      },
      None,
      "HLL++ approximate distinct users per event type (rows-only: register layout and bias correction are engine-specific, so no external engine reproduces the estimate bit-for-bit; the same capability — a mergeable bounded-memory distinct sketch — is hash-gated by the deterministic KMV sibling approx_distinct_kmv)"),

    // ---- KMV (bottom-k) distinct sketch, HASH-MATCHED (r14): the
    // deterministic alternative to the HLL entry above — k minimum
    // hash values (Bar-Yossef et al. 2002) under the full-avalanche
    // splitmix64 mix both engines share (the mm_decode_oracle HUGEINT
    // kernel; FNV over short sequential keys clusters in the high
    // bits and biased the estimate 2x), so the sketch contents AND
    // the estimate (one IEEE normalization + one division) re-derive
    // exactly in DuckDB where HLL++ internals cannot. Plan shape at
    // 100 TB: the (group, hash) distinct pre-aggregates map-side,
    // then the BoundedTopK sketch aggregate carries O(k) state per
    // group through the shuffle — mergeable like HLL, but
    // reproducible. Sign-bit flip makes SIGNED order of
    // (h ^ Long.MinValue) equal UNSIGNED order of h, so the bounded
    // aggregate's (ord DESC, id ASC) total order walks true
    // unsigned-ascending hashes; the double ord is only a sort key
    // (ties fall to the exact long id). Estimate: exact count when
    // the group has < k distinct hashes, else (k-1)/u_k with u_k the
    // k-th minimum normalized to [0,1).
    "approx_distinct_kmv" -> Q(
      (s, dir) => {
        val k = 64
        val h = graft.functions.mix64(col("user_id"))
        val flipped = h.bitwiseXOR(lit(Long.MinValue))
        events(s, dir)
          .select(col("event_type"), flipped.as("fh"))
          // explicit null cut so all three implementations (this
          // entry, kmv_stream, the DuckDB oracle) agree on corpora
          // with null keys — BoundedTopK would drop null ids silently,
          // but the oracle's window would otherwise count them
          .filter(col("fh").isNotNull).distinct()
          .groupBy("event_type")
          .agg(graft.functions.BoundedTopK.top_k_by(
            negate(col("fh").cast("double")), col("fh"), k).as("mins"))
          .select(
            col("event_type"),
            size(col("mins")).as("n_min"),
            element_at(col("mins.id"), size(col("mins"))).as("kth_flipped"),
            when(size(col("mins")) < k, size(col("mins")).cast("double"))
              .otherwise(lit((k - 1).toDouble) /
                ((element_at(col("mins.id"), size(col("mins"))).cast("double")
                  + lit(math.pow(2, 63))) / lit(math.pow(2, 64))))
              .as("est_users"))
          .orderBy("event_type")
      },
      Some(kmvOracle),
      "KMV bottom-k distinct sketch under the hash gate: splitmix64 minima and the (k-1)/u_k estimate re-derived exactly in DuckDB (the reproducible sibling of the HLL entry)"),

    // ---- the KMV sketch's STREAMING twin (r14): incremental bottom-k
    // via flatMapGroupsWithState — O(k) state per group forever, the
    // streaming-cardinality shape (dropDuplicates-based distinct
    // counting carries every key seen; this carries 64 longs). The
    // events feed is materialized through Catalog.events and
    // replayed as ONE micro-batch, where the carried-state fold equals
    // the batch sketch exactly — so the twin shares the batch entry's
    // DuckDB oracle under the full hash compare.
    "kmv_stream" -> Q(
      (s, dir) => Catalog.replayFeedToParquet(s,
          events(s, dir).select(col("event_type"), col("user_id")),
          xform = st => graft.streaming.Streaming.kmvStream(st))
        .orderBy("event_type"),
      Some(kmvOracle),
      "streaming KMV distinct sketch via flatMapGroupsWithState (bounded O(k) state per group; single-batch replay == batch sketch, hash-compared on the gate)"),

    // ---- the MULTI-BATCH twin (r14 verdict task 4): the same feed
    // replayed as 3 micro-batches (maxFilesPerTrigger=1), putting the
    // CROSS-BATCH state merge under the hash gate — the bottom-k
    // union is deterministic and order-insensitive, so the FINAL
    // sketch per group must still equal the batch oracle exactly.
    // Per-batch emissions carry no batch marker; the final row is
    // selected by the sketch's own monotonicity: under union-merge
    // n_min never decreases, and once n_min == k the k-th minimum
    // only falls, so (n_min DESC, kth_flipped ASC) ranks the last
    // emission first (ties are byte-identical rows — any survivor is
    // THE final state). A dropped or unmerged state row anywhere
    // yields a smaller final sketch and breaks the compare.
    "kmv_stream_multi" -> Q(
      (s, dir) => {
        val res = Catalog.replayFeedToParquetMulti(s,
          events(s, dir).select(col("event_type"), col("user_id")),
          nFiles = 3,
          xform = st => graft.streaming.Streaming.kmvStream(st))
        // degeneracy guard: some group must have emitted in >=2
        // batches, else this entry silently collapsed to the
        // single-batch twin (every event_type appears in every split
        // at fixture scale, so this only fires on a genuine replay
        // regression). ONE action: the per-group emission counts are
        // a handful of rows (one per event_type), so a single
        // groupBy-count collect replaces the r15 count+distinct pair
        // (r15 verdict item 4).
        val perGroup = res.groupBy("event_type").count().collect()
        val emissions = perGroup.map(_.getLong(1)).sum
        val groups = perGroup.length
        require(emissions > groups,
          s"kmv_stream_multi: $emissions emissions over $groups groups " +
            "— the replay ran as a single micro-batch")
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("event_type"))
          .orderBy(col("n_min").desc, col("kth_flipped").asc)
        res.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__rn")
          .orderBy("event_type")
      },
      Some(kmvOracle),
      "cross-batch KMV state merge under the hash gate: a 3-micro-batch replay's final sketch per group must equal the batch oracle (bottom-k union is order-insensitive and monotone)"),

    // ---- SemDeDup (Abbas et al. 2023): semantic dedup restricted to
    // k-means clusters — the embedding-space dedup that scales past
    // LSH recall tuning: comparisons are a cluster-keyed self-join
    // (sum c_i^2, bounded by growing k with n), never all-pairs.
    // The k-means FIT is not DuckDB-replicable, but its result is
    // persisted and everything downstream re-runs under the hash gate
    // (r14, see semanticOracleSql); the drop-rule invariants (exact
    // copies always collapse, kept set has no same-cluster pair >=
    // tau, deterministic) are additionally asserted in AnnSpec.
    "dedup_semantic" -> Q(
      (s, dir) => semanticDedup(s, dir).orderBy("vec_id"),
      Some(semanticOracleSql(
        s"""centers AS (
           |  SELECT cluster, CAST(center AS DOUBLE[]) AS cv
           |  FROM read_parquet('${Batch13.SemCentersPathToken}/*.parquet'))""".stripMargin,
        semanticFlatAsgSql)),
      "SemDeDup under the HASH-MATCHED gate (r14): DuckDB re-runs assignment, the within-cluster pair scan, and the dominance drop rule from the persisted k-means centroids"),

    // ---- approximate quantiles: percentile_approx is Spark's
    // Greenwald-Khanna sketch — bounded memory per group, mergeable,
    // map-side combinable. Exact percentiles at 100 TB buffer every
    // value per group; the sketch holds O((1/ε)·log(εn)) tuples for a
    // guaranteed ε-rank error (accuracy=10000 → ε=1e-4). Sketch
    // internals are engine-specific → rows-only gate; the rank-error
    // bound vs exact percentiles is asserted in ScaleSpec.
    "approx_quantiles" -> Q(
      (s, dir) => {
        events(s, dir)
          .groupBy(col("event_type"))
          .agg(percentile_approx(col("value"),
            array(lit(0.5), lit(0.95), lit(0.99)), lit(10000)).as("q"))
          .select(col("event_type"),
            col("q").getItem(0).as("p50"),
            col("q").getItem(1).as("p95"),
            col("q").getItem(2).as("p99"))
          .orderBy("event_type")
      },
      None,
      "Greenwald-Khanna approximate quantiles per event type (rows-only: the GK tuple-compression schedule is engine-specific, so no external engine reproduces the estimates bit-for-bit; the same capability — bounded-memory mergeable quantiles — is hash-gated by the deterministic sampling sibling approx_quantiles_kmv)"),

    // ---- deterministic quantile sketch, HASH-MATCHED (r14): the
    // reproducible sibling of the GK entry above, built on the same
    // bottom-k idea as approx_distinct_kmv — the k rows with the
    // smallest mix64(event_id) ARE a uniform fixed-size sample
    // without replacement (mergeable: bottom-k is a semilattice), and
    // quantiles of the sample estimate quantiles of the group with
    // ~1/sqrt(k) rank error. Selection and estimator re-derive
    // exactly in DuckDB: the sample is the bounded aggregate's
    // (double(fh) ASC, event_id ASC) cut, the estimator is pinned
    // linear interpolation v_lo*(1-frac) + v_hi*frac at
    // pos = q*(n-1) — plain IEEE in both engines. At 100 TB: one
    // map-side-combinable O(k) aggregate for the sample ids, one
    // broadcast-able semi-join back for the values, no global sort.
    "approx_quantiles_kmv" -> Q(
      (s, dir) => {
        val k = 256
        // Corpus contract (ADVICE r14): event_id is unique per
        // event_type (the fixture generator issues globally-unique
        // ids) — a duplicate id would multiply rows through the
        // join-back while the oracle's row_number cut takes exactly k
        // ranked rows. Null values are excluded up front on BOTH
        // engines: Spark's collect_list drops nulls while DuckDB's
        // list() keeps them, so an unfiltered null would break the
        // hash gate.
        val ev = events(s, dir).filter(col("value").isNotNull)
        val flipped = graft.functions.mix64(col("event_id"))
          .bitwiseXOR(lit(Long.MinValue))
        val sampleIds = ev
          .select(col("event_type"), col("event_id"), flipped.as("fh"))
          .filter(col("fh").isNotNull) // null-key contract, see the KMV entry
          .groupBy("event_type")
          .agg(graft.functions.BoundedTopK.top_k_by(
            negate(col("fh").cast("double")), col("event_id"), k).as("mins"))
          .select(col("event_type"), explode(col("mins.id")).as("event_id"))
        val vs = sampleIds
          .join(ev.select(col("event_type"), col("event_id"), col("value")),
            Seq("event_type", "event_id"))
          .groupBy("event_type")
          .agg(sort_array(collect_list(col("value"))).as("vs"))
        def qc(q: Double): org.apache.spark.sql.Column = {
          val n = size(col("vs"))
          val pos = lit(q) * (n - 1).cast("double")
          val lo = floor(pos).cast("int")
          val frac = pos - floor(pos)
          (element_at(col("vs"), lo + 1) * (lit(1.0) - frac)
            + element_at(col("vs"), least(lo + lit(2), n)) * frac)
        }
        vs.select(col("event_type"), size(col("vs")).as("n_sample"),
            qc(0.5).as("p50"), qc(0.95).as("p95"), qc(0.99).as("p99"))
          .orderBy("event_type")
      },
      Some {
        val m2 = Batch3.mixM2Sql
        val m3 = Batch3.mixM3Sql
        val fin = Batch3.mixFinSql
        def q(p: String): String =
          s"""(vs[CAST(floor($p * (n - 1)) AS INTEGER) + 1]
             |      * (1.0 - ($p * (n - 1) - floor($p * (n - 1))))
             |    + vs[least(CAST(floor($p * (n - 1)) AS INTEGER) + 2, CAST(n AS INTEGER))]
             |      * ($p * (n - 1) - floor($p * (n - 1))))""".stripMargin
        s"""WITH m1 AS (
           |  SELECT event_type, event_id, value,
           |    (${Batch3.toUnsignedSql("event_id")}
           |      + 11400714819323198485) % 18446744073709551616 AS z
           |  FROM events WHERE event_id IS NOT NULL AND value IS NOT NULL),
           |m2 AS (SELECT event_type, event_id, value, $m2 AS z FROM m1),
           |m3 AS (SELECT event_type, event_id, value, $m3 AS z FROM m2),
           |fh AS (
           |  SELECT event_type, event_id, value,
           |    CAST(($fin) - 9223372036854775808 AS BIGINT) AS fh
           |  FROM m3),
           |sampled AS (
           |  SELECT event_type, value FROM (
           |    SELECT event_type, value, row_number() OVER (
           |      PARTITION BY event_type
           |      ORDER BY CAST(fh AS DOUBLE) ASC, event_id ASC) AS rn
           |    FROM fh) WHERE rn <= 256),
           |agg AS (
           |  SELECT event_type, list_sort(list(value)) AS vs,
           |    CAST(len(list(value)) AS DOUBLE) AS n
           |  FROM sampled GROUP BY event_type)
           |SELECT event_type, CAST(n AS INTEGER) AS n_sample,
           |  ${q("0.5")} AS p50,
           |  ${q("0.95")} AS p95,
           |  ${q("0.99")} AS p99
           |FROM agg ORDER BY event_type""".stripMargin
      },
      "deterministic sampling-based quantile sketch under the hash gate: bottom-k-by-hash uniform sample + pinned linear interpolation, re-derived exactly in DuckDB (the reproducible sibling of the GK entry)"),

    // ---- pure range join (no equi key): every click within 10
    // minutes BEFORE any purchase, across all users — written as the
    // naive inequality join. Spark's native plan for a no-equi-key
    // join is BroadcastNestedLoopJoin: O(|clicks|·|purchases|)
    // comparisons and a full broadcast of one side — dead at 100 TB.
    // graft.plans.RangeJoinRewrite (active on the graded path)
    // rewrites it to the bucketized equi-join automatically — the
    // same shape interval_join hand-codes — so THIS entry is the
    // oracle-gated proof the rule is result-identical, and PlanSpec
    // asserts the nested-loop never appears.
    "range_join_pure" -> Q(
      (s, dir) => {
        val ev = events(s, dir).select(col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("us"))
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("event_id").as("purchase_id"), col("us").as("p_us"))
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("event_id").as("click_id"), col("us").as("c_us"))
        clicks.join(purchases,
            col("c_us") >= col("p_us") - 600000000L && col("c_us") < col("p_us"))
          .select(col("purchase_id"), col("click_id"))
          .orderBy("purchase_id", "click_id")
      },
      Some("""SELECT p.event_id AS purchase_id, c.event_id AS click_id
             |FROM (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts
             |      FROM events WHERE event_type = 'purchase') p
             |JOIN (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts
             |      FROM events WHERE event_type = 'click') c
             |  ON c.ts >= p.ts - INTERVAL 600 SECOND
             | AND c.ts < p.ts
             |ORDER BY purchase_id, click_id""".stripMargin),
      "pure range join: naive inequality join auto-bucketized by RangeJoinRewrite (no nested-loop)"),

    // ---- the same band join written the way a user actually writes
    // it: directly on TIMESTAMP columns with an INTERVAL bound, no
    // hand-conversion to µs. TimestampType is a µs long internally, so
    // RangeJoinRewrite buckets it via unix_micros and the INTERVAL
    // literal's µs value — before round 7 this spelling silently
    // planned a BroadcastNestedLoopJoin (the rule guarded to int/long)
    // while only the pre-converted range_join_pure got the rewrite.
    "range_join_ts" -> Q(
      (s, dir) => {
        val ev = events(s, dir).select(col("event_id"), col("event_type"), col("ts"))
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("event_id").as("purchase_id"), col("ts").as("p_ts"))
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("event_id").as("click_id"), col("ts").as("c_ts"))
        clicks.join(purchases,
            col("c_ts") >= col("p_ts") - expr("INTERVAL 600 SECONDS") &&
              col("c_ts") < col("p_ts"))
          .select(col("purchase_id"), col("click_id"))
          .orderBy("purchase_id", "click_id")
      },
      Some("""SELECT p.event_id AS purchase_id, c.event_id AS click_id
             |FROM (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts
             |      FROM events WHERE event_type = 'purchase') p
             |JOIN (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts
             |      FROM events WHERE event_type = 'click') c
             |  ON c.ts >= p.ts - INTERVAL 600 SECOND
             | AND c.ts < p.ts
             |ORDER BY purchase_id, click_id""".stripMargin),
      "band join on raw timestamp columns with an INTERVAL bound (µs-bucketized by RangeJoinRewrite)"),

    // ---- the custom physical as-of join (AsOfJoinExec): latest click
    // at or before each purchase per user, as ONE sort-merge-style
    // streaming pass — SMJ's exact shuffle (hash on user) + sort
    // (user, time[, tiebreak]), zero pair materialization. The window
    // reference plan joins every qualifying click to every purchase
    // and row_numbers the blowup away; the operator never creates it.
    // Tie rule (equal click times -> highest click_id) is explicit in
    // both the operator's sort and the oracle's ORDER BY.
    "asof_join_phys" -> Q(
      (s, dir) => {
        val ev = events(s, dir).select(col("event_id"), col("user_id"),
          col("event_type"), unix_micros(col("ts")).as("us"))
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("event_id").as("purchase_id"), col("user_id"),
            col("us").as("p_us"))
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
            col("us").as("c_us"))
        graft.plans.AsOf.asofJoin(purchases, clicks,
            leftKeys = Seq("user_id"), rightKeys = Seq("c_user"),
            leftTime = "p_us", rightTime = "c_us", rightTies = Seq("click_id"))
          .select(col("purchase_id"), col("user_id"), col("click_id"))
          .orderBy("purchase_id")
      },
      Some("""SELECT purchase_id, user_id, click_id FROM (
             |  SELECT p.event_id AS purchase_id, p.user_id,
             |    c.event_id AS click_id,
             |    row_number() OVER (PARTITION BY p.event_id
             |      ORDER BY c.ts DESC, c.event_id DESC) AS rn
             |  FROM (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
             |        FROM events WHERE event_type = 'purchase') p
             |  LEFT JOIN (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
             |        FROM events WHERE event_type = 'click') c
             |    ON c.user_id = p.user_id AND c.ts <= p.ts)
             |WHERE rn = 1 ORDER BY purchase_id""".stripMargin),
      "backward as-of join via the custom AsOfJoinExec physical operator (SMJ-shaped single pass)"),

    // ---- skew-resistant as-of: the SAME query as asof_join_phys but
    // through AsOf.asofJoinSharded — both sides shard on (user, hour
    // window), each window carries the previous windows' last click
    // across the boundary, and the within-shard as-of reassembles the
    // exact global answer. This is the hot-key lever the plain
    // operator documents (AQE skew-split covers only SMJ/SHJ): one
    // user producing 10% of all events spreads over its time windows
    // instead of one straggler partition. Same oracle as
    // asof_join_phys — the sharding must be invisible in the result.
    "asof_sharded" -> Q(
      (s, dir) => {
        val ev = events(s, dir).select(col("event_id"), col("user_id"),
          col("event_type"), unix_micros(col("ts")).as("us"))
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("event_id").as("purchase_id"), col("user_id"),
            col("us").as("p_us"))
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
            col("us").as("c_us"))
        graft.plans.AsOf.asofJoinSharded(purchases, clicks,
            leftKeys = Seq("user_id"), rightKeys = Seq("c_user"),
            leftTime = "p_us", rightTime = "c_us", rightTies = Seq("click_id"),
            windowSize = 3600000000L)
          .select(col("purchase_id"), col("user_id"), col("click_id"))
          .orderBy("purchase_id")
      },
      Some("""SELECT purchase_id, user_id, click_id FROM (
             |  SELECT p.event_id AS purchase_id, p.user_id,
             |    c.event_id AS click_id,
             |    row_number() OVER (PARTITION BY p.event_id
             |      ORDER BY c.ts DESC, c.event_id DESC) AS rn
             |  FROM (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
             |        FROM events WHERE event_type = 'purchase') p
             |  LEFT JOIN (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
             |        FROM events WHERE event_type = 'click') c
             |    ON c.user_id = p.user_id AND c.ts <= p.ts)
             |WHERE rn = 1 ORDER BY purchase_id""".stripMargin),
      "skew-sharded as-of join ((key, time-window) shards + boundary carries; result-identical)"),

    // ---- skew-resistant FORWARD as-of: asof_forward's query through
    // AsOf.asofJoinShardedForward — the sharded composition over
    // negated times, carries arriving from the FOLLOWING window. Same
    // oracle as asof_forward: sharding must be invisible in the result.
    "asof_sharded_fwd" -> Q(
      (s, dir) => {
        val ev = events(s, dir).select(col("event_id"), col("user_id"),
          col("event_type"), unix_micros(col("ts")).as("us"))
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("event_id").as("purchase_id"), col("user_id"),
            col("us").as("p_us"))
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
            col("us").as("c_us"))
        graft.plans.AsOf.asofJoinShardedForward(purchases, clicks,
            leftKeys = Seq("user_id"), rightKeys = Seq("c_user"),
            leftTime = "p_us", rightTime = "c_us", rightTies = Seq("click_id"),
            windowSize = 3600000000L)
          .select(col("purchase_id"), col("user_id"), col("click_id"))
          .orderBy("purchase_id")
      },
      Some("""SELECT purchase_id, user_id, click_id FROM (
             |  SELECT p.event_id AS purchase_id, p.user_id,
             |    c.event_id AS click_id,
             |    row_number() OVER (PARTITION BY p.event_id
             |      ORDER BY c.ts ASC, c.event_id DESC) AS rn
             |  FROM (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
             |        FROM events WHERE event_type = 'purchase') p
             |  LEFT JOIN (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
             |        FROM events WHERE event_type = 'click') c
             |    ON c.user_id = p.user_id AND c.ts >= p.ts)
             |WHERE rn = 1 ORDER BY purchase_id""".stripMargin),
      "skew-sharded forward as-of (negated-time windows, carries from the following window)"),

    // ---- skew-resistant NEAREST as-of: asof_nearest's query through
    // AsOf.asofJoinShardedNearest — carries from BOTH directions per
    // window, within-shard nearest merge. Same oracle as asof_nearest.
    "asof_sharded_near" -> Q(
      (s, dir) => {
        val ev = events(s, dir).select(col("event_id"), col("user_id"),
          col("event_type"), unix_micros(col("ts")).as("us"))
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("event_id").as("purchase_id"), col("user_id"),
            col("us").as("p_us"))
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
            col("us").as("c_us"))
        graft.plans.AsOf.asofJoinShardedNearest(purchases, clicks,
            leftKeys = Seq("user_id"), rightKeys = Seq("c_user"),
            leftTime = "p_us", rightTime = "c_us", rightTies = Seq("click_id"),
            windowSize = 3600000000L)
          .select(col("purchase_id"), col("user_id"), col("click_id"))
          .orderBy("purchase_id")
      },
      Some("""SELECT purchase_id, user_id, click_id FROM (
             |  SELECT p.event_id AS purchase_id, p.user_id,
             |    c.event_id AS click_id,
             |    row_number() OVER (PARTITION BY p.event_id ORDER BY
             |      abs(c.us - p.us),
             |      CASE WHEN c.us <= p.us THEN 0 ELSE 1 END,
             |      CASE WHEN c.us <= p.us THEN -c.event_id
             |           ELSE c.event_id END) AS rn
             |  FROM (SELECT event_id, user_id,
             |          epoch_us(CAST(ts AS TIMESTAMP)) AS us
             |        FROM events WHERE event_type = 'purchase') p
             |  LEFT JOIN (SELECT event_id, user_id,
             |          epoch_us(CAST(ts AS TIMESTAMP)) AS us
             |        FROM events WHERE event_type = 'click') c
             |    ON c.user_id = p.user_id)
             |WHERE rn = 1 ORDER BY purchase_id""".stripMargin),
      "skew-sharded nearest as-of (both-direction carries; within-shard nearest merge)"),

    // ---- as-of with tolerance: same operator, but a candidate more
    // than 10 minutes behind the purchase becomes a null instead
    // (pandas merge_asof(tolerance=...)). The operator checks only the
    // FINAL candidate — the latest qualifying click — which is exact:
    // if IT is out of tolerance, every earlier one is further away.
    // The oracle says the same thing as a band condition on the join.
    "asof_tolerance" -> Q(
      (s, dir) => {
        val ev = events(s, dir).select(col("event_id"), col("user_id"),
          col("event_type"), unix_micros(col("ts")).as("us"))
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("event_id").as("purchase_id"), col("user_id"),
            col("us").as("p_us"))
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
            col("us").as("c_us"))
        graft.plans.AsOf.asofJoin(purchases, clicks,
            leftKeys = Seq("user_id"), rightKeys = Seq("c_user"),
            leftTime = "p_us", rightTime = "c_us", rightTies = Seq("click_id"),
            tolerance = Some(600000000L))
          .select(col("purchase_id"), col("user_id"), col("click_id"))
          .orderBy("purchase_id")
      },
      Some("""SELECT purchase_id, user_id, click_id FROM (
             |  SELECT p.event_id AS purchase_id, p.user_id,
             |    c.event_id AS click_id,
             |    row_number() OVER (PARTITION BY p.event_id
             |      ORDER BY c.ts DESC, c.event_id DESC) AS rn
             |  FROM (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
             |        FROM events WHERE event_type = 'purchase') p
             |  LEFT JOIN (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
             |        FROM events WHERE event_type = 'click') c
             |    ON c.user_id = p.user_id AND c.ts <= p.ts
             |   AND c.ts >= p.ts - INTERVAL 600 SECOND)
             |WHERE rn = 1 ORDER BY purchase_id""".stripMargin),
      "as-of join with a 10-minute tolerance (stale matches become null)"),

    // ---- forward as-of: EARLIEST click at or after each purchase —
    // the documented time-negation of the backward operator (same
    // physical plan, no extra shuffle). Ties (equal click times) keep
    // the highest click_id in BOTH directions, so the oracle orders
    // ts ASC, event_id DESC.
    "asof_forward" -> Q(
      (s, dir) => {
        val ev = events(s, dir).select(col("event_id"), col("user_id"),
          col("event_type"), unix_micros(col("ts")).as("us"))
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("event_id").as("purchase_id"), col("user_id"),
            col("us").as("p_us"))
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
            col("us").as("c_us"))
        graft.plans.AsOf.asofJoinForward(purchases, clicks,
            leftKeys = Seq("user_id"), rightKeys = Seq("c_user"),
            leftTime = "p_us", rightTime = "c_us", rightTies = Seq("click_id"))
          .select(col("purchase_id"), col("user_id"), col("click_id"))
          .orderBy("purchase_id")
      },
      Some("""SELECT purchase_id, user_id, click_id FROM (
             |  SELECT p.event_id AS purchase_id, p.user_id,
             |    c.event_id AS click_id,
             |    row_number() OVER (PARTITION BY p.event_id
             |      ORDER BY c.ts ASC, c.event_id DESC) AS rn
             |  FROM (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
             |        FROM events WHERE event_type = 'purchase') p
             |  LEFT JOIN (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
             |        FROM events WHERE event_type = 'click') c
             |    ON c.user_id = p.user_id AND c.ts >= p.ts)
             |WHERE rn = 1 ORDER BY purchase_id""".stripMargin),
      "forward as-of join (earliest at-or-after match via the negated backward pass)"),

    // ---- nearest as-of: the closer of the backward/forward click per
    // purchase (pandas merge_asof direction='nearest'), computed in
    // the SAME single merge pass — the forward candidate is the right
    // cursor the backward scan already stopped on. Tie rules are fixed
    // and mirrored in the oracle's ORDER BY: backward beats forward at
    // equal distance; equal backward times keep the highest click_id,
    // equal forward times the lowest.
    "asof_nearest" -> Q(
      (s, dir) => {
        val ev = events(s, dir).select(col("event_id"), col("user_id"),
          col("event_type"), unix_micros(col("ts")).as("us"))
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("event_id").as("purchase_id"), col("user_id"),
            col("us").as("p_us"))
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
            col("us").as("c_us"))
        graft.plans.AsOf.asofJoinNearest(purchases, clicks,
            leftKeys = Seq("user_id"), rightKeys = Seq("c_user"),
            leftTime = "p_us", rightTime = "c_us", rightTies = Seq("click_id"))
          .select(col("purchase_id"), col("user_id"), col("click_id"))
          .orderBy("purchase_id")
      },
      // classification and distance both at µs precision (the engines'
      // shared truncated view), never raw ns
      Some("""SELECT purchase_id, user_id, click_id FROM (
             |  SELECT p.event_id AS purchase_id, p.user_id,
             |    c.event_id AS click_id,
             |    row_number() OVER (PARTITION BY p.event_id ORDER BY
             |      abs(c.us - p.us),
             |      CASE WHEN c.us <= p.us THEN 0 ELSE 1 END,
             |      CASE WHEN c.us <= p.us THEN -c.event_id
             |           ELSE c.event_id END) AS rn
             |  FROM (SELECT event_id, user_id,
             |          epoch_us(CAST(ts AS TIMESTAMP)) AS us
             |        FROM events WHERE event_type = 'purchase') p
             |  LEFT JOIN (SELECT event_id, user_id,
             |          epoch_us(CAST(ts AS TIMESTAMP)) AS us
             |        FROM events WHERE event_type = 'click') c
             |    ON c.user_id = p.user_id)
             |WHERE rn = 1 ORDER BY purchase_id""".stripMargin),
      "nearest as-of join (closer of backward/forward, backward wins ties; one merge pass)"),

    // ---- bloom-filter semi-join pushdown: the 100-TB pre-shuffle
    // lever made explicit. A fact⋈dim join with a selective dim still
    // shuffles EVERY fact row before dropping the misses; probing a
    // bloom of the dim keys inside the fact's scan stage drops them
    // pre-shuffle (no false negatives; false positives die in the real
    // join behind it, so the result is EXACTLY the plain join — which
    // is the oracle). Unlike AQE's InjectRuntimeFilter this artifact
    // is built once and applied across stages/jobs (a dedup keep-set
    // bloom probed by every downstream corpus scan). PlanSpec asserts
    // the probe sits below the join in the executed plan.
    "bloom_prefilter_join" -> Q(
      (s, dir) => {
        val dim = table(s, dir, "customer")
          .filter(col("c_mktsegment") === "BUILDING")
          .select(col("c_custkey"), col("c_name"))
        val bloom = graft.ops.Scale.bloomKeyFilter(dim, "c_custkey")
        val fact = table(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        graft.ops.Scale.bloomPrefilter(fact, "o_custkey", bloom)
          .join(dim, col("o_custkey") === col("c_custkey"))
          .select(col("o_orderkey"), col("c_custkey"), col("c_name"))
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, c_custkey, c_name
             |FROM orders JOIN customer ON o_custkey = c_custkey
             |WHERE c_mktsegment = 'BUILDING'
             |ORDER BY o_orderkey""".stripMargin),
      "bloom semi-join pushdown: dim-key bloom probed in the fact scan pre-shuffle (result-identical to the plain join)"),

    // ---- TPC-H Q9-shaped profit rollup: 5-table star join
    // (lineitem ⋈ supplier ⋈ part ⋈ orders ⋈ nation) with a part-name
    // predicate, profit aggregated by (nation, order year). Spark-first
    // shape: the fact table streams once; part/supplier/nation are
    // broadcast dims (the p_name filter prunes part BEFORE broadcast);
    // orders rides the only real shuffle. Decimal-exact profit per the
    // catalog's numeric policy.
    "q9_profit" -> Q(
      (s, dir) => {
        val li = table(s, dir, "lineitem")
        val sup = table(s, dir, "supplier")
        val prt = table(s, dir, "part").filter(col("p_name").contains("a"))
        val ord = table(s, dir, "orders")
        val nat = table(s, dir, "nation")
        li.join(broadcast(prt), col("l_partkey") === col("p_partkey"))
          .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
          .join(ord, col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
          .groupBy(col("n_name").as("nation"),
            year(col("o_orderdate")).as("o_year"))
          .agg((sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount")))))
            .cast("double").as("profit"))
          .select(col("nation"), col("o_year"), col("profit"))
          .orderBy("nation", "o_year")
      },
      Some(s"""SELECT n_name AS nation, year(o_orderdate) AS o_year,
              |  CAST(sum(${decSql("l_extendedprice")} *
              |    (1 - ${decSql("l_discount")})) AS DOUBLE) AS profit
              |FROM lineitem
              |JOIN part ON l_partkey = p_partkey AND p_name LIKE '%a%'
              |JOIN supplier ON l_suppkey = s_suppkey
              |JOIN orders ON l_orderkey = o_orderkey
              |JOIN nation ON s_nationkey = n_nationkey
              |GROUP BY 1, 2 ORDER BY nation, o_year""".stripMargin),
      "TPC-H Q9-shaped profit by nation and year (broadcast dims, one fact shuffle)"),

    // ---- LATERAL correlated subquery: per-nation top-2 customers by
    // balance. The SQL-surface twin of the top-k-per-group idiom —
    // Spark decorrelates the per-row LIMIT subquery instead of
    // executing it per outer row; deliberately run through spark.sql
    // so the LATERAL parser/decorrelation path itself is on the gate.
    "lateral_topk" -> Q(
      (s, dir) => {
        table(s, dir, "nation").createOrReplaceTempView("nation_v")
        table(s, dir, "customer").createOrReplaceTempView("customer_v")
        s.sql("""SELECT n.n_name, c.c_name, c.c_acctbal
                |FROM nation_v n,
                |LATERAL (SELECT c_name, c_acctbal FROM customer_v
                |         WHERE c_nationkey = n.n_nationkey
                |         ORDER BY c_acctbal DESC, c_name LIMIT 2) c
                |ORDER BY n_name, c_acctbal DESC, c_name""".stripMargin)
      },
      Some("""SELECT n.n_name, c.c_name, c.c_acctbal
             |FROM nation n,
             |LATERAL (SELECT c_name, c_acctbal FROM customer
             |         WHERE c_nationkey = n.n_nationkey
             |         ORDER BY c_acctbal DESC, c_name LIMIT 2) c
             |ORDER BY n_name, c_acctbal DESC, c_name""".stripMargin),
      "correlated LATERAL top-2 per nation (decorrelated, not per-row execution)"),

    // ---- UNPIVOT (wide -> long): the melt operator for
    // metrics-per-column tables; per-row, shuffle-free.
    "unpivot_metrics" -> Q(
      (s, dir) => {
        table(s, dir, "part")
          .unpivot(
            Array(col("p_partkey")),
            Array(col("p_size").cast("long").as("p_size"),
              floor(col("p_retailprice")).as("p_retailprice")),
            "metric", "val")
          .orderBy("p_partkey", "metric")
      },
      Some("""SELECT p_partkey, metric, val FROM (
             |  SELECT p_partkey, CAST(p_size AS BIGINT) AS p_size,
             |    CAST(floor(p_retailprice) AS BIGINT) AS p_retailprice
             |  FROM part)
             |UNPIVOT (val FOR metric IN (p_size, p_retailprice))
             |ORDER BY p_partkey, metric""".stripMargin),
      "UNPIVOT/melt wide metrics to long (per-row, no shuffle)"),

    // ---- gaps-and-islands: maximal runs of consecutive active days
    // per user (retention/streak analytics). The classic
    // row_number-delta trick: consecutive days share (epoch_day - rn),
    // so one window + one groupBy finds every maximal run — no
    // self-join, no iteration; both shuffles key on user_id.
    "gaps_islands" -> Q(
      (s, dir) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("d"))
        events(s, dir)
          .select(col("user_id"), to_date(col("ts")).as("d")).distinct()
          .withColumn("grp",
            datediff(col("d"), lit("1970-01-01").cast("date"))
              - row_number().over(w))
          .groupBy(col("user_id"), col("grp"))
          .agg(min(col("d")).as("start_day"), count(lit(1)).as("n_days"))
          .filter(col("n_days") >= 2)
          .select(col("user_id"), col("start_day"), col("n_days"))
          .orderBy("user_id", "start_day")
      },
      Some("""WITH days AS (
             |  SELECT DISTINCT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d
             |  FROM events),
             |r AS (
             |  SELECT user_id, d,
             |    row_number() OVER (PARTITION BY user_id ORDER BY d) AS rn
             |  FROM days),
             |g AS (
             |  SELECT user_id, d,
             |    date_diff('day', DATE '1970-01-01', d) - rn AS grp FROM r)
             |SELECT user_id, min(d) AS start_day,
             |  CAST(count(*) AS BIGINT) AS n_days
             |FROM g GROUP BY user_id, grp HAVING count(*) >= 2
             |ORDER BY user_id, start_day""".stripMargin),
      "gaps-and-islands: maximal consecutive-day streaks per user (row_number-delta)"),

    // ---- the STREAMING pack_sequences twin on the oracle gate: the
    // documents fixture is replayed through packSequencesStream (file
    // source, one micro-batch) into a memory sink, so the gate row
    // executes the real GroupState path — flatMapGroupsWithState
    // carrying the per-(lang, shard) running token offset — and must
    // reproduce the batch operator's windows EXACTLY on the ordered
    // single-batch feed (the StreamingSpec equality, promoted to the
    // hash-compared gate). Shares pack_sequences' DuckDB oracle
    // verbatim. Multi-batch feeds pack in arrival order on the carried
    // state — the semantics StreamingSpec's incremental cases pin.
    "pack_sequences_stream" -> Q(
      (s, dir) => Catalog.replayToParquet(s, dir, "documents.parquet",
          xform = st => graft.streaming.Streaming.packSequencesStream(st))
        .orderBy("doc_id"),
      Some(packSequencesOracle),
      "streaming pack_sequences twin via flatMapGroupsWithState (single-batch replay == batch windows; hash-compared on the gate)"),

    // ---- the STREAMING corpus_budget_exact twin on the oracle gate,
    // promoted exactly like pack_sequences_stream: the documents
    // fixture replayed through corpusBudgetExactStream in one
    // micro-batch executes the two-phase budget state (per-shard
    // running starts + global running sum in one GroupState) and must
    // select the batch operator's exact (lang, doc_id, toks, cum)
    // rows; shares corpus_budget_exact's DuckDB oracle verbatim.
    "corpus_budget_exact_stream" -> Q(
      (s, dir) => Catalog.replayToParquet(s, dir, "documents.parquet",
          xform = st => graft.streaming.Streaming.corpusBudgetExactStream(st))
        .orderBy("lang", "cum"),
      Some(corpusBudgetExactOracle),
      "streaming corpus_budget_exact twin via flatMapGroupsWithState (single-batch replay == batch selection; hash-compared on the gate)"),

    // ---- SemDeDup through the forced hierarchical fit (see
    // semanticDedupHier): same planted fixture, same tau, same output
    // shape as dedup_semantic, but the k-means fit runs through the
    // two-level coarse+per-cell-Lloyd machinery. The fit itself is
    // not DuckDB-replicable, but its RESULT is persisted (coarse +
    // flat centroid tables) and everything downstream re-runs under
    // the hash gate (r14); hier-fit drop-rule invariants additionally
    // live in AnnSpec.
    "dedup_semantic_hier" -> Q(
      (s, dir) => semanticDedupHier(s, dir).orderBy("vec_id"),
      Some(semanticOracleSql(
        s"""coarse AS (
           |  SELECT cluster, CAST(center AS DOUBLE[]) AS cv
           |  FROM read_parquet('${Batch13.SemHierCoarsePathToken}/*.parquet')),
           |flat AS (
           |  SELECT cluster, CAST(center AS DOUBLE[]) AS cv
           |  FROM read_parquet('${Batch13.SemHierFlatPathToken}/*.parquet'))""".stripMargin,
        semanticHierAsgSql)),
      "SemDeDup through the forced two-level fit, under the HASH-MATCHED gate (r14): DuckDB re-runs the two-pass assignment (coarse cell, then within-cell sub-center argmax) from the persisted coarse + flat centroid tables"),
  )
}
