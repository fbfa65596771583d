package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.cosine_sim
import graft.queries.Catalog.{Q, table}

/** Query batch 13: operational ANN tuning on the graded surface —
  * the measure-then-choose `nprobe` calibration a deployment actually
  * runs before pinning its production recall/cost point
  * ([[graft.ops.Ann.tuneNprobe]], promoted from spec-only coverage,
  * r12 verdict task 3).
  *
  * HASH-MATCHED as of r14: the fitted centroids persist per corpus
  * and DuckDB re-runs assignment, probe ranking, per-level top-k,
  * recall, and the per-target argmin (equal to the binary search by
  * recall monotonicity) — see the entry's oracle SQL. The entry also
  * keeps its original in-JVM teeth: alongside the tuner's reported
  * recall it RE-MEASURES recall at the chosen nprobe against an
  * INDEPENDENT exact top-k plan (the brute-force window ranking, not
  * the tuner's exhaustive-IVF reference), over the same deterministic
  * query panel. AnnRecallSpec pins `recall_check == recall` and
  * nprobe monotonicity in the target.
  */
object Batch13 {

  /** Deterministic bounded query panel: fixed subsample, total-order
    * cut — the same rows every run, every partitioning. */
  private def panel(s: org.apache.spark.sql.SparkSession, dir: String,
      n: Int): DataFrame =
    table(s, dir, "embeddings").filter(col("vec_id") % 7 === 0)
      .orderBy("vec_id").limit(n)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))

  /** Exact top-k per panel query via the independent brute-force plan:
    * broadcast panel × corpus scan, window rank under the SAME total
    * order (score DESC, vec_id ASC) the bounded top-k aggregate uses.
    * Self-matches included — [[graft.ops.Ann.tuneNprobe]] measures
    * with excludeSelf=false, and recall is only comparable if the
    * reference uses identical semantics. */
  private def exactTopK(emb: DataFrame, q: DataFrame, topK: Int): DataFrame = {
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("score").desc, col("vec_id"))
    emb.crossJoin(broadcast(q))
      .select(col("qid"), col("vec_id"),
        cosine_sim(col("embedding"), col("qvec")).as("score"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= topK)
      .select("qid", "vec_id")
  }

  /** Artifact path shared between the bpe_encode_oracle entry (writer)
    * and its oracle SQL (reader), KEYED BY CORPUS DIR (r13 advice): a
    * fixed path made a Verify run on another sf — or a concurrent
    * test/bench JVM on a different corpus — overwrite the merges the
    * static SQL was about to read (wrong-corpus compare), and
    * mode(overwrite) deletes part files mid-read. Per-dir keying plus
    * the skip-if-matching write below removes both hazards for the
    * cases that occur (same JVM, driver's sequential Verify→DuckDB
    * pipeline); two concurrent FIRST runs on the same dir remain a
    * theoretical race, accepted. */
  private[graft] def bpeOraclePath(dir: String): String =
    artifactPath("bpe_oracle", dir)

  /** Placeholder the oracle SQL carries in place of the artifact path;
    * [[graft.Verify]] substitutes the per-dir path when it
    * materializes oracle_sql.json (the SQL text is static at object
    * init, but the dir is only known at dump time). */
  private[graft] val BpeOraclePathToken = "__GRAFT_BPE_ORACLE_PATH__"

  /** Dir-keyed artifact path for a persisted fitted-model table an
    * oracle reads (see [[bpeOraclePath]] for the keying rationale):
    * one per (tag, corpus dir). */
  private[graft] def artifactPath(tag: String, dir: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8"))
    val hex = md.take(6).map(b => f"${b & 0xff}%02x").mkString
    s"${System.getProperty("java.io.tmpdir")}/graft_${tag}_$hex"
  }

  private[graft] def ivfCentersPath(dir: String): String =
    artifactPath("ivf_centers", dir)

  /** One token per JVM: [[freshIdxPath]] scratch dirs are keyed by it
    * so two JVMs (a bench run concurrent with a test run — same
    * java.io.tmpdir, same corpus dir) can never pre-delete parquet
    * part files under each other's live loaded index (ADVICE r20: the
    * single stable path was safe only under a strictly sequential
    * execution model). Within one JVM the path stays stable, so
    * memo-cold rebuilds still overwrite one dir per (tag, corpus)
    * instead of accumulating temp dirs. */
  private val jvmToken: String = {
    val pid = java.lang.ProcessHandle.current().pid()
    s"j$pid"
  }

  /** Stable fingerprint-keyed scratch dir for a rebuildable index
    * artifact, cleared before reuse: memo-cold rebuilds (e.g.
    * ScaleGrowthSpec's clearAll-per-timed-point) overwrite ONE path per
    * (JVM, tag, corpus dir) instead of accumulating fresh temp dirs —
    * and the pre-delete also clears applied-batch markers a previous
    * rebuild's append lifecycle left behind, so idempotence asserts
    * stay valid. Rebuilds only happen memo-cold, so no reader in THIS
    * JVM holds the old epoch; the per-JVM key (see [[jvmToken]]) keeps
    * concurrent JVMs out of each other's scratch entirely. */
  private[graft] def freshIdxPath(tag: String, dir: String): String = {
    val p = artifactPath(s"${tag}_$jvmToken", dir)
    def rm(x: java.io.File): Unit = {
      if (x.isDirectory) Option(x.listFiles()).foreach(_.foreach(rm))
      x.delete(); ()
    }
    val f = new java.io.File(p)
    if (f.exists) rm(f)
    // a silently failed delete would leave stale applied-batch markers
    // / mixed-epoch files in the stable path — fail HERE with the
    // cause, not downstream as an inexplicable idempotence assert
    require(!f.exists, s"freshIdxPath: could not clear stale artifact dir $p")
    // pid-keyed scratch dirs are invisible to every OTHER JVM's
    // pre-delete, so without an exit hook each bench/test JVM would
    // leave its index-sized parquet dirs in tmpdir forever (r21
    // advice — the cross-run temp accumulation the stable path
    // existed to avoid)
    Reuse.deleteOnExit(java.nio.file.Paths.get(p))
    p
  }

  private[graft] val IvfCentersPathToken = "__GRAFT_IVF_CENTERS_PATH__"
  private[graft] val SemCentersPathToken = "__GRAFT_SEM_CENTERS_PATH__"
  private[graft] val SemHierFlatPathToken = "__GRAFT_SEM_HIER_FLAT_PATH__"
  private[graft] val SemHierCoarsePathToken = "__GRAFT_SEM_HIER_COARSE_PATH__"
  private[graft] val TuneHierFlatPathToken = "__GRAFT_TUNE_HIER_FLAT_PATH__"
  private[graft] val TuneHierCoarsePathToken = "__GRAFT_TUNE_HIER_COARSE_PATH__"
  private[graft] val MjpegLayoutPathToken = "__GRAFT_MJPEG_LAYOUT_PATH__"
  private[graft] val LshBandsPathToken = "__GRAFT_LSH_BANDS_PATH__"

  /** Persist a fitted centroid table (cluster BIGINT, center
    * ARRAY<FLOAT>) once per corpus: skip the rewrite when the
    * persisted rows already equal `centers`, so repeat runs never
    * delete part files out from under a concurrent reader (the same
    * no-mid-read-delete contract as the BPE merges artifact). */
  private[graft] def persistCentersOnce(s: org.apache.spark.sql.SparkSession,
      path: String, centers: Array[Array[Float]]): Unit = {
    import s.implicits._
    val key = (path, java.util.Arrays.deepHashCode(
      centers.asInstanceOf[Array[AnyRef]]))
    if (persistedOk.contains(key)) return
    val rows = centers.toIndexedSeq.zipWithIndex
      .map { case (c, i) => (i.toLong, c.toIndexedSeq) }
    val upToDate = try {
      s.read.parquet(path).orderBy("cluster").collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toIndexedSeq))
        .toIndexedSeq == rows
    } catch { case _: Exception => false }
    if (!upToDate)
      rows.toDF("cluster", "center")
        .coalesce(1).write.mode("overwrite").parquet(path)
    persistedOk.add(key)
  }

  /** Dir-aware oracle-SQL rewrite hook for Verify. */
  def substituteOraclePaths(sql: String, dir: String): String =
    sql.replace(BpeOraclePathToken, bpeOraclePath(dir))
      .replace(IvfCentersPathToken, ivfCentersPath(dir))
      .replace(SemCentersPathToken, artifactPath("sem_centers", dir))
      .replace(SemHierFlatPathToken, artifactPath("sem_hier_flat", dir))
      .replace(SemHierCoarsePathToken, artifactPath("sem_hier_coarse", dir))
      .replace(TuneHierFlatPathToken, artifactPath("tune_hier_flat", dir))
      .replace(TuneHierCoarsePathToken, artifactPath("tune_hier_coarse", dir))
      .replace(MjpegLayoutPathToken, artifactPath("mjpeg_layout", dir))
      .replace(LshBandsPathToken, artifactPath("lsh_bands", dir))

  val entries: Seq[(String, Q)] = Seq(

    // ---- nprobe calibration: for each recall target, binary-search
    // the smallest nprobe meeting it on the panel (tuneNprobe), then
    // independently re-measure recall at that nprobe against the
    // brute-force exact reference. The driver-side loop is over 3
    // TARGETS (constants), not data; every measurement is a bounded
    // Spark join. Shares the memoized build-once IVF index with the
    // other ann_* entries (bench: `amortized`).
    //
    // HARD oracle gate (r14, the bpe_encode_oracle trick applied to
    // ANN): the fitted centroids — the ONE non-SQL-derivable artifact
    // (a k-means fit) — persist to a dir-keyed parquet, and DuckDB
    // re-runs EVERYTHING downstream of the fit itself: cluster
    // assignment (argmax cosine, lowest-index ties), per-query probe
    // ranking ((sim DESC, cluster ASC) — BoundedTopK's total order),
    // candidate top-k at every nprobe level, recall against the
    // exhaustive reference, and the per-target argmin. This works
    // because VecOps.cosine is verified bitwise-identical to DuckDB's
    // list_cosine_similarity over DOUBLE[] (clamp differences only
    // arise at self-similarity 1+ulp, which cannot change any
    // ranking), so the probed sets, top-k sets, hit counts, and the
    // single IEEE division hits/640.0 agree exactly. The binary
    // search equals the argmin because recall is monotone in nprobe
    // (probed sets grow superset-wise under a shared total order).
    "ann_tune_nprobe" -> Q(
      (s, dir) => {
        import s.implicits._
        val idx = Batch3.ivfIndex(s, dir)
        // persist the fitted centroids once per corpus for the oracle
        persistCentersOnce(s, ivfCentersPath(dir), idx.centers)
        val emb = table(s, dir, "embeddings")
        val topK = 10
        val q = panel(s, dir, 64)
        val nq = q.count().toDouble
        val exact = exactTopK(emb, q, topK)
        // one frontier call: the exhaustive nprobe=k reference is
        // built ONCE and recall measurements are shared across the
        // three targets' binary searches (r13 verdict: the 3x
        // per-target rebuild made this the most expensive bench
        // entry). The independent brute-force re-measurement below is
        // the entry's teeth and stays per target — but batched: the
        // three targets' approx sets union into ONE join+groupBy
        // action against the exact reference (r17; the per-target
        // join+count triple was 3 driver-blocking jobs whose task
        // work is identical to the union's — pure job-overhead cut).
        val frontier = graft.ops.Ann.tuneNprobeFrontier(idx,
          "embedding", "vec_id", q, "qid", "qvec", topK = topK,
          targets = Seq(0.5, 0.9, 0.99), maxSample = 64)
        val approxAll = frontier.map { case (target, np, _) =>
          graft.ops.Ann.knnJoinIvf(idx, "embedding",
              "vec_id", q, "qid", "qvec", topK = topK, nprobe = np)
            .select(lit(target).as("target_recall"),
              col("qid"), col("vec_id"))
        }.reduce(_ union _)
        val hitsByTarget = approxAll
          .join(exact, Seq("qid", "vec_id"))
          .groupBy("target_recall").count()
          .collect().map(r => r.getDouble(0) -> r.getLong(1)).toMap
        val rows = frontier.map { case (target, np, rec) =>
          (target, np, rec,
            hitsByTarget.getOrElse(target, 0L).toDouble / (nq * topK))
        }
        rows.toDF("target_recall", "nprobe", "recall", "recall_check")
          .orderBy("target_recall")
      },
      Some {
        // Similarities are clamped wherever they are COMPARED, matching
        // the hier twin and the SemDeDup oracles (Batch3.clampCosSql
        // rationale: a 1-vs-1+ulp pair — exact-duplicate or
        // scaled-parallel embeddings — could order differently across
        // engines without it). ADVICE r14.
        def cl(e: String) = Batch3.clampCosSql(e)
        s"""WITH centers AS (
              |  SELECT cluster, CAST(center AS DOUBLE[]) AS cv
              |  FROM read_parquet('$IvfCentersPathToken/*.parquet')),
              |panel AS (
              |  SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
              |  FROM embeddings WHERE vec_id % 7 = 0
              |  ORDER BY vec_id LIMIT 64),
              |np_panel AS (SELECT count(*) AS nq FROM panel),
              |corpus AS (
              |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev
              |  FROM embeddings),
              |assign AS (
              |  SELECT vec_id, cluster FROM (
              |    SELECT c.vec_id, ct.cluster,
              |      row_number() OVER (PARTITION BY c.vec_id
              |        ORDER BY ${cl("list_cosine_similarity(c.ev, ct.cv)")} DESC,
              |          ct.cluster) AS rn
              |    FROM corpus c CROSS JOIN centers ct) WHERE rn = 1),
              |prank AS (
              |  SELECT qid, cluster, row_number() OVER (PARTITION BY qid
              |      ORDER BY ${cl("list_cosine_similarity(qv, cv)")} DESC, cluster) AS pr
              |  FROM panel CROSS JOIN centers),
              |score AS (
              |  SELECT p.qid, c.vec_id, pr.pr,
              |    ${cl("list_cosine_similarity(c.ev, p.qv)")} AS sim
              |  FROM panel p CROSS JOIN corpus c
              |  JOIN assign a ON a.vec_id = c.vec_id
              |  JOIN prank pr ON pr.qid = p.qid AND pr.cluster = a.cluster),
              |lv AS (SELECT t.range AS n FROM range(1, 4096) t
              |  WHERE t.range <= (SELECT count(*) FROM centers)),
              |topk AS (
              |  SELECT n, qid, vec_id FROM (
              |    SELECT l.n, s.qid, s.vec_id,
              |      row_number() OVER (PARTITION BY l.n, s.qid
              |        ORDER BY s.sim DESC, s.vec_id) AS rk
              |    FROM lv l JOIN score s ON s.pr <= l.n)
              |  WHERE rk <= 10),
              |exact AS (SELECT qid, vec_id FROM topk
              |  WHERE n = (SELECT count(*) FROM centers)),
              |recalls AS (
              |  SELECT t.n, CAST(count(*) AS DOUBLE) /
              |    (CAST((SELECT nq FROM np_panel) AS DOUBLE) * CAST(10 AS DOUBLE))
              |    AS recall
              |  FROM topk t JOIN exact e
              |    ON t.qid = e.qid AND t.vec_id = e.vec_id
              |  GROUP BY t.n),
              |targets(target) AS (VALUES (CAST(0.5 AS DOUBLE)),
              |  (CAST(0.9 AS DOUBLE)), (CAST(0.99 AS DOUBLE))),
              |chosen AS (
              |  SELECT target, min(n) AS np
              |  FROM targets JOIN recalls ON recall >= target
              |  GROUP BY target)
              |SELECT c.target AS target_recall, CAST(c.np AS INTEGER) AS nprobe,
              |  r.recall AS recall, r.recall AS recall_check
              |FROM chosen c JOIN recalls r ON r.n = c.np
              |ORDER BY target_recall""".stripMargin
      },
      "nprobe calibration under the HASH-MATCHED gate: DuckDB re-runs assignment, probe ranking, per-level top-k, recall, and the per-target argmin from the persisted k-means centroids; the binary search equals the argmin by recall monotonicity"),

    // ---- the HIERARCHICAL tuner on the graded surface (r14): the
    // two-level twin of ann_tune_nprobe, with REAL coarse pruning —
    // nprobeCoarse = 3 of the fixture's k1 = 4 cells, so the tuner
    // may legitimately hit its raise-nprobeCoarse signal (return the
    // full cut with its honest sub-target recall) for high targets.
    // Same oracle construction: the two fitted tables (coarse + flat)
    // persist per corpus and DuckDB re-runs the two-pass assignment,
    // the per-query coarse-cell cut, the within-cut sub-center probe
    // ranking, per-level top-k, recall vs the exhaustive reference,
    // and the per-target choose-or-signal rule. All ranking
    // similarities carry Spark's [-1,1] clamp mirrored into the SQL.
    "ann_tune_nprobe_hier" -> Q(
      (s, dir) => {
        import s.implicits._
        val h = Batch3.hierIndex(s, dir)
        persistCentersOnce(s, artifactPath("tune_hier_flat", dir),
          h.index.centers)
        persistCentersOnce(s, artifactPath("tune_hier_coarse", dir), h.coarse)
        val emb = table(s, dir, "embeddings")
        val topK = 10
        val nprobeCoarse = 3
        val q = panel(s, dir, 64)
        val nq = q.count().toDouble
        val exact = exactTopK(emb, q, topK)
        val frontier = graft.ops.Ann.tuneNprobeHierFrontier(h,
          "embedding", "vec_id", q, "qid", "qvec",
          nprobeCoarse = nprobeCoarse, topK = topK,
          targets = Seq(0.5, 0.9, 0.99), maxSample = 64)
        // re-measurement batched into one union+groupBy action — see
        // the flat tuner above (r17)
        val approxAll = frontier.map { case (target, np, _) =>
          graft.ops.Ann.knnJoinIvfHier(h, "embedding",
              "vec_id", q, "qid", "qvec", topK = topK,
              nprobeCoarse = nprobeCoarse, nprobe = np)
            .select(lit(target).as("target_recall"),
              col("qid"), col("vec_id"))
        }.reduce(_ union _)
        val hitsByTarget = approxAll
          .join(exact, Seq("qid", "vec_id"))
          .groupBy("target_recall").count()
          .collect().map(r => r.getDouble(0) -> r.getLong(1)).toMap
        val rows = frontier.map { case (target, np, rec) =>
          (target, np, rec,
            hitsByTarget.getOrElse(target, 0L).toDouble / (nq * topK))
        }
        rows.toDF("target_recall", "nprobe", "recall", "recall_check")
          .orderBy("target_recall")
      },
      Some {
        def cl(e: String) = Batch3.clampCosSql(e)
        s"""WITH coarse AS (
           |  SELECT cluster, CAST(center AS DOUBLE[]) AS cv
           |  FROM read_parquet('$TuneHierCoarsePathToken/*.parquet')),
           |flat AS (
           |  SELECT cluster, CAST(center AS DOUBLE[]) AS cv
           |  FROM read_parquet('$TuneHierFlatPathToken/*.parquet')),
           |k2v AS (
           |  SELECT (SELECT count(*) FROM flat) // (SELECT count(*) FROM coarse)
           |    AS k2),
           |cutv AS (
           |  SELECT least((SELECT count(*) FROM flat),
           |    3 * (SELECT k2 FROM k2v)) AS cut),
           |panel AS (
           |  SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
           |  FROM embeddings WHERE vec_id % 7 = 0
           |  ORDER BY vec_id LIMIT 64),
           |np_panel AS (SELECT count(*) AS nq FROM panel),
           |corpus AS (
           |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev
           |  FROM embeddings),
           |cellasg AS (
           |  SELECT vec_id, ev, cell FROM (
           |    SELECT c.vec_id, c.ev, ct.cluster AS cell,
           |      row_number() OVER (PARTITION BY c.vec_id
           |        ORDER BY ${cl("list_cosine_similarity(c.ev, ct.cv)")} DESC,
           |          ct.cluster) AS rn
           |    FROM corpus c CROSS JOIN coarse ct) WHERE rn = 1),
           |asg AS (
           |  SELECT vec_id, cluster FROM (
           |    SELECT ca.vec_id, f.cluster,
           |      row_number() OVER (PARTITION BY ca.vec_id
           |        ORDER BY ${cl("list_cosine_similarity(ca.ev, f.cv)")} DESC,
           |          f.cluster) AS rn
           |    FROM cellasg ca JOIN flat f
           |      ON f.cluster // (SELECT k2 FROM k2v) = ca.cell)
           |  WHERE rn = 1),
           |qcell AS (
           |  SELECT qid, cell FROM (
           |    SELECT p.qid, c.cluster AS cell,
           |      row_number() OVER (PARTITION BY p.qid
           |        ORDER BY ${cl("list_cosine_similarity(p.qv, c.cv)")} DESC,
           |          c.cluster) AS rn
           |    FROM panel p CROSS JOIN coarse c) WHERE rn <= 3),
           |prank AS (
           |  SELECT qid, cluster, row_number() OVER (PARTITION BY qid
           |      ORDER BY sim DESC, cluster) AS pr
           |  FROM (
           |    SELECT qc.qid, f.cluster,
           |      ${cl("list_cosine_similarity(p.qv, f.cv)")} AS sim
           |    FROM qcell qc
           |    JOIN flat f ON f.cluster // (SELECT k2 FROM k2v) = qc.cell
           |    JOIN panel p ON p.qid = qc.qid)),
           |score AS (
           |  SELECT p.qid, c.vec_id, pr.pr,
           |    ${cl("list_cosine_similarity(c.ev, p.qv)")} AS sim
           |  FROM panel p CROSS JOIN corpus c
           |  JOIN asg a ON a.vec_id = c.vec_id
           |  JOIN prank pr ON pr.qid = p.qid AND pr.cluster = a.cluster),
           |lv AS (SELECT t.range AS n FROM range(1, 4096) t
           |  WHERE t.range <= (SELECT cut FROM cutv)),
           |topk AS (
           |  SELECT n, qid, vec_id FROM (
           |    SELECT l.n, s.qid, s.vec_id,
           |      row_number() OVER (PARTITION BY l.n, s.qid
           |        ORDER BY s.sim DESC, s.vec_id) AS rk
           |    FROM lv l JOIN score s ON s.pr <= l.n)
           |  WHERE rk <= 10),
           |exact AS (
           |  SELECT qid, vec_id FROM (
           |    SELECT p.qid, c.vec_id,
           |      row_number() OVER (PARTITION BY p.qid
           |        ORDER BY ${cl("list_cosine_similarity(c.ev, p.qv)")} DESC,
           |          c.vec_id) AS rk
           |    FROM panel p CROSS JOIN corpus c) WHERE rk <= 10),
           |recalls AS (
           |  SELECT t.n, CAST(count(*) AS DOUBLE) /
           |    (CAST((SELECT nq FROM np_panel) AS DOUBLE) * CAST(10 AS DOUBLE))
           |    AS recall
           |  FROM topk t JOIN exact e
           |    ON t.qid = e.qid AND t.vec_id = e.vec_id
           |  GROUP BY t.n),
           |targets(target) AS (VALUES (CAST(0.5 AS DOUBLE)),
           |  (CAST(0.9 AS DOUBLE)), (CAST(0.99 AS DOUBLE))),
           |chosen AS (
           |  SELECT t.target,
           |    coalesce(min(r.n), (SELECT cut FROM cutv)) AS np
           |  FROM targets t LEFT JOIN recalls r ON r.recall >= t.target
           |  GROUP BY t.target)
           |SELECT c.target AS target_recall, CAST(c.np AS INTEGER) AS nprobe,
           |  r.recall AS recall, r.recall AS recall_check
           |FROM chosen c JOIN recalls r ON r.n = c.np
           |ORDER BY target_recall""".stripMargin
      },
      "hierarchical nprobe calibration under the HASH-MATCHED gate: DuckDB re-runs the two-pass assignment, coarse-cell cut, within-cut probe ranking, per-level recall, and the choose-or-signal rule from the persisted coarse + flat centroid tables"),

    // ---- the BPE ENCODE path under the HARD oracle gate (r12 verdict
    // task 5): train (memoized with bpe_train/bpe_token_count) → save
    // the merge-table artifact → RE-LOAD it → encode the corpus with
    // the loaded model. DuckDB re-runs the greedy lowest-rank merge
    // loop itself — a recursive CTE over symbol lists seeded from the
    // persisted merge parquet (read by absolute path; written by this
    // entry earlier in the same Verify pass) — so fit determinism,
    // artifact round-trip, AND the encoder's exact merge-order
    // semantics all sit under the hash compare. The artifact path is
    // keyed by corpus dir (see [[bpeOraclePath]]) and carried in the
    // SQL as a placeholder Verify substitutes at dump time, so each
    // run reads its own artifact.
    "bpe_encode_oracle" -> Q(
      (s, dir) => {
        val m = Batch12.bpeModel(s, dir)
        val path = persistBpeOnce(s, dir, m)
        val loaded = graft.ops.Bpe.load(s, path)
        graft.ops.Bpe.tokenCounts(
            table(s, dir, "documents"), "doc_id", "text", loaded)
          .orderBy("doc_id")
      },
      Some(bpeEncodeOracleSql),
      "BPE encode end-to-end under the hash gate: train -> persist merges -> reload -> distributed encode, vs DuckDB's own recursive greedy lowest-rank merge loop over the persisted artifact"),

    // ---- LSH band/row calibration: the dedup plane's ann_tune_nprobe.
    // A 100 TB MinHash dedup run must pick (bands b, rows-per-band r)
    // with b*r = siglen BEFORE it runs: r controls candidate volume
    // (false-positive cost, the dominant expense at scale) and b*r
    // trade detection probability 1-(1-s^r)^b at the Jaccard threshold.
    // This entry evaluates the whole divisor grid, picks the LARGEST r
    // (fewest candidates) whose predicted detection at the s=0.5
    // threshold still meets the 0.9 recall target, then MEASURES the
    // chosen banding's recall on the corpus against the exact >=0.5
    // pair set (the dedup_ngram_jaccard reference, shared memoized
    // subtree).
    //
    // HASH-MATCHED end to end: the grid math is pure SQL; the one
    // non-SQL-derivable artifact — the minhash BANDING (custom hash
    // kernels) — persists per corpus, and DuckDB re-runs candidate
    // generation (plain self-join on (band, band_hash); provably the
    // same pair set as the skew-guarded join, see blockedSelfJoinPairs),
    // the exact pair reference, and the recall division. Quantization:
    // predicted and recall go through DECIMAL(18,8) in both engines
    // (same policy as the idf² parity note — pow can differ in the
    // last ulp across libm builds; the quantum absorbs it). The
    // measured_recall carries a -1.0 sentinel on non-chosen rows
    // (instead of NULL) so the row hash never depends on engine null
    // encodings.
    "tune_lsh" -> Q(
      (s, dir) => {
        import s.implicits._
        tuneLsh(s, dir)
      },
      Some(tuneLshOracleSql),
      "LSH band/row calibration under the hash gate: divisor-grid detection math, largest-r-meeting-target choice, and measured recall of the persisted banding vs the exact >=0.5-Jaccard pair set"))

  /** Memoized tune_lsh result (8-row local relation; the counts run
    * once per (session, dir)). The shared ngramPairs/pairCounts
    * subtree is read INSIDE this builder — i.e. during the fit phase,
    * outside any MemoTrack entry scope — so bench attributes tune_lsh
    * only fit_tune_lsh as its dep; the pairCounts cost itself is
    * timed by fit_pair_counts, which the declared dep puts first. */
  private val tuneLsh =
    Artifact("tune_lsh", Artifact.CorpusScale, Batch3.pairCounts)((s, dir) => {
    import s.implicits._
    val n = 128; val t = 0.5; val pTarget = 0.9
    def q8(x: Double): Double = new java.math.BigDecimal(x)
      .setScale(8, java.math.RoundingMode.HALF_UP).doubleValue
    val grid = Seq(1, 2, 4, 8, 16, 32, 64, 128).map(r => (n / r, r))
    val predicted = grid.map { case (b, r) =>
      (b, r, q8(1.0 - math.pow(1.0 - math.pow(t, r), b))) }
    // largest r whose predicted detection at the threshold meets the
    // target — r=1 predicts ~1.0, so the set is never empty
    val rC = predicted.filter(_._3 >= pTarget).map(_._2).max
    val bC = n / rC
    // cached: the sig/banding subtree feeds the persist-once checksum
    // AND (on first contact) the artifact write; released below once
    // the candidate counts are in hand — a session-lifetime persist
    // would hold the fattest frame in this file for one-shot work
    // spreadScan: see Batch3.shingleDocs (r22, guide §2.5 input skew)
    val docs = Reuse.cacheFresh("batch13.tuneLshSig",
      graft.ops.Scale.spreadScan(table(s, dir, "documents"), "doc_id")
        .select(col("doc_id"), Batch3.shingles(col("text"), 3).as("sh"))
        .withColumn("sig", graft.functions.minhash_sig(col("sh"), n)))
    // try/finally (ADVICE r20): a builder failure after the cache call
    // (empty-pair require, failed persist) must not leave the fattest
    // frame in this file persisted for the rest of the session — and a
    // memo retry would then cache a second copy on top.
    val recall = try {
      val bandCols = (0 until bC).map(i =>
        xxhash64(concat_ws("_", slice(col("sig"), i * rC + 1, rC))))
      val banded = docs.select(col("doc_id"),
        posexplode(array(bandCols: _*)).as(Seq("band", "band_hash")))
      persistBandsOnce(s, artifactPath("lsh_bands", dir), banded)
      val bandedStable = s.read.parquet(artifactPath("lsh_bands", dir))
      // candidate generation rides the same triangle skew guard as
      // dedup_minhash_lsh (bit-identical pair set; boilerplate buckets
      // fan out instead of landing b² candidates on one reducer)
      val cands = graft.ops.Scale.blockedSelfJoinPairs(
          bandedStable.withColumn("__blk", struct(col("band"), col("band_hash")))
            .drop("band", "band_hash"),
          "__blk", "doc_id", cap = 2048)
        .select(col("doc_id_a").as("doc_a"), col("doc_id_b").as("doc_b"))
        .distinct()
      val exact = Batch3.ngramPairs(s, dir).select(col("doc_a"), col("doc_b"))
      val total = exact.count()
      require(total > 0, "tune_lsh: fixture corpus has no >=0.5-Jaccard pairs")
      val hits = exact.join(cands, Seq("doc_a", "doc_b")).count()
      q8(hits.toDouble / total)
    } finally {
      // counts are in hand (or the build failed) — the result below is
      // an 8-row local relation, so the sig/banding blocks are pure
      // dead weight either way
      Reuse.unpersistSite("batch13.tuneLshSig", blocking = false)
    }
    predicted.map { case (b, r, p) =>
      (b, r, p, if (r == rC) 1 else 0, if (r == rC) recall else -1.0) }
      .toDF("bands", "rows_per_band", "predicted", "chosen", "measured_recall")
      .orderBy("rows_per_band")
  })(_.count())

  /** Persist the banding artifact once per corpus under the
    * no-mid-read-delete contract the other artifacts in this file
    * follow (see [[persistCentersOnce]]): skip the rewrite when the
    * persisted rows already checksum-match this build's (banding is a
    * pure function of the corpus — count + band_hash sum identify it),
    * so repeat memo-cold builds never delete part files out from under
    * a concurrent reader. JVM-level memo keyed by path so warm calls
    * skip even the checksum read. */
  private val bandsOk = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private def persistBandsOnce(s: org.apache.spark.sql.SparkSession,
      path: String, banded: DataFrame): Unit = {
    if (bandsOk.contains(path)) return
    def sig(df: DataFrame): (Long, Long) = {
      // bit_xor: order-free AND overflow-free (an ANSI-mode sum of
      // 64-bit hashes overflows)
      val r = df.agg(count(lit(1)),
        expr("bit_xor(xxhash64(doc_id, band, band_hash))")).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    // first contact (no artifact on disk): write directly — one
    // banding materialization instead of checksum-pass + write-pass
    // (r21; the checksum exists to protect a LIVE artifact from a
    // mid-read rewrite, and an absent artifact has no readers). The
    // artifact paths live under java.io.tmpdir by construction
    // (artifactPath), so the existence probe is a local stat. The
    // write lands in a per-JVM temp dir and is RENAMED into place
    // (r21 advice: a second JVM could observe the directory
    // mid-creation and read a partial parquet — exists must imply
    // complete); if another JVM wins the rename race, our copy is
    // dropped and the checksum branch below adjudicates theirs.
    if (!new java.io.File(path).exists) {
      val tmp = s"${path}_w$jvmToken"
      banded.write.mode("overwrite").parquet(tmp)
      try {
        java.nio.file.Files.move(java.nio.file.Paths.get(tmp),
          java.nio.file.Paths.get(path),
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      } catch {
        case _: java.nio.file.FileSystemException =>
          // lost the race (or non-atomic fs): reclaim the temp copy
          // and fall through to the live-artifact checksum protocol
          val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(tmp))
          try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
            .forEach(f => { java.nio.file.Files.deleteIfExists(f); () })
          finally walk.close()
          val want = sig(banded)
          val upToDate = try sig(s.read.parquet(path)) == want
            catch { case _: Exception => false }
          if (!upToDate) banded.write.mode("overwrite").parquet(path)
      }
    } else {
      val want = sig(banded)
      val upToDate = try sig(s.read.parquet(path)) == want
        catch { case _: Exception => false }
      if (!upToDate) banded.write.mode("overwrite").parquet(path)
    }
    bandsOk.add(path)
  }

  private def tuneLshOracleSql: String =
    s"""WITH grid(bands, rows_per_band) AS (VALUES
       |    (128,1),(64,2),(32,4),(16,8),(8,16),(4,32),(2,64),(1,128)),
       |g2 AS (
       |  SELECT bands, rows_per_band,
       |    CAST(CAST(1.0 - pow(1.0 - pow(0.5, rows_per_band), bands)
       |      AS DECIMAL(18,8)) AS DOUBLE) AS predicted
       |  FROM grid),
       |rbest AS (SELECT max(rows_per_band) AS r FROM g2 WHERE predicted >= 0.9),
       |s AS (
       |  SELECT doc_id, ${Batch3.shinglesSql("string_split(text, ' ')", 3)} AS sh
       |  FROM documents),
       |pairs AS (
       |  SELECT doc_a, doc_b FROM (
       |    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |      CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
       |        (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jaccard
       |    FROM s a JOIN s b ON a.doc_id < b.doc_id)
       |  WHERE jaccard >= 0.5),
       |bands_t AS (SELECT * FROM read_parquet('$LshBandsPathToken/*.parquet')),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands_t a JOIN bands_t b
       |    ON a.band = b.band AND a.band_hash = b.band_hash
       |      AND a.doc_id < b.doc_id),
       |mr AS (SELECT CAST(CAST(
       |    CAST((SELECT count(*) FROM pairs JOIN cand USING (doc_a, doc_b)) AS DOUBLE)
       |      / (SELECT count(*) FROM pairs)
       |    AS DECIMAL(18,8)) AS DOUBLE) AS v)
       |SELECT bands, rows_per_band, predicted,
       |  CASE WHEN rows_per_band = (SELECT r FROM rbest) THEN 1 ELSE 0 END AS chosen,
       |  CASE WHEN rows_per_band = (SELECT r FROM rbest)
       |    THEN (SELECT v FROM mr) ELSE -1.0 END AS measured_recall
       |FROM g2 ORDER BY rows_per_band""".stripMargin

  /** JVM-level "this artifact is known persisted" memo: the
    * skip-if-matching check itself costs a parquet read + compare
    * (~0.3 s), which the bench caught being paid on EVERY entry call —
    * once one call has verified or written a given content at a given
    * path, later calls in this JVM return immediately. Keyed by
    * (path, content identity) so a changed model still rewrites. */
  private val persistedOk =
    java.util.concurrent.ConcurrentHashMap.newKeySet[(String, Int)]()

  /** Persist the BPE model artifact once per corpus (skip the rewrite
    * when the persisted merges already equal the model's — repeat runs
    * then never delete part files out from under a concurrent reader;
    * the save stays a real save on first contact, so round-trips under
    * the gate are still exercised). Returns the path. Shared by
    * bpe_encode_oracle and bpe_token_count. */
  private[graft] def persistBpeOnce(s: org.apache.spark.sql.SparkSession,
      dir: String, m: graft.ops.Bpe.BpeModel): String = {
    val path = bpeOraclePath(dir)
    val key = (path, m.merges.hashCode)
    if (!persistedOk.contains(key)) {
      val upToDate = try {
        graft.ops.Bpe.load(s, path).merges == m.merges
      } catch { case _: Exception => false }
      if (!upToDate) graft.ops.Bpe.save(m, s, path)
      persistedOk.add(key)
    }
    path
  }

  /** The BPE encode re-derivation DuckDB runs — a recursive CTE
    * applying the greedy lowest-rank merge loop over the persisted
    * merge parquet — shared by bpe_encode_oracle (which additionally
    * round-trips the artifact on the Spark side) and bpe_token_count
    * (which encodes with the in-memory model; same answer by the
    * save/load identity the encode entry proves). */
  // lazy: `entries` above references this at object init; a strict
  // val declared after it would still be null when the Seq builds
  private[graft] lazy val bpeEncodeOracleSql: String =
    s"""WITH RECURSIVE
              |merges AS (
              |  SELECT rank, left_sym AS l, right_sym AS r
              |  FROM read_parquet('$BpeOraclePathToken/merges/*.parquet')),
              |doc_words AS (
              |  SELECT doc_id,
              |    unnest(list_filter(regexp_split_to_array(text, '\\s+'),
              |      w -> w <> '')) AS word
              |  FROM documents),
              |words AS (SELECT DISTINCT word FROM doc_words),
              |init AS (
              |  SELECT word, list_concat(list_transform(
              |    generate_series(1, length(word)), i -> word[i]), [' ']) AS syms
              |  FROM words),
              |enc(word, syms, it) AS (
              |  SELECT word, syms, 0 FROM init
              |  UNION ALL
              |  SELECT word,
              |    list_concat(list_concat(syms[1:pos-1],
              |      [syms[pos] || syms[pos+1]]), syms[pos+2:]),
              |    it + 1
              |  FROM (
              |    SELECT e.word, e.syms, e.it,
              |      (SELECT t.i
              |       FROM (SELECT unnest(generate_series(1, len(e.syms) - 1)) AS i) t
              |       JOIN merges m ON m.l = e.syms[t.i] AND m.r = e.syms[t.i + 1]
              |       ORDER BY m.rank, t.i LIMIT 1) AS pos
              |    FROM enc e) x
              |  WHERE pos IS NOT NULL),
              |word_tok AS (
              |  SELECT word, len(syms) AS n FROM (
              |    SELECT word, syms,
              |      row_number() OVER (PARTITION BY word ORDER BY it DESC) AS rn
              |    FROM enc) WHERE rn = 1),
              |per_doc AS (
              |  SELECT dw.doc_id, sum(wt.n) AS n
              |  FROM doc_words dw JOIN word_tok wt USING (word)
              |  GROUP BY dw.doc_id)
              |SELECT d.doc_id, CAST(coalesce(p.n, 0) AS BIGINT) AS n_tokens
              |FROM documents d LEFT JOIN per_doc p USING (doc_id)
              |ORDER BY doc_id""".stripMargin
}
