package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.ops.Ann

/** Recall floors at PRODUCTION probe settings (VERDICT r11 item 4).
  *
  * The exhaustive-settings exactness of every search path is already
  * oracle-proven (ann_ivf_sq8 / ann_ivf_pq / ann_ivf_hier_topk hash-
  * match DuckDB brute force); what that cannot catch is a future
  * tuning change silently degrading the PRUNED path — the setting a
  * 100-TB deployment actually runs. These specs pin mean recall@20
  * against brute force, averaged over a fixed query panel, at the
  * documented production setting below, on the driver-generated
  * fixtures at sf0.01 AND sf0.1.
  *
  * Documented production setting (also in docs/PLANS.md): the synthetic
  * fixture's top-20 neighbor lists spread across ~10 of 16 clusters
  * (near-isotropic noise — the WORST case for IVF pruning; a real
  * embedding corpus with cluster structure recalls far more per probe),
  * so the ≥0.90 floor sits at nprobe/k = 3/4 with rescore =
  * max(5·topK, n/10) — the rescore budget must SCALE with the corpus
  * (it re-ranks the compressed first stage's survivors, and ADC/int8
  * ordering noise grows with the candidate pool, ~3/4·n here).
  * The floors are regression tripwires calibrated to this fixture, not
  * universal IVF guarantees: recall-vs-nprobe is a property of the
  * corpus, which is why [[Ann.tuneNprobe]] exists to measure it
  * per-corpus.
  *
  * Everything here is deterministic — fixed fixture, fixed seeds,
  * fixed query panel — so a pass today fails only if the code changes
  * behavior. */
class AnnRecallSpec extends SparkTestBase {

  private val K = 16
  private val NPROBE = 12 // the documented 3/4 production pruning
  private val TOPK = 20
  private val FLOOR = 0.90
  private val PANEL = Seq(3L, 17L, 42L, 77L, 123L, 201L, 310L, 444L)

  private def recallOn(sfName: String): Unit = {
    val emb = spark.read.parquet(sf(sfName) + "/embeddings.parquet")
    val RESCORE = math.max(5 * TOPK, emb.count().toInt / 10)
    val queries: Map[Long, Array[Float]] = emb
      .filter(col("vec_id").isin(PANEL.map(java.lang.Long.valueOf): _*))
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    assert(queries.size == PANEL.size, s"panel ids missing from $sfName")

    val exact: Map[Long, Set[Long]] = queries.map { case (id, q) =>
      id -> Ann.bruteForce(emb, "embedding", q, TOPK)
        .select("vec_id").collect().map(_.getLong(0)).toSet
    }

    def meanRecall(name: String)(search: Array[Float] => DataFrame): Double = {
      val r = PANEL.map { id =>
        val got = search(queries(id)).select("vec_id").collect()
          .map(_.getLong(0)).toSet
        (exact(id) & got).size.toDouble / TOPK
      }.sum / PANEL.size
      info(f"$sfName $name: mean recall@$TOPK = $r%.3f (floor $FLOOR)")
      r
    }

    val idx = Ann.buildIvf(emb, "embedding", k = K)
    val sq8 = Ann.withSq8(idx, "embedding")
    val cb = Ann.fitPq(emb, "embedding", m = 8)
    val pq = Ann.withPq(idx, "embedding", cb)
    val h = Ann.buildIvfHierarchical(emb, "embedding", k = K)
    val hSq8 = h.copy(index = Ann.withSq8(h.index, "embedding"))
    val hPq = h.copy(index = Ann.withPq(h.index, "embedding", cb))

    assert(meanRecall("searchIvf")(q =>
      Ann.searchIvf(idx, "embedding", q, TOPK, NPROBE)) >= FLOOR)
    assert(meanRecall("searchIvf Sq8")(q =>
      Ann.searchIvf(sq8, "embedding", q, TOPK, NPROBE,
        codes = Ann.Sq8(RESCORE))) >= FLOOR)
    assert(meanRecall("searchIvf Pq")(q =>
      Ann.searchIvf(pq, "embedding", q, TOPK, NPROBE,
        codes = Ann.Pq(cb, RESCORE))) >= FLOOR)
    assert(meanRecall("searchIvfHier")(q =>
      Ann.searchIvfHier(h, "embedding", q, TOPK,
        nprobeCoarse = h.k1, nprobe = NPROBE)) >= FLOOR)
    assert(meanRecall("searchIvfHier Sq8")(q =>
      Ann.searchIvfHier(hSq8, "embedding", q, TOPK,
        nprobeCoarse = h.k1, nprobe = NPROBE, codes = Ann.Sq8(RESCORE))) >= FLOOR)
    assert(meanRecall("searchIvfHier Pq")(q =>
      Ann.searchIvfHier(hPq, "embedding", q, TOPK,
        nprobeCoarse = h.k1, nprobe = NPROBE, codes = Ann.Pq(cb, RESCORE))) >= FLOOR)
  }

  test("recall@20 >= 0.90 at production nprobe, all six search paths, sf0.01") {
    recallOn("sf0.01")
  }

  test("recall@20 >= 0.90 at production nprobe, all six search paths, sf0.1") {
    recallOn("sf0.1")
  }

  test("tuneNprobe: minimal nprobe meeting the target, measured not guessed") {
    val emb = spark.read.parquet(sf("sf0.01") + "/embeddings.parquet")
    val idx = Ann.buildIvf(emb, "embedding", k = K)
    val (np, rec) = Ann.tuneNprobe(idx, "embedding", "vec_id",
      emb, "vec_id", "embedding", topK = TOPK, targetRecall = FLOOR,
      maxSample = 100)
    info(f"tuneNprobe chose nprobe=$np with recall $rec%.3f")
    assert(rec >= FLOOR && np >= 1 && np <= K)
    // minimality via the tuner's own contract: recall is monotone in
    // nprobe, so a target just ABOVE the found recall must force the
    // tuner to probe strictly more clusters (or the found recall was
    // not the minimum's)
    if (np > 1 && rec < 1.0) {
      val (np2, rec2) = Ann.tuneNprobe(idx, "embedding", "vec_id",
        emb, "vec_id", "embedding", topK = TOPK,
        targetRecall = math.min(1.0, rec + 1e-9), maxSample = 100)
      info(f"re-tune above the found recall: nprobe=$np2 recall $rec2%.3f")
      assert(np2 > np)
      assert(rec2 > rec)
    }
  }

  test("tuneNprobeFrontier: one shared reference, per-target results equal separate tuneNprobe calls") {
    val emb = spark.read.parquet(sf("sf0.01") + "/embeddings.parquet")
    val idx = Ann.buildIvf(emb, "embedding", k = K)
    val targets = Seq(0.5, FLOOR, 0.99)
    val frontier = Ann.tuneNprobeFrontier(idx, "embedding", "vec_id",
      emb, "vec_id", "embedding", topK = TOPK, targets = targets,
      maxSample = 100)
    assert(frontier.map(_._1) === targets) // input order preserved
    // the frontier shares the exhaustive reference + recall cache, but
    // each target's (nprobe, recall) must equal what a standalone
    // one-target tune measures — sharing is an optimization, never a
    // semantic change
    targets.zip(frontier).foreach { case (t, (tf, np, rec)) =>
      assert(tf === t)
      val (np1, rec1) = Ann.tuneNprobe(idx, "embedding", "vec_id",
        emb, "vec_id", "embedding", topK = TOPK, targetRecall = t,
        maxSample = 100)
      assert(np === np1, s"target $t nprobe")
      assert(rec === rec1, s"target $t recall")
    }
    // chosen nprobe non-decreasing in the target (recall monotone)
    val nps = frontier.map(_._2)
    assert(nps === nps.sorted)
  }

  test("tuneNprobeFrontier all-levels path: chosen nprobe is minimal and recall matches per-level measurement") {
    // r21: k <= AllLevelsMax routes the frontier through ONE windowed
    // all-levels evaluation instead of per-step binary-search joins.
    // The contract is unchanged: for every target, the chosen nprobe
    // must be the SMALLEST level whose recall (measured independently
    // here via public knnJoinIvf at that nprobe vs the exhaustive
    // reference) meets it, and the reported recall must equal that
    // independent measurement exactly.
    val emb = spark.read.parquet(sf("sf0.01") + "/embeddings.parquet")
    val idx = Ann.buildIvf(emb, "embedding", k = K)
    val sample = emb.select(col("vec_id"), col("embedding")).limit(100)
    val nq = sample.count().toDouble
    // recall at every level, measured the pre-r21 way (one join each)
    val exactSet = {
      val df = Ann.knnJoinIvf(idx, "embedding", "vec_id",
        sample.select(col("vec_id").as("qid"), col("embedding").as("qv")),
        "qid", "qv", topK = TOPK, nprobe = K)
      df.select(col("qid"), col("vec_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    def recallRef(np: Int): Double = {
      val got = Ann.knnJoinIvf(idx, "embedding", "vec_id",
          sample.select(col("vec_id").as("qid"), col("embedding").as("qv")),
          "qid", "qv", topK = TOPK, nprobe = np)
        .select(col("qid"), col("vec_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      (got & exactSet).size.toDouble / (nq * TOPK)
    }
    val recalls = (1 to K).map(n => n -> recallRef(n)).toMap
    val targets = Seq(0.5, FLOOR, 0.99)
    val frontier = Ann.tuneNprobeFrontier(idx, "embedding", "vec_id",
      sample, "vec_id", "embedding", topK = TOPK, targets = targets,
      maxSample = 100)
    frontier.foreach { case (t, np, rec) =>
      val expectNp = (1 to K).find(n => recalls(n) >= t).getOrElse(K)
      assert(np === expectNp, s"target $t: nprobe $np vs independent $expectNp")
      assert(math.abs(rec - recalls(np)) < 1e-12,
        s"target $t: recall $rec vs independent ${recalls(np)}")
    }
  }

  test("ann_tune_nprobe_hier gate entry: choose-or-signal rule, independent recall re-measurement agrees") {
    val rows = graft.queries.Catalog.queries("ann_tune_nprobe_hier")(spark, sf("sf0.01"))
      .collect()
    assert(rows.length === 3)
    val cutMax = 12 // nprobeCoarse=3 of k1=4 cells x k2=4 on the fixture
    rows.foreach { r =>
      val (target, np) = (r.getDouble(0), r.getInt(1))
      val (rec, check) = (r.getDouble(2), r.getDouble(3))
      info(f"target $target%.2f -> nprobe=$np recall $rec%.4f check $check%.4f")
      assert(np >= 1 && np <= cutMax)
      // met the target within the cut, OR returned the full cut with
      // its honest sub-target recall (the raise-nprobeCoarse signal)
      assert(rec >= target || np == cutMax)
      assert(check === rec)
    }
    val nps = rows.sortBy(_.getDouble(0)).map(_.getInt(1)).toSeq
    assert(nps === nps.sorted)
  }

  test("ann_tune_nprobe gate entry: monotone frontier, independent recall re-measurement agrees") {
    val rows = graft.queries.Catalog.queries("ann_tune_nprobe")(spark, sf("sf0.01"))
      .collect()
    assert(rows.length === 3)
    rows.foreach { r =>
      val (target, np) = (r.getDouble(0), r.getInt(1))
      val (rec, check) = (r.getDouble(2), r.getDouble(3))
      info(f"target $target%.2f -> nprobe=$np recall $rec%.4f check $check%.4f")
      assert(np >= 1 && np <= K)
      assert(rec >= target || np == K)
      // the two exact constructions (exhaustive-IVF reference inside
      // the tuner vs the brute-force window plan in the entry) rank
      // under the same total order over the same pairs, so the two
      // recall measurements must agree EXACTLY — any drift means one
      // "exact" path isn't
      assert(check === rec)
    }
    // nprobe non-decreasing in the target (recall monotone in nprobe)
    val nps = rows.sortBy(_.getDouble(0)).map(_.getInt(1)).toSeq
    assert(nps === nps.sorted)
  }
}
