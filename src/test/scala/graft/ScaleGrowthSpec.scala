package graft

/** Measured scale-growth tripwire (r15 verdict item 3): the 100x-scale
  * judgment was previously a manual plan audit per round; this spec
  * makes the core claim mechanical. For the scale-sensitive catalog
  * entries below (nine as of r17) — the ones whose plans would degrade
  * first if a banded join lost its skew guard or a bounded candidate
  * set went all-pairs
  * — it runs the full entry at sf0.001/sf0.01/sf0.1 and asserts the
  * wall-time growth exponent in input rows stays sub-quadratic:
  *
  *   slope = log(t_big / t_small) / log(rows_big / rows_small) < 2.0
  *
  * measured across each entry's driving-table span (see the entries
  * note below: 100x for events/lineitem entries, 10x/4x for the flat
  * doc/embedding corpus). A healthy banded/bucketed plan measures
  * well under 1.0 here (fixed JVM/planning overhead dominates the
  * small scales, pushing the exponent DOWN — the safe direction for
  * this check). Two failure modes are covered:
  *
  *  - super-quadratic growth that already dominates at sf0.01: the
  *    slope itself trips (a true all-pairs term grows 10,000x across
  *    the span — no host-noise burst fakes that);
  *  - a quadratic term still masked by overhead at sf0.01 but
  *    catastrophic at sf0.1 (50k docs -> 2.5e9 candidate pairs runs
  *    for MINUTES at local[4]): the per-run wall cap trips first —
  *    nothing in the healthy catalog comes within an order of
  *    magnitude of it (slowest observed ~10 s at local[4]).
  *
  * Memo regime (r16 ADVICE): every timed point — and the rescue rerun
  * — is memo-COLD. The entry's [[graft.queries.Artifact]]s
  * (discovered from the settle run's MemoTrack readership) are evicted
  * before each timed run, so artifact-backed entries (e.g.
  * ann_ivf_knn_join's IVF fit) pay their full build cost at every
  * scale and fit growth is measured INSIDE the slope, not warmed away.
  *
  * Noise handling mirrors Bench's rescue discipline: a slope at or
  * past the bound earns the top-scale point one rerun (min-folds) —
  * a steal burst can inflate one measurement but not two — and each
  * run is watchdogged with a job-group cancel so a genuine regression
  * fails in bounded time instead of hanging the suite.
  *
  * The existing ScaleSpec bounds partition-count fan-out; this bounds
  * wall-time growth — together they are the measured half of the
  * "survives 100 TB" claim (SURVEY §5).
  */
class ScaleGrowthSpec extends SparkTestBase {

  private val sfs = Seq("sf0.001", "sf0.01", "sf0.1")

  // entry -> the table whose row count is the growth denominator.
  // Fixture reality: documents rows are 500/500/5000 and embeddings
  // 500/500/2000 across the three sfs (TESTDATA keeps the doc corpus
  // flat below sf0.1), so the six doc/embedding entries measure a
  // 10x/4x span; asof_sharded (events 1k/10k/100k) and q9_profit
  // (lineitem 6k/60k/600k) cover the genuine two-decade 100x span.
  private val entries: Seq[(String, String)] = Seq(
    "dedup_minhash_lsh"    -> "documents",
    "shingle_cosine_pairs" -> "documents",
    "ann_ivf_knn_join"     -> "embeddings",
    "dedup_edit_distance"  -> "documents",
    "pack_sequences"       -> "documents",
    "tf_idf"               -> "documents",
    "asof_sharded"         -> "events",
    "q9_profit"            -> "lineitem",
    // r17: the bulk KV merge (window last-write-wins over the batch +
    // broadcast anti-join into state) — the batch side grows with
    // lineitem, and a lost broadcast hint here would shuffle the
    // state side per batch
    "kv_bulk_apply"        -> "lineitem",
    // r21 (r20 verdict #6): the per-ingest streaming replay paths get
    // the same slope guard as their batch twins — the incremental
    // shard-vs-corpus grid join and the stateful KV feed both ride
    // micro-batch scaffolding whose per-batch plans would be the
    // first to regress if a guard or broadcast hint were lost
    "dedup_incremental_stream" -> "documents",
    "kv_apply_stream"          -> "events",
  )

  private val capSec = 120L

  /** One full run of a catalog entry through the noop sink (the whole
    * plan executes, no count()-style pruning), watchdogged: past the
    * cap the job group is cancelled and the test fails — the absolute
    * tripwire for overhead-masked quadratics. Runs inside a
    * [[graft.queries.MemoTrack]] scope so the entry's memo readership
    * is recorded — [[cold]] evicts exactly those labels. */
  private def runCapped(name: String, dir: String): Double = {
    val group = s"growth-$name-$dir"
    val out = new java.util.concurrent.atomic.AtomicReference[Option[Double]](None)
    val err = new java.util.concurrent.atomic.AtomicReference[Throwable](null)
    val t0 = System.nanoTime()
    val worker = new Thread(() => {
      try {
        spark.sparkContext.setJobGroup(group, name, interruptOnCancel = true)
        graft.queries.MemoTrack.within(name) {
          SparkEntry.queries(name)(spark, dir)
            .write.format("noop").mode("overwrite").save()
        }
        out.set(Some((System.nanoTime() - t0) / 1e9))
      } catch { case e: Throwable => err.set(e) }
    }, group)
    worker.setDaemon(true)
    worker.start()
    worker.join(capSec * 1000)
    if (worker.isAlive) {
      spark.sparkContext.cancelJobGroup(group)
      worker.interrupt()
      worker.join(30000)
      fail(s"$name at $dir exceeded the ${capSec}s wall cap — " +
        "growth tripwire: an all-pairs/skew regression is the only " +
        "thing in this catalog that runs that long at local[4]")
    }
    if (err.get != null) throw err.get
    out.get().getOrElse(fail(s"$name at $dir produced no timing"))
  }

  for ((name, tableName) <- entries)
    test(s"$name: wall-time growth sub-quadratic in rows (sf0.001→sf0.1)") {
      val rows = sfs.map(s =>
        graft.queries.Catalog.table(spark, sf(s), tableName).count().toDouble)
      // several sfs share a row count (documents is flat below sf0.1):
      // the head is the min time among min-rows points — same workload
      // size, so the min is the uncontended estimate — the top is the
      // max-rows point
      assert(rows.max / rows.min >= 4,
        s"fixture degenerate: $tableName rows ${rows.mkString("/")}")
      // one untimed run at the smallest scale settles JIT/classloader/
      // codegen cold-start out of the measured points — and, via the
      // MemoTrack scope in runCapped, records which artifacts the
      // entry reads, so the timed runs below can evict them
      runCapped(name, sf(sfs.head))
      // every timed point (and the rescue rerun) is memo-COLD: evict
      // the entry's memos first, so artifact-backed entries pay
      // their full fit cost at every scale. ADVICE r16: without this
      // the settle run warmed the smallest scale's memo (tHead = query
      // path only, floored at 0.05) while the first sf0.1 run paid the
      // cold fit, and the rescue rerun then read the memo warmed by
      // that first run — min-folding tTop down regardless of real fit
      // growth. Uniform eviction makes head, top, and rescue measure
      // the same (cold) cost, so fit growth is inside the slope.
      def cold(s: String): Double = {
        // a read label with no declared artifact stays warm — the
        // exact "must not fake a cold run" failure Artifact.evict's doc
        // warns about (ADVICE r17) — so surface it instead of
        // discarding evict's return
        graft.queries.MemoTrack.readsOf(name).foreach { label =>
          if (!graft.queries.Artifact.evict(label))
            info(s"memo '$label' has no evictor — timed point NOT cold for it")
        }
        // evicting the memo map is not enough for builders that end in
        // a bare Reuse.cache: the CacheManager keys entries by
        // CANONICAL PLAN, and a deterministic rebuild produces the
        // identical plan — persist() then silently re-hits the
        // previous build's warm blocks (the r17 review caught
        // ann_ivf_knn_join's assignment staying warm through evict).
        // Clearing the session cache makes the rebuild materialize
        // for real. That wipe is SESSION-GLOBAL in a test JVM where
        // every suite shares one session, so memos this entry does
        // NOT read would be left holding cache-stripped DataFrames
        // (the r17 red-suite bug: hierIndex survived with its persist
        // entry gone and PlanSpec lost cluster pruning). clearAll
        // evicts every registered memo so rebuilds stay lazy, cheap,
        // and cache-consistent in any suite order.
        spark.sharedState.cacheManager.clearCache()
        graft.queries.Artifact.clearAll()
        math.max(0.05, runCapped(name, sf(s)))
      }
      val times = sfs.map(cold)
      val tHead = times.zip(rows).filter(_._2 == rows.min).map(_._1).min
      def slope(tTop: Double): Double =
        math.log(tTop / tHead) / math.log(rows.max / rows.min)
      // tTop selected by rows.max (as tHead is by rows.min) — ADVICE
      // r16: `times.last` silently measured the wrong point if a
      // fixture change ever made the top tier row-flat
      val topSf = sfs(rows.lastIndexOf(rows.max))
      var tTop = times.zip(rows).filter(_._2 == rows.max).map(_._1).min
      if (slope(tTop) >= 2.0) // one rescue: min-fold a cold rerun of the top point
        tTop = math.min(tTop, cold(topSf))
      val sl = slope(tTop)
      info(f"rows ${rows.map(_.toLong).mkString("/")}  " +
        f"times ${times.map(t => f"$t%.2f").mkString("/")}s  slope $sl%.2f")
      assert(sl < 2.0,
        f"$name grew super-quadratically: slope $sl%.2f across " +
          f"${rows.min.toLong}→${rows.max.toLong} rows " +
          f"($tHead%.2f s → $tTop%.2f s)")
    }

  // ---- fit-line slopes (r21 verdict #7): fit_pair_counts and
  // fit_bpe_model are the two heaviest bench lines without a growth
  // guard, and the sf0.1 fixture cannot demonstrate core scaling — so
  // their wall-time growth is pinned here instead, across the
  // boilerplate corpus's genuine 100× doc span. Each point runs the
  // artifact's own `fit`, what the bench fit line times; every timed
  // point is memo-cold via the same clearAll discipline as the entries
  // above.
  private def runCappedThunk(label: String, thunk: () => Unit): Double = {
    val group = s"growth-$label"
    val out = new java.util.concurrent.atomic.AtomicReference[Option[Double]](None)
    val err = new java.util.concurrent.atomic.AtomicReference[Throwable](null)
    val t0 = System.nanoTime()
    val worker = new Thread(() => {
      try {
        spark.sparkContext.setJobGroup(group, label, interruptOnCancel = true)
        thunk()
        out.set(Some((System.nanoTime() - t0) / 1e9))
      } catch { case e: Throwable => err.set(e) }
    }, group)
    worker.setDaemon(true)
    worker.start()
    worker.join(capSec * 1000)
    if (worker.isAlive) {
      spark.sparkContext.cancelJobGroup(group)
      worker.interrupt()
      worker.join(30000)
      fail(s"$label exceeded the ${capSec}s wall cap — growth tripwire")
    }
    if (err.get != null) throw err.get
    out.get().getOrElse(fail(s"$label produced no timing"))
  }

  for (fitLine <- Seq("fit_pair_counts", "fit_bpe_model"))
    test(s"$fitLine: sub-quadratic on the boilerplate corpus (100x doc span)") {
      SparkEntry.queries // loading the catalog registers every artifact
      val artifact = graft.queries.Artifact.all.find(_.fitLine == fitLine)
        .getOrElse(fail(s"no artifact times $fitLine"))
      def mkThunk(d: String): () => Unit = () => artifact.fit(spark, d)
      val tiers = Seq(300L, 3000L, 30000L)
      val dirs = tiers.map(n => BoilerplateCorpus.write(spark, n, 10))
      runCappedThunk(fitLine, mkThunk(dirs.head)) // settle JIT/codegen
      def cold(d: String): Double = {
        spark.sharedState.cacheManager.clearCache()
        graft.queries.Artifact.clearAll()
        math.max(0.05, runCappedThunk(fitLine, mkThunk(d)))
      }
      val times = dirs.map(cold)
      def slope(tTop: Double): Double =
        math.log(tTop / times.head) /
          math.log(tiers.last.toDouble / tiers.head.toDouble)
      var tTop = times.last
      if (slope(tTop) >= 2.0) // same one-rerun rescue as the entry slopes
        tTop = math.min(tTop, cold(dirs.last))
      val sl = slope(tTop)
      info(f"docs ${tiers.mkString("/")}  " +
        f"times ${times.map(t => f"$t%.2f").mkString("/")}s  slope $sl%.2f")
      assert(sl < 2.0,
        f"$fitLine grew super-quadratically on the boilerplate corpus: " +
          f"slope $sl%.2f (${times.head}%.2f s → $tTop%.2f s)")
    }

  // ---- adversarial boilerplate corpus (r16 order #2): the fixture
  // docs are near-duplicate-free, so the Σdf² exposure the skew guard
  // defuses never shows up in the fixture-driven slopes above. These
  // corpora plant a shared 4-token paragraph in 10% of docs — two
  // shingles with df = n/10 — across a genuine 100× doc span, so an
  // unguarded miner re-concentrates df² candidates on one reducer key
  // (3000² ≈ 9M single-task candidates at the top tier, spilling the
  // partial-agg map) while the guarded plan fans it over group-pair
  // tasks. ScaleSpec proves the bound and exactness on the real join
  // input; this measures that the guarded WALL TIME stays
  // sub-quadratic where the guard is actually load-bearing.
  // dedup_incremental joins the adversarial set with a period-7
  // boilerplate (coprime to its doc_id % 10 shard cut) so the hot
  // shingles land on BOTH sides of its shard-vs-corpus grid join —
  // with the default period 10 every boilerplate doc would fall in
  // the shard and the inner join would never meet the skew (r20
  // verdict #1 done-criteria).
  for ((entry, period) <- Seq(("dedup_ngram_jaccard", 10),
      ("shingle_cosine_pairs", 10), ("dedup_incremental", 7)))
    test(s"$entry: sub-quadratic on an adversarial boilerplate corpus (shared paragraph, 100x)") {
      val tiers = Seq(300L, 3000L, 30000L)
      val dirs = tiers.map(n => BoilerplateCorpus.write(spark, n, period))
      runCapped(entry, dirs.head) // settle JIT/codegen out of the timed points
      def cold(d: String): Double = {
        spark.sharedState.cacheManager.clearCache()
        graft.queries.Artifact.clearAll()
        math.max(0.05, runCapped(entry, d))
      }
      val times = dirs.map(cold)
      def slope(tTop: Double): Double =
        math.log(tTop / times.head) /
          math.log(tiers.last.toDouble / tiers.head.toDouble)
      var tTop = times.last
      if (slope(tTop) >= 2.0) // same one-rerun rescue as the fixture slopes
        tTop = math.min(tTop, cold(dirs.last))
      val sl = slope(tTop)
      info(f"docs ${tiers.mkString("/")}  " +
        f"times ${times.map(t => f"$t%.2f").mkString("/")}s  slope $sl%.2f")
      assert(sl < 2.0,
        f"$entry grew super-quadratically on the boilerplate corpus: " +
          f"slope $sl%.2f (${times.head}%.2f s → $tTop%.2f s)")
    }
}
