package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.functions.{cosine_sim, BoundedTopK, VecOps}

/** Approximate-nearest-neighbor search over an `array<float>` embedding
  * column.
  *
  * Two paths:
  *  - [[bruteForce]]: one scan + TakeOrdered top-k — the exactness
  *    baseline; O(n·d) per query, no shuffle of the table.
  *  - IVF ([[buildIvf]] / [[searchIvf]]): k-means coarse quantizer; the
  *    table is written partitioned by cluster id, so a query scans only
  *    `nprobe` clusters — at 100 TB this is the difference between a
  *    full-table scan and touching `nprobe/k` of the data (with
  *    partition pruning doing the skipping via the `cluster` column).
  *
  * Every IVF operation is one of two halves composed:
  *  - the QUANTIZER ([[IvfShape]]): the flat centers ([[buildIvf]]) or
  *    the two-level coarse + sub-centers ([[buildIvfHierarchical]]).
  *    It owns the index shape's one assignment function (build and
  *    every append) and a ranked probe list per query, in a driver
  *    form (one query, [[probeList]]) and a batched form (a query
  *    table, [[probesRanked]]);
  *  - the SCAN: filter to the probed clusters, optionally cut to
  *    `rescore` on a compressed first-stage score ([[Codes]]: the SQ8
  *    integer cosine or the PQ ADC score), then the exact float cut
  *    to `topK`.
  * Search ([[searchIvf]], [[searchIvfHier]]), the batched k-NN join,
  * the nprobe tuner and append are each written once over that pair.
  *
  * Scale design of the build (the round-1 version fit k-means on the
  * FULL table through a per-row MLlib Vector UDF — a multi-pass scan of
  * everything, at 100 TB a non-starter):
  *  - the quantizer fits on a bounded SAMPLE (`maxFitRows`) — k-means
  *    needs a sketch of the density, not every row; the sample is
  *    l2-normalized so Euclidean k-means on it approximates spherical
  *    (cosine) clustering, matching the cosine probe geometry; every
  *    fit (flat, coarse, per-cell, PQ codebooks) runs the one
  *    driver-local Lloyd loop ([[lloyd]]);
  *  - full-table assignment runs through the codegen'd
  *    [[graft.functions.ArgMaxCosine]] expression with the centers as
  *    one plan reference object — one whole-stage-codegen scan, no UDF;
  *  - [[persistIvf]] writes the assignment `partitionBy("cluster")`
  *    once, making every later search a partition-pruned scan
  *    (build-once / search-many).
  */
object Ann {

  /** An index shape — the quantizer half of every IVF operation.
    * `assign` is the shape's ONE assignment function: its build uses
    * it, and so does every append (batch, stream or idempotent), so an
    * appended row lands exactly where a rebuild with the same centers
    * puts it. */
  sealed trait IvfShape {
    def index: IvfIndex
    def assign(rows: DataFrame, embCol: String): DataFrame
  }

  final case class IvfIndex(centers: Array[Array[Float]], assigned: DataFrame)
      extends IvfShape {
    def index: IvfIndex = this
    def assign(rows: DataFrame, embCol: String): DataFrame =
      assignByCosine(rows, embCol, centers)
  }

  /** Assign every row to its max-cosine center via the codegen'd
    * [[graft.functions.ArgMaxCosine]] expression. The centers ride as
    * ONE plan reference object (the pq_adc_score pattern), not k
    * inlined literal arrays: the literal form's generated code grows
    * with k·d toward the 64KB JVM method limit (silent interpreted
    * fallback past it), and a pushed-down filter on `cluster`
    * duplicates the whole literal tree into the scan — with
    * semanticK-sized k (up to 2^20) that plan doesn't even print.
    * Ties resolve to the lowest cluster id (first max wins),
    * bit-identical to the old array_position(sims, array_max(sims)). */
  def assignByCosine(df: DataFrame, embCol: String,
      centers: Array[Array[Float]]): DataFrame =
    df.withColumn("cluster", graft.functions.argmax_cosine(col(embCol), centers))

  /** A bounded sample of `c` over `df`, collected to the driver: one
    * column-pruned count sizes the sample fraction (parquet answers it
    * from footer metadata, not a data scan), then at most `maxFitRows`
    * rows. The rows are a function of the input's partitioning unless
    * the whole input is the sample (n ≤ maxFitRows): `df.sample` seeds
    * per partition and `limit` keeps whichever rows arrive first. */
  private def fitSample(df: DataFrame, c: Column, seed: Long,
      maxFitRows: Int): Array[Row] = {
    val n = df.count()
    val frac = math.min(1.0, maxFitRows * 1.2 / math.max(1L, n))
    (if (frac < 1.0) df.sample(withReplacement = false, frac, seed) else df)
      .select(c).limit(maxFitRows).collect()
  }

  /** k-means centers from a bounded sample of `df` (the fit-side
    * discipline shared by the flat and hierarchical builds): collect
    * the l2-normalized sample to the driver and run the seeded,
    * deterministically parallel local [[lloyd]].
    *
    * Replaced the MLlib distributed KMeans in r21 — measured: the
    * k-means|| init + per-iteration job rounds cost ~5.8 s on a
    * 2000-row fixture sample where the actual Lloyd arithmetic is
    * milliseconds; a bounded-sample fit (≤ maxFitRows, the discipline
    * both builds already enforce) has no business paying distributed
    * scheduling per iteration. This is the standard IVF construction
    * (FAISS trains its coarse quantizer exactly this way: sample to
    * one machine, local Lloyd). The sample is sorted lexicographically
    * before the fit, so the centers are bit-identical under any input
    * partitioning WHEN THE WHOLE INPUT IS THE SAMPLE (n ≤ maxFitRows;
    * see [[fitSample]] for why a sampled or limited fit depends on the
    * partitioning), and across core counts always — strictly stronger
    * determinism than the MLlib path, whose treeAggregate reduction
    * order could wobble the last ulp. The driver already held a
    * same-sized collect on this path (MLlib k-means|| collects its init
    * candidates); memory is unchanged, ~maxFitRows·d floats. */
  private def fitCenters(df: DataFrame, embCol: String, k: Int,
      seed: Long, maxFitRows: Int): Array[Array[Float]] = {
    val pts = fitSample(df, graft.functions.unit_vec(col(embCol)), seed, maxFitRows)
      .map(_.getSeq[Double](0).toArray.map(_.toFloat))
    require(pts.nonEmpty, "fitCenters: empty sample")
    lloyd(pts.sorted(vecOrd), k, maxIters = 20, seed = seed)
  }

  /** The JVM's one Lloyd pool: at most one daemon thread per core,
    * shared by every concurrent fit (driver-side flat/coarse/PQ fits
    * and the executor-side per-cell fits alike). Pool threads only
    * run chunk arithmetic and never wait on the pool, so callers
    * sharing it cannot deadlock; they only queue. */
  private lazy val lloydPool: java.util.concurrent.ExecutorService =
    java.util.concurrent.Executors.newFixedThreadPool(
      Runtime.getRuntime.availableProcessors(), (r: Runnable) => {
        val t = new Thread(r, "graft-lloyd")
        t.setDaemon(true)
        t
      })

  /** The one Lloyd loop (every k-means fit here: flat centers, the
    * coarse level, the per-cell sub-centers, the PQ codebooks). The
    * assignment+partial-sum step fans out over FIXED-SIZE point chunks
    * (1024 points — a function of the sample alone, never of the
    * host's core count) on [[lloydPool]], partials merge in CHUNK-INDEX
    * ORDER — so the result is bit-identical regardless of thread
    * scheduling AND across machines with different core counts (r21
    * advice: the old availableProcessors-derived grid grouped float
    * additions differently per host) — and iteration stops early once
    * no assignment changes (Lloyd has converged exactly; further
    * iterations are fixpoint no-ops). A single-chunk fit runs inline
    * in the caller's thread.
    *
    * Deterministic seeded init from k DISTINCT point indices (a seeded
    * shuffle): sampling indices with replacement would duplicate
    * initial centers with near-certainty at k=256 over a 20k sample
    * (birthday effect), and duplicated centroids converge to
    * duplicated codewords, shrinking the effective codebook and recall
    * (ADVICE round 5). */
  private[ops] def lloyd(points: Array[Array[Float]], k: Int,
      maxIters: Int, seed: Long): Array[Array[Float]] = {
    val rnd = new scala.util.Random(seed)
    val d = points(0).length
    val init = rnd.shuffle(points.indices.toVector)
    val centers = Array.tabulate(k)(i =>
      points(if (points.length >= k) init(i) else i % points.length).clone())
    val assign = new Array[Int](points.length)
    java.util.Arrays.fill(assign, -1)
    // FIXED chunk size, never derived from the host's core count: the
    // partial sums merge in chunk-index order, and float addition is
    // non-associative — a core-count-dependent chunk GRID would make
    // fitted centers differ in the last ulp across machines (r21
    // advice). With the grid fixed by points.length alone, only the
    // POOL size varies per host, and the merged result is bit-identical
    // on any machine (and to a sequential pass over the same chunks).
    val chunk = 1024
    val nChunks = (points.length + chunk - 1) / chunk
    def partial(t: Int): (Array[Array[Double]], Array[Int], Boolean) = {
      val lo = t * chunk
      val hi = math.min(points.length, lo + chunk)
      val sums = Array.ofDim[Double](k, d)
      val counts = new Array[Int](k)
      var moved = false
      var p = lo
      while (p < hi) {
        val v = points(p)
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < k) {
          var dist = 0.0; var i = 0
          val cent = centers(c)
          while (i < d) { val df = v(i) - cent(i); dist += df * df; i += 1 }
          if (dist < bestD) { bestD = dist; best = c }
          c += 1
        }
        if (assign(p) != best) { assign(p) = best; moved = true }
        counts(best) += 1
        var i = 0
        while (i < d) { sums(best)(i) += v(i); i += 1 }
        p += 1
      }
      (sums, counts, moved)
    }
    var it = 0
    var changed = true
    while (it < maxIters && changed) {
      val parts =
        if (nChunks == 1) Seq(partial(0))
        else (0 until nChunks).map { t =>
          val task: java.util.concurrent.Callable[
            (Array[Array[Double]], Array[Int], Boolean)] = () => partial(t)
          lloydPool.submit(task)
        }.map(_.get())
      // merge partials in fixed range order: double addition is
      // non-associative, so the order must not depend on scheduling
      val sums = Array.ofDim[Double](k, d)
      val counts = new Array[Int](k)
      changed = false
      parts.foreach { case (ps, pc, moved) =>
        changed ||= moved
        var c = 0
        while (c < k) {
          counts(c) += pc(c)
          var i = 0
          while (i < d) { sums(c)(i) += ps(c)(i); i += 1 }
          c += 1
        }
      }
      var c = 0
      while (c < k) {
        // empty clusters keep their previous center (they simply
        // never win assignments)
        if (counts(c) > 0) {
          var i = 0
          while (i < d) { centers(c)(i) = (sums(c)(i) / counts(c)).toFloat; i += 1 }
        }
        c += 1
      }
      it += 1
    }
    centers
  }

  /** Fit a k-means coarse quantizer on a bounded sample, then assign
    * every row to its nearest (max-cosine) centroid. `assigned` keeps
    * the original columns plus `cluster`. */
  def buildIvf(df: DataFrame, embCol: String, k: Int, seed: Long = 42L,
      maxFitRows: Int = 100000): IvfIndex = {
    val centers = fitCenters(df, embCol, k, seed, maxFitRows)
    IvfIndex(centers, assignByCosine(df, embCol, centers))
  }

  /** A two-level build: the flat [[IvfIndex]] (centers addressable by
    * the global cluster id), the coarse table (for two-level probing
    * in [[searchIvfHier]]), plus the fit's shape and measured Lloyd
    * cost, so callers (and specs) can verify the fit stayed bounded. */
  final case class HierIvf(index: IvfIndex, coarse: Array[Array[Float]],
      k1: Int, k2: Int, sampleTarget: Long, subLloydDistComps: Long)
      extends IvfShape {
    def assign(rows: DataFrame, embCol: String): DataFrame =
      assignByCosineHier(rows, embCol, this)
  }

  /** Deterministic lexicographic order on float vectors — cell samples
    * are sorted with it before Lloyd so the fit is independent of
    * shuffle arrival order. */
  private val vecOrd: Ordering[Array[Float]] = new Ordering[Array[Float]] {
    override def compare(a: Array[Float], b: Array[Float]): Int = {
      val n = math.min(a.length, b.length)
      var i = 0
      var c = 0
      while (c == 0 && i < n) {
        c = java.lang.Float.compare(a(i), b(i))
        i += 1
      }
      if (c != 0) c else a.length - b.length
    }
  }

  private def l2NormalizeF(a: Array[Float]): Array[Float] = {
    var s = 0.0
    var i = 0
    while (i < a.length) { s += a(i).toDouble * a(i); i += 1 }
    val n = math.sqrt(s)
    if (n == 0.0) a.clone()
    else {
      val out = new Array[Float](a.length)
      i = 0
      while (i < a.length) { out(i) = (a(i) / n).toFloat; i += 1 }
      out
    }
  }

  /** The hierarchical build's scratch column (coarse cell per row). */
  private val CellCol = "__graft_cell"

  /** Two-level hierarchical coarse quantizer — the fit that REACHES
    * SemDeDup-scale k (up to 2^20), where a flat Lloyd cannot: flat
    * k-means is O(sample·k·d) per iteration (~10^17 flops at k=2^20,
    * d=64 with a meaningful sample), runs on the driver, and its
    * bounded sample leaves ~2 points per centroid at the top. The
    * standard IVF construction instead fits k1 ≈ sqrt(k) coarse
    * centers (a tiny driver-local problem), partitions a sqrt-scaled
    * sample by coarse cell, and fits k2 ≈ sqrt(k) sub-centers per cell
    * with a LOCAL Lloyd inside `mapGroups` — k1 independent, bounded,
    * executor-side fits instead of one driver-side monolith:
    *  - total fit work is O(sample·k2·d) = O(sample·sqrt(k)·d), a
    *    sqrt(k) reduction, and it parallelizes over cells;
    *  - every cell sees `pointsPerCentroid` sample points per
    *    sub-centroid (the per-LEVEL sample sizing), capped at
    *    4×k2×pointsPerCentroid per cell so one hot cell cannot drag a
    *    straggler;
    *  - assignment composes two bounded argmax passes
    *    (O(2·sqrt(k)·d) per row vs O(k·d) flat), both codegen'd with
    *    centers as plan reference objects;
    *  - determinism: seeded sample, cells sorted lexicographically
    *    before Lloyd, per-cell seed = seed + cell — shuffle arrival
    *    order never reaches the fit.
    * Cluster ids are `cell*k2 + j`, addressable in the returned flat
    * `centers` (empty cells keep their coarse center, duplicated —
    * they simply never win scoring that matters). The flat table is
    * k·d floats (≤ 256 MB at the 2^20 ceiling) — a broadcast-sized
    * artifact, shipped once per stage as a reference object. */
  def buildIvfHierarchical(df: DataFrame, embCol: String, k: Int,
      seed: Long = 42L, pointsPerCentroid: Int = 20,
      coarseFitRows: Int = 200000, iters: Int = 8,
      maxFitRows: Int = Int.MaxValue): HierIvf = {
    require(k >= 4, s"buildIvfHierarchical: k must be >= 4, got $k")
    require(pointsPerCentroid >= 1 && iters >= 1,
      "buildIvfHierarchical: pointsPerCentroid and iters must be >= 1")
    require(maxFitRows >= 1, "buildIvfHierarchical: maxFitRows must be >= 1")
    require(!df.columns.contains(CellCol),
      s"buildIvfHierarchical: input collides with reserved column $CellCol")
    val k1Req = math.ceil(math.sqrt(k.toDouble)).toInt
    val spark = df.sparkSession
    import spark.implicits._
    // level-1: a small driver-local fit (k1 centers from ~20·k1
    // points). maxFitRows (the caller's total fit-sample bound,
    // threaded from buildIvfAuto) caps BOTH levels.
    val coarse = fitCenters(df, embCol, k1Req, seed,
      math.min(maxFitRows, math.min(coarseFitRows, math.max(1000, 20 * k1Req))))
    val k1 = coarse.length
    val k2 = math.ceil(k.toDouble / k1).toInt
    val kTotal = k1 * k2 // >= k; the caller gets at LEAST k clusters
    // level-2 sample: pointsPerCentroid per FINAL centroid, distributed
    // (never collected whole — each cell collects only its own slice)
    val n = df.count()
    val sampleTarget =
      math.min(math.min(pointsPerCentroid.toLong * kTotal, maxFitRows.toLong), n)
    val frac = math.min(1.0, sampleTarget * 1.2 / math.max(1L, n))
    val cellCap = 4 * pointsPerCentroid * k2
    val perCell = (if (frac < 1.0) df.sample(withReplacement = false, frac, seed + 1) else df)
      .select(col(embCol).as("__emb"))
      .withColumn("__cell", graft.functions.argmax_cosine(col("__emb"), coarse))
      .as[(Seq[Float], Int)]
      .groupByKey(_._2)
      .mapGroups { (cell, it) =>
        // bounded insertion: stream the cell's sample slice through a
        // size-capped max-heap keeping the cellCap lexicographically
        // SMALLEST vectors — O(cellCap) memory even when an
        // adversarial distribution lands the whole level-2 sample in
        // one coarse cell (the unbounded it.toArray this replaces
        // would buffer that cell's entire slice before capping).
        // Output is identical to sort-then-take(cellCap): both keep
        // the same smallest-cellCap multiset (ties are equal-content
        // arrays), emitted in ascending vecOrd order.
        val heap = new java.util.PriorityQueue[Array[Float]](
          math.min(cellCap, 1024), vecOrd.reverse) // root = largest kept
        it.foreach { t =>
          val v = t._1.toArray
          if (heap.size < cellCap) heap.offer(v)
          else if (vecOrd.compare(v, heap.peek) < 0) { heap.poll(); heap.offer(v) }
        }
        val pts = new Array[Array[Float]](heap.size)
        var i = pts.length - 1
        while (i >= 0) { pts(i) = heap.poll(); i -= 1 } // max-first drain → ascending
        val use = pts.map(l2NormalizeF)
        val cents = lloyd(use, k2, iters, seed + 2 + cell)
        (cell, cents.map(_.toSeq).toSeq, use.length.toLong * k2 * iters)
      }
      .collect()
    val subByCell = perCell.map { case (cell, cs, _) =>
      cell -> cs.map(_.toArray).toArray
    }.toMap
    val flat = Array.tabulate(kTotal) { id =>
      subByCell.get(id / k2) match {
        case Some(cs) => cs(id % k2)
        case None     => coarse(id / k2) // cell empty in the sample
      }
    }
    // the fitted shape first, so the build assigns through the same
    // function ([[assignByCosineHier]]) every append uses
    val fitted = HierIvf(IvfIndex(flat, df), coarse, k1, k2, sampleTarget,
      perCell.map(_._3).sum)
    fitted.copy(index = IvfIndex(flat, fitted.assign(df, embCol)))
  }

  /** The build the catalog uses: the flat fit while k is small enough
    * that a single Lloyd problem is cheap and well-sampled; past
    * `hierThreshold` the two-level fit takes over (flat cost grows
    * O(k) per sample point AND the capped sample starves the
    * centroids — the round-7 verdict's "un-capped k is not fittable"
    * finding). */
  def buildIvfAuto(df: DataFrame, embCol: String, k: Int, seed: Long = 42L,
      maxFitRows: Int = 100000, hierThreshold: Int = 4096): IvfIndex =
    if (k <= hierThreshold) buildIvf(df, embCol, k, seed, maxFitRows)
    else buildIvfHierarchical(df, embCol, k, seed, maxFitRows = maxFitRows).index

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): compare embeddings only WITHIN their k-means
    * cluster, drop one member of every near-duplicate pair
    * (cosine >= tau). Work is a cluster-keyed self-join — O(sum c_i^2)
    * comparisons instead of n^2 — and the paper's own scale lever
    * applies unchanged: grow k with n so cluster sizes stay bounded,
    * making the per-cluster quadratic a constant. Cross-cluster
    * duplicates are the method's documented recall loss.
    *
    * Drop rule (deterministic, single-pass — no iterative connected
    * components): drop x iff some same-cluster y with cos(x,y) >= tau
    * precedes it in the (centroid-cosine, id) order. Keeping the
    * LOWEST-centroid-cosine member of each pair follows the paper
    * (they retain the cluster's "outliers" — low centroid similarity
    * keeps diversity); the id tiebreak makes exact-duplicate pairs
    * (equal centroid cosine) resolve deterministically. The kept set
    * provably contains no same-cluster pair at >= tau: the (ccos, id)
    * order is total, so one side of any such pair dominates and is
    * dropped. One anti-join, no driver loop.
    *
    * Returns `index.assigned` minus dropped rows (original columns +
    * `cluster`). */
  def semanticDedup(index: IvfIndex, embCol: String, idCol: String,
      tau: Double): DataFrame = {
    // centroid scoring rides the centers as ONE plan reference object
    // (the argmax_cosine pattern): the previous
    // element_at(typedLit(centers), cluster+1) spelling inlined all
    // k·d floats as a literal — at semanticK-scale k (2^20 × d ≈
    // 256 MB) that plan neither prints nor ships
    val scored = index.assigned.withColumn("__ccos",
      graft.functions.centroid_cosine(col(embCol), col("cluster"), index.centers))
    val x = scored.select(col(idCol).as("__xid"), col("cluster").as("__xc"),
      col(embCol).as("__xe"), col("__ccos").as("__xs"))
    val y = scored.select(col(idCol).as("__yid"), col("cluster").as("__yc"),
      col(embCol).as("__ye"), col("__ccos").as("__ys"))
    // y dominates x: earlier in the total (ccos, id) order
    val dropped = x.join(y,
        col("__xc") === col("__yc") && col("__xid") =!= col("__yid") &&
          (col("__ys") < col("__xs") ||
            (col("__ys") === col("__xs") && col("__yid") < col("__xid"))) &&
          cosine_sim(col("__xe"), col("__ye")) >= tau)
      .select(col("__xid")).distinct()
    index.assigned.join(dropped,
      index.assigned(idCol) === dropped("__xid"), "left_anti")
  }

  /** Exact brute-force cosine top-k (baseline; also the exact cut of
    * every IVF scan). `tieBreak` columns make the top-k cut
    * deterministic when scores collide at the boundary. */
  def bruteForce(df: DataFrame, embCol: String, query: Array[Float],
      topK: Int, tieBreak: Seq[Column] = Nil): DataFrame = {
    val qLit = typedLit(query.toSeq)
    df.withColumn("score", cosine_sim(col(embCol), qLit))
      .orderBy(col("score").desc +: tieBreak: _*)
      .limit(topK)
  }

  // ---- the probe ranking: the quantizer's half of a search or join ----

  /** Which clusters a query probes, best first: every center ranked
    * ([[Flat]]), or the best `nprobeCoarse` coarse cells ranked and
    * then only their sub-centers ([[TwoLevel]]) — O((k1 +
    * nprobeCoarse·k2)·d) ranking work per query instead of the flat
    * O(k·d), which matters exactly where the hierarchical build does
    * (at k=2^20 a flat rank touches 1M centers per query; two-level
    * touches ~2k·nprobeCoarse). */
  private[graft] sealed trait Ranking { def index: IvfIndex }
  private[graft] final case class Flat(index: IvfIndex) extends Ranking
  /** `maxCenterBroadcastBytes` bounds the batched form's sub-center
    * table broadcast (see [[probesRanked]]). */
  private[graft] final case class TwoLevel(h: HierIvf, nprobeCoarse: Int,
      maxCenterBroadcastBytes: Long = 256L << 20) extends Ranking {
    def index: IvfIndex = h.index
  }

  /** Ascending `ids` ranked by [[VecOps.cosineFF]] of their center to
    * the query, best first; the stable sort resolves ties to the lowest
    * id — the same clamped cosine and total order (score DESC, id ASC)
    * the batched [[probesRanked]] applies. */
  private def rankByCosine(centers: Array[Array[Float]], ids: Array[Int],
      query: Array[Float]): Array[Int] =
    ids.sortBy(id => -VecOps.cosineFF(centers(id), query))

  /** The driver-form probe list of one query (centers are k·d floats,
    * trivially small). The query vector's own best cluster is by
    * construction ranked first, so it is always scanned. */
  private[graft] def probeList(r: Ranking, query: Array[Float],
      nprobe: Int): Array[Int] = r match {
    case Flat(index) =>
      rankByCosine(index.centers, index.centers.indices.toArray, query).take(nprobe)
    case TwoLevel(h, nprobeCoarse, _) =>
      val cells = rankByCosine(h.coarse, h.coarse.indices.toArray, query)
        .take(nprobeCoarse)
      rankByCosine(h.index.centers,
        cells.flatMap(c => (0 until h.k2).map(j => c * h.k2 + j)).sorted, query)
        .take(nprobe)
  }

  /** (i, center) rows of a small center table, ids as longs (the
    * [[BoundedTopK]] id type). */
  private def centerRows(centers: Array[Array[Float]]): Seq[(Long, Seq[Float])] =
    centers.toIndexedSeq.zipWithIndex.map { case (c, i) => (i.toLong, c.toIndexedSeq) }

  /** Per query, the `n` best `idCol` of the (query, center) `pairs` by
    * cosine, as the bounded top-k struct `__graft_top` — map-side
    * bounded, so the exchange carries |Q|·n rows, never |pairs|. */
  private def topByCosine(pairs: DataFrame, qIdCol: String, qEmbCol: String,
      centerCol: String, idCol: String, simCol: String, n: Int): DataFrame =
    pairs.withColumn(simCol, cosine_sim(col(qEmbCol), col(centerCol)))
      .groupBy(col(qIdCol))
      .agg(BoundedTopK.top_k_by(col(simCol), col(idCol), n).as("__graft_top"))

  /** The batched-form probe ranking of a query table as (qIdCol,
    * __graft_probe, __graft_pr), rank 1 = best under
    * [[BoundedTopK]]'s total order (cosine DESC, cluster ASC). Its
    * prefix of length n is exactly the probe set of a join at
    * nprobe=n — the tuner's all-levels path depends on that.
    *  - Flat: every center per query against the BROADCAST center
    *    table (k·d floats — broadcast-class by construction), cut to
    *    `nprobe`.
    *  - TwoLevel: the k1 ≈ √k coarse cells per query (|Q|·k1 rows
    *    against the broadcast coarse table), cut to `nprobeCoarse`;
    *    then an EQUI-join of the (query, cell) pairs with the
    *    sub-center table keyed by cell (|Q|·nprobeCoarse·k2 rows), cut
    *    to `nprobe` global clusters. Rank is within the pooled
    *    sub-center ranking of the FIXED coarse cut. */
  private[graft] def probesRanked(r: Ranking, q: DataFrame, qIdCol: String,
      qEmbCol: String, nprobe: Int): DataFrame = {
    val spark = q.sparkSession
    import spark.implicits._
    val (pairs, simCol) = r match {
      case Flat(index) =>
        (q.crossJoin(broadcast(
          centerRows(index.centers).toDF("__graft_cl", "__graft_center"))),
          "__graft_csim")
      case TwoLevel(h, nprobeCoarse, maxCenterBroadcastBytes) =>
        // flat sub-center table keyed by coarse cell (cluster id =
        // cell·k2+j). The coarse table is always k1 ≈ √k rows —
        // broadcast-class by construction — but THIS one is all k
        // sub-centers: ~3 GB at k≈2^20, d=768, past any sane
        // broadcast. Under the size bound we broadcast (zero exchange
        // on the probe side); over it the rows are distributed via
        // parallelize and the cell equi-join shuffles
        // |Q|·nprobeCoarse probe rows on `__graft_cell` instead — the
        // probe side is already keyed by cell, so the exchange is the
        // bounded probe set, never the corpus.
        val subRows = h.index.centers.toIndexedSeq.zipWithIndex
          .map { case (c, id) => ((id / h.k2).toLong, id.toLong, c.toIndexedSeq) }
        val d = if (h.index.centers.isEmpty) 0 else h.index.centers(0).length
        val subBytes = h.index.centers.length.toLong * (4L * d + 24L)
        val subDf =
          if (subBytes <= maxCenterBroadcastBytes)
            broadcast(subRows.toDF("__graft_cell", "__graft_cl", "__graft_center"))
          else {
            val slices = math.max(1, (subBytes / (32L << 20)).toInt)
            spark.createDataset(spark.sparkContext.parallelize(subRows, slices))
              .toDF("__graft_cell", "__graft_cl", "__graft_center")
          }
        val cellProbes = topByCosine(
            q.crossJoin(broadcast(centerRows(h.coarse).toDF("__graft_cell", "__graft_ccenter"))),
            qIdCol, qEmbCol, "__graft_ccenter", "__graft_cell", "__graft_csim", nprobeCoarse)
          .select(col(qIdCol), explode(col("__graft_top.id")).as("__graft_cell"))
          .join(q, qIdCol)
        (cellProbes.join(subDf, "__graft_cell"), "__graft_ssim")
    }
    topByCosine(pairs, qIdCol, qEmbCol, "__graft_center", "__graft_cl", simCol, nprobe)
      .select(col(qIdCol), posexplode(col("__graft_top.id"))
        .as(Seq("__graft_pos", "__graft_probe")))
      .select(col(qIdCol), col("__graft_probe"),
        (col("__graft_pos") + 1).as("__graft_pr"))
  }

  // ---- the scan: probed clusters, optional compressed stage, exact cut ----

  /** The first stage of an IVF scan. [[Exact]] scores the float
    * embeddings once; the compressed stages rank the probed rows on
    * codes carried in the index, keep the best `rescore`, and only
    * those reach the exact float cut. */
  sealed trait Codes
  case object Exact extends Codes
  /** int8 codes ([[withSq8]]): the integer-domain quantized cosine
    * (byte codes, long accumulate). With `rescore >= topK` and SQ8's
    * <1% score perturbation, recall vs the exact scan is near-total
    * while the heavy scan never touches the float column. */
  final case class Sq8(rescore: Int = 100) extends Codes
  /** m-byte PQ codes ([[withPq]]): ADC via per-query lookup tables.
    * With exhaustive probe + rescore the result is exact (the ADC
    * stage only orders candidates that all survive the cut). */
  final case class Pq(codebook: PqCodebook, rescore: Int = 100) extends Codes

  /** IVF search: rank the clusters by cosine to the query (driver
    * side), scan only the best `nprobe`, cut through `codes` to the
    * exact top `topK`. */
  def searchIvf(index: IvfIndex, embCol: String, query: Array[Float],
      topK: Int, nprobe: Int, tieBreak: Seq[Column] = Nil,
      codes: Codes = Exact): DataFrame =
    scan(index, probeList(Flat(index), query, nprobe), embCol, query, topK,
      codes, tieBreak)

  /** [[searchIvf]] through the two-level probe ranking: the best
    * `nprobe` sub-clusters of the best `nprobeCoarse` coarse cells. */
  def searchIvfHier(h: HierIvf, embCol: String, query: Array[Float],
      topK: Int, nprobeCoarse: Int, nprobe: Int,
      tieBreak: Seq[Column] = Nil, codes: Codes = Exact): DataFrame =
    scan(h.index, probeList(TwoLevel(h, nprobeCoarse), query, nprobe), embCol,
      query, topK, codes, tieBreak)

  /** The one scan body: the partition-pruned cluster filter, the
    * optional compressed cut to `rescore`, the exact TakeOrdered cut
    * to `topK`. `tieBreak` makes BOTH cuts deterministic under score
    * collisions. */
  private def scan(index: IvfIndex, probed: Array[Int], embCol: String,
      query: Array[Float], topK: Int, codes: Codes,
      tieBreak: Seq[Column]): DataFrame = {
    val inProbe = index.assigned
      .filter(col("cluster").isin(probed.toIndexedSeq.map(Integer.valueOf): _*))
    firstStage(index, codes, query) match {
      case None => bruteForce(inProbe, embCol, query, topK, tieBreak)
      case Some((qscore, rescore)) =>
        // exact rescoring over the tiny candidate set only
        bruteForce(inProbe.withColumn("qscore", qscore)
            .orderBy(col("qscore").desc +: tieBreak: _*)
            .limit(rescore), embCol, query, topK, tieBreak)
          .drop("qscore")
    }
  }

  /** The compressed score column and its `rescore` cut, if any. */
  private def firstStage(index: IvfIndex, codes: Codes,
      query: Array[Float]): Option[(Column, Int)] = codes match {
    case Exact => None
    case Sq8(rescore) =>
      require(index.assigned.columns.contains("qvec"),
        "index has no SQ8 codes; call withSq8 first")
      // quantize the query with the same formula (driver-side, d
      // floats); a zero query codes to zeros like sq8Code does
      val m = query.map(x => math.abs(x.toDouble)).max
      val qb =
        if (m == 0) query.map(_ => 0L)
        else query.map(x => math.floor(x * 127.0 / m + 0.5).toLong)
      val qbNorm = math.sqrt(qb.map(x => (x * x).toDouble).sum)
      Some((aggregate(
          zip_with(col("qvec"), typedLit(qb.toSeq), (a, b) => a.cast("long") * b),
          lit(0L), (acc, x) => acc + x).cast("double")
        / (col("qnorm") * lit(qbNorm)), rescore))
    case Pq(codebook, rescore) =>
      require(index.assigned.columns.contains("pqcode"),
        "index has no PQ codes; call withPq first")
      val dsub = codebook.centers(0)(0).length
      def lut(f: (Int, Array[Float]) => Double) =
        Array.tabulate(codebook.m, codebook.centers(0).length) { (sub, c) =>
          f(sub, codebook.centers(sub)(c))
        }
      val dotLut = lut { (sub, cent) =>
        var s = 0.0; var i = 0
        while (i < dsub) { s += query(sub * dsub + i).toDouble * cent(i); i += 1 }
        s
      }
      val normLut = lut { (_, cent) =>
        var s = 0.0; var i = 0
        while (i < dsub) { s += cent(i).toDouble * cent(i); i += 1 }
        s
      }
      val qNorm = math.sqrt(query.map(x => x.toDouble * x).sum)
      Some((graft.functions.pq_adc_score(col("pqcode"), dotLut, normLut, qNorm),
        rescore))
  }

  // ---- IVF-SQ8: scalar-quantized codes inside the cluster-pruned ----
  // index — the compressed-domain storage layout (1 byte/dim instead
  // of 4) that keeps a 100 TB index 4× smaller on disk and in shuffle,
  // with a cheap two-stage search: integer scoring over the codes,
  // then exact float rescoring of only the top candidates.

  /** Per-vector symmetric int8 code: floor(x * 127/max|x| + 0.5) as
    * tinyint (same arithmetic as the oracled `ann_int8_topk` catalog
    * entry, narrowed to 1-byte storage). */
  def sq8Code(v: Column): Column = {
    val dv = transform(v, x => x.cast("double"))
    val m  = array_max(transform(dv, x => abs(x)))
    // zero vector: 127/0 = Inf, 0*Inf = NaN, and NaN→byte throws under
    // ANSI — code it as all-zero instead (norm 0; never a top hit)
    when(m === 0, transform(dv, _ => lit(0).cast("byte")))
      .otherwise(transform(dv, x => floor(x * (lit(127.0) / m) + lit(0.5)).cast("byte")))
  }

  /** Precomputed L2 norm of the code vector (so searches don't redo
    * the per-row norm reduction). */
  private def sq8Norm(q: Column): Column =
    sqrt(aggregate(q, lit(0L), (acc, x) => acc + x.cast("long") * x.cast("long"))
      .cast("double"))

  /** Attach SQ8 codes + norms to an IVF assignment: the persisted
    * index then carries (cluster, qvec tinyint[], qnorm) beside the
    * original columns. */
  def withSq8(index: IvfIndex, embCol: String): IvfIndex = {
    val a = index.assigned
      .withColumn("qvec", sq8Code(col(embCol)))
      .withColumn("qnorm", sq8Norm(col("qvec")))
    IvfIndex(index.centers, a)
  }

  // ---- IVF-PQ: product-quantized codes inside the cluster-pruned ----
  // index — m bytes per vector (vs d·4 float, d int8): at d=64, m=8
  // that is 32× smaller than float32. Search is the same two-stage
  // shape as SQ8 with ADC (asymmetric distance computation) as the
  // integer-stage scorer: dot(q, x̂) and |x̂|² both decompose over
  // subspaces into per-query lookup tables of m·|codebook| entries.

  /** PQ codebook: `centers(sub)(c)` = centroid c of contiguous
    * subspace sub (m subspaces of d/m dims each). */
  final case class PqCodebook(m: Int, centers: Array[Array[Array[Float]]])

  /** Fit m per-subspace codebooks with the driver-local [[lloyd]] on a
    * bounded sample — PQ codebooks need a sketch of each subspace's
    * density, not a full-table pass (same fit-side discipline as
    * [[buildIvf]]). Sample rows stream once; subspaces fit one after
    * another, each fanning its point chunks out over the Lloyd pool. */
  def fitPq(df: DataFrame, embCol: String, m: Int, codebookSize: Int = 256,
      iters: Int = 8, seed: Long = 42L, maxFitRows: Int = 20000): PqCodebook = {
    val rows = fitSample(df, col(embCol), seed, maxFitRows)
      .map(_.getSeq[Float](0).toArray)
    require(rows.nonEmpty, "fitPq: empty sample")
    val d = rows(0).length
    require(d % m == 0, s"fitPq: dim $d not divisible by m=$m")
    val dsub = d / m
    val centers = Array.tabulate(m) { sub =>
      val pts = rows.map(v => java.util.Arrays.copyOfRange(v, sub * dsub, (sub + 1) * dsub))
      lloyd(pts, codebookSize, iters, seed + sub)
    }
    PqCodebook(m, centers)
  }

  /** Attach PQ codes to an IVF assignment: the persisted index then
    * carries (cluster, pqcode byte[m]) beside the original columns —
    * one codegen'd scan, codebook as a plan reference object. */
  def withPq(index: IvfIndex, embCol: String, codebook: PqCodebook): IvfIndex =
    IvfIndex(index.centers, index.assigned.withColumn("pqcode",
      graft.functions.pq_encode(col(embCol), codebook.centers)))

  /** Build-once / search-many: persist the assignment partitioned by
    * cluster (searches then prune at the directory level) plus the
    * centers as a tiny sidecar table. */
  def persistIvf(index: IvfIndex, path: String): Unit = {
    index.assigned.write.mode("overwrite")
      .partitionBy("cluster").parquet(s"$path/assigned")
    val spark = index.assigned.sparkSession
    import spark.implicits._
    index.centers.toIndexedSeq.zipWithIndex
      .map { case (c, i) => (i, c.toIndexedSeq) }
      .toDF("cluster", "center")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centers")
  }

  def loadIvf(spark: SparkSession, path: String): IvfIndex = {
    val centers = spark.read.parquet(s"$path/centers")
      .orderBy("cluster").collect()
      .map(_.getSeq[Float](1).toArray)
    IvfIndex(centers, spark.read.parquet(s"$path/assigned"))
  }

  // ---- the batched k-NN join ----

  /** IVF-accelerated k-NN JOIN — the batched ANN path for a TABLE of
    * query vectors. The brute-force k-NN join scores every
    * (query, row) pair: |Q|·n work behind a cross join. This routes
    * each query to its best `nprobe` clusters ([[probesRanked]]) and
    * scores only those:
    *  1. the flat probe ranking — |Q|·k map-side cosine rows, cut to
    *     `nprobe` with the bounded [[BoundedTopK]] aggregate so the
    *     exchange carries |Q|·nprobe probe pairs, never |Q|·k;
    *  2. EQUI-join the (query, cluster) probes with the assignment on
    *     cluster id — Σ_q (probed cluster sizes) rows scored, no
    *     cartesian anywhere;
    *  3. per-query bounded top-k over the scored candidates (map-side
    *     bounded, ids-only through the shuffle).
    * With `nprobe = k` every cluster is probed and the result is
    * EXACT (the oracle-able construction); with nprobe << k it is
    * [[searchIvf]]'s recall/probe tradeoff, batched. `excludeSelf`
    * drops id-equal (query, row) pairs before the cut (the usual
    * corpus-vs-itself convention). Output: (qIdCol, id, score, rk),
    * rk 1-based best-first.
    *
    * Ranking-stage budget: step 1 evaluates |Q|·k cosine rows before
    * the bounded cut — fine at catalog/IVF-typical k (the rows never
    * shuffle; the aggregate eats them map-side), but at
    * SemDeDup-scale k (~2^20) that stage is the non-starter. Callers
    * holding a [[HierIvf]] past the k threshold [[buildIvfAuto]]
    * switches fits at should use [[knnJoinIvfHier]]'s two-level
    * ranking — this flat entrypoint is for indexes that are flat by
    * construction. */
  def knnJoinIvf(index: IvfIndex, embCol: String, idCol: String,
      queries: DataFrame, qIdCol: String, qEmbCol: String,
      topK: Int, nprobe: Int, excludeSelf: Boolean = false): DataFrame =
    knnJoin(Flat(index), embCol, idCol, queries, qIdCol, qEmbCol, topK,
      nprobe, excludeSelf)

  /** [[knnJoinIvf]] through the TWO-LEVEL ranking, for hierarchical
    * (SemDeDup-scale) k, where the flat ranking's |Q|·k stage is the
    * non-starter. Per-query ranking work is O((k1 + nprobeCoarse·k2)·d)
    * — the [[searchIvfHier]] budget, batched. Exhaustive settings
    * (nprobeCoarse=k1, nprobe=k1·k2) are exact. */
  def knnJoinIvfHier(h: HierIvf, embCol: String, idCol: String,
      queries: DataFrame, qIdCol: String, qEmbCol: String,
      topK: Int, nprobeCoarse: Int, nprobe: Int,
      excludeSelf: Boolean = false,
      maxCenterBroadcastBytes: Long = 256L << 20): DataFrame =
    knnJoin(TwoLevel(h, nprobeCoarse, maxCenterBroadcastBytes), embCol, idCol,
      queries, qIdCol, qEmbCol, topK, nprobe, excludeSelf)

  /** The one join body: the batched probe ranking, then the scoring
    * tail — equi-join the (query, probed cluster) pairs with the
    * assignment ([[scoreProbes]]), cut per query with the bounded
    * top-k aggregate. */
  private def knnJoin(r: Ranking, embCol: String, idCol: String,
      queries: DataFrame, qIdCol: String, qEmbCol: String, topK: Int,
      nprobe: Int, excludeSelf: Boolean): DataFrame = {
    require(qIdCol != "cluster" && qEmbCol != "cluster",
      "knnJoin: query columns may not be named 'cluster'")
    val q = queries.select(col(qIdCol), col(qEmbCol))
    val scored = scoreProbes(r.index,
      probesRanked(r, q, qIdCol, qEmbCol, nprobe).drop("__graft_pr"),
      q, embCol, qIdCol, qEmbCol)
    val kept =
      if (excludeSelf) scored.filter(col(idCol) =!= col(qIdCol)) else scored
    kept
      .groupBy(col(qIdCol))
      .agg(BoundedTopK.top_k_by(
        col("__graft_score"), col(idCol), topK).as("__graft_nn"))
      .select(col(qIdCol), posexplode(col("__graft_nn")).as(Seq("__graft_pos", "__graft_s")))
      .select(col(qIdCol),
        col("__graft_s.id").as(idCol),
        col("__graft_s.ord").as("score"),
        (col("__graft_pos") + 1).as("rk"))
  }

  /** Every row of every probed cluster, with the query vector and its
    * exact cosine `__graft_score`. The probe ids ride the LongType
    * BoundedTopK struct but cluster ids are ints (argmax over k
    * centers) — cast the SMALL probe side so the assignment side keys
    * on the bare partition column: the equi-join and its DPP pruning
    * key then align castless on the scan, whether the assignment is
    * in-memory or the loaded partitionBy(cluster) artifact (whose
    * directory values infer int). */
  private def scoreProbes(index: IvfIndex, probes: DataFrame, q: DataFrame,
      embCol: String, qIdCol: String, qEmbCol: String): DataFrame = {
    val withVec = probes.join(q, qIdCol) // carry the query vector
    withVec.join(index.assigned,
        withVec("__graft_probe").cast("int") === index.assigned("cluster"))
      .withColumn("__graft_score", cosine_sim(col(embCol), col(qEmbCol)))
  }

  // ---- the nprobe tuner ----

  /** Measure-then-choose the production `nprobe` for THIS corpus:
    * recall-vs-nprobe is a property of the data (an isotropic corpus
    * needs most of k probed for high recall; a clustered one needs a
    * handful), so a deployment should never copy another corpus's
    * setting — it should measure on a bounded query sample and pin
    * what the measurement says.
    *
    * Mechanics: exact top-k per sampled query via [[knnJoinIvf]] at
    * nprobe=k (the oracle-able exhaustive construction), then a binary
    * search over nprobe — valid because recall is MONOTONE in nprobe:
    * probed-cluster sets grow superset-wise as nprobe grows and both
    * stages rank by the same exact float score, so a true neighbor
    * once in the candidate set never leaves the approximate top-k.
    * Each recall evaluation is one batched join + one scalar aggregate
    * over |sample|·topK pairs; the whole tune is O(log k) Spark jobs
    * over a driver-bounded sample — nothing data-sized leaves the
    * executors. Returns (smallest nprobe whose mean recall@topK on the
    * sample >= targetRecall, that measured recall); returns (k, recall
    * at k = 1.0) if even k-1 misses the target. Tune on the float
    * path; the SQ8/PQ first stages rank inside the same probed set, so
    * their recall at a given nprobe tracks this measurement with
    * `rescore` as the remaining knob. */
  def tuneNprobe(index: IvfIndex, embCol: String, idCol: String,
      queries: DataFrame, qIdCol: String, qVecCol: String,
      topK: Int = 20, targetRecall: Double = 0.9,
      maxSample: Int = 200): (Int, Double) = {
    val Seq((_, np, rec)) = tuneNprobeFrontier(index, embCol, idCol,
      queries, qIdCol, qVecCol, topK, Seq(targetRecall), maxSample)
    (np, rec)
  }

  /** [[tuneNprobe]] for a WHOLE frontier of recall targets in one
    * pass: the exhaustive nprobe=k reference — by far the most
    * expensive plan in the tune — is built and persisted ONCE, and
    * every recall measurement is memoized by nprobe, so the per-target
    * binary searches share measurements (recall at a probed nprobe is
    * a property of (corpus, panel, nprobe), not of the target asking).
    * Tuning T targets costs one exact build + at most T·log k joins
    * MINUS the cache hits, vs T exact builds for T separate
    * [[tuneNprobe]] calls (the r13 verdict's most expensive bench
    * entry rebuilt the identical reference three times). recall(k) is
    * 1.0 by construction — the approximate plan AT nprobe=k IS the
    * reference — so the search never measures the top endpoint.
    * Returns one (target, nprobe, recall) row per input target, input
    * order preserved. For k ≤ [[AllLevelsMax]] every level is measured
    * in one action instead (see [[tuneFrontier]]). */
  def tuneNprobeFrontier(index: IvfIndex, embCol: String, idCol: String,
      queries: DataFrame, qIdCol: String, qVecCol: String,
      topK: Int, targets: Seq[Double],
      maxSample: Int = 200): Seq[(Double, Int, Double)] =
    tuneFrontier(Flat(index), index.centers.length, None, embCol, idCol,
      queries, qIdCol, qVecCol, topK, targets, maxSample)

  /** [[tuneNprobeFrontier]] for hierarchical indexes at SemDeDup-scale
    * k, where the flat tuner's exhaustive-reference join (|Q|·k
    * ranking rows) is exactly the stage the hierarchy exists to avoid.
    *
    * The coarse cut is FIXED at `nprobeCoarse` and only `nprobe` is
    * tuned within it: with the cell set pinned, the probed-cluster
    * pool is constant (nprobeCoarse·k2 clusters) and take(nprobe)
    * grows superset-wise — recall is monotone and the binary search
    * valid. (Tuning both knobs at once breaks monotonicity: growing
    * nprobe can swap the coarse cut's cluster ranking pool.) The
    * recall reference is TRUE exact — nprobeCoarse=k1, nprobe=k — and
    * builds once for all targets; recall measurements memoize by
    * nprobe across the per-target searches. Per target: the smallest
    * nprobe meeting it, or, if even the full fixed cut misses it,
    * (cutMax, recall(cutMax)) — the caller's signal to raise
    * `nprobeCoarse`, the knob this tuner deliberately doesn't touch. */
  def tuneNprobeHierFrontier(h: HierIvf, embCol: String, idCol: String,
      queries: DataFrame, qIdCol: String, qVecCol: String,
      nprobeCoarse: Int, topK: Int, targets: Seq[Double],
      maxSample: Int = 200): Seq[(Double, Int, Double)] =
    tuneFrontier(TwoLevel(h, nprobeCoarse),
      math.min(h.index.centers.length, nprobeCoarse * h.k2),
      Some(TwoLevel(h, h.k1)), embCol, idCol, queries, qIdCol, qVecCol, topK,
      targets, maxSample)

  /** Past this probe-pool size the all-levels tuner evaluation (one
    * row per candidate per level ≥ its probe rank — ~cut/2 amplification
    * of the exhaustive reference) would out-cost the binary search it
    * replaces; below it, ONE windowed action replaces the reference
    * build + one join+count action per binary-search step. */
  private val AllLevelsMax = 64

  /** The one tuner body: the smallest nprobe in 1..cutMax of ranking
    * `r` whose recall@topK meets each target, else (cutMax,
    * recall(cutMax)).
    *
    * The query sample is PINNED on the driver (bounded by maxSample,
    * by design): a bare limit(maxSample) has no defined row set, so a
    * lost cached block recomputed mid-tune could select DIFFERENT rows
    * — exact and approx recall would then be measured over disjoint
    * query panels (r12 review). A LocalRelation recomputes to itself,
    * always. Internal column names keep a corpus-as-queries call
    * (qIdCol == idCol) from producing an ambiguous two-column result.
    *
    * The recall reference is `exactBy` at its full width (the hier
    * tuner's TRUE-exact frame, which spans the whole index, not the
    * fixed coarse cut the levels probe), or — when None — the top
    * level of `r` itself, whose recall is then 1.0 by construction and
    * seeded, never measured. Recall per level comes from:
    *  - cutMax ≤ [[AllLevelsMax]]: ONE windowed action
    *    ([[hitsByLevel]]) over the full probe ranking;
    *  - otherwise: a memoized binary search, one join+count per
    *    probed level, sharing measurements across targets.
    * Both choose the same nprobe: recall is monotone in nprobe
    * (level-n candidate sets grow superset-wise under a total order),
    * so the binary search's answer is the smallest level meeting the
    * target. */
  private def tuneFrontier(r: Ranking, cutMax: Int, exactBy: Option[Ranking],
      embCol: String, idCol: String, queries: DataFrame, qIdCol: String,
      qVecCol: String, topK: Int, targets: Seq[Double],
      maxSample: Int): Seq[(Double, Int, Double)] = {
    require(targets.nonEmpty, "tuneNprobeFrontier: no targets")
    val sampled = queries
      .select(col(qIdCol).as("__tune_qid"), col(qVecCol).as("__tune_qvec"))
      .limit(maxSample)
    val spark = queries.sparkSession
    val sample = spark.createDataFrame(
      java.util.Arrays.asList(sampled.collect(): _*), sampled.schema)
    val nq = sample.count().toDouble
    require(nq > 0, "tuneNprobe: empty query sample")
    def topKAt(rr: Ranking, nprobe: Int): DataFrame =
      knnJoin(rr, embCol, idCol, sample, "__tune_qid", "__tune_qvec", topK,
          nprobe, excludeSelf = false)
        .select(col("__tune_qid").as("__tq"), col(idCol).as("__tid"))
    val allLevels = cutMax <= AllLevelsMax
    val ref = exactBy.map(e => topKAt(e, e.index.centers.length))
      .orElse(if (allLevels) None else Some(topKAt(r, cutMax)))
    ref.foreach(_.persist(StorageLevel.MEMORY_AND_DISK))
    try {
      val recallAt: Int => Double =
        if (allLevels) {
          // the full probe ranking (the same |Q|·k map-side cosine
          // stage the exhaustive reference pays anyway), then every
          // level's recall from one windowed action
          val hits = hitsByLevel(r.index,
            probesRanked(r, sample, "__tune_qid", "__tune_qvec", cutMax),
            sample, embCol, idCol, topK, cutMax, ref)
          n => hits.getOrElse(n, 0L).toDouble / (nq * topK)
        } else {
          val cache = scala.collection.mutable.Map.empty[Int, Double]
          if (exactBy.isEmpty) cache(cutMax) = 1.0
          n => cache.getOrElseUpdate(n,
            ref.get.join(topKAt(r, n), Seq("__tq", "__tid")).count().toDouble /
              (nq * topK))
        }
      targets.map { target =>
        val recMax = recallAt(cutMax)
        if (recMax < target) (target, cutMax, recMax)
        else {
          var lo = 1; var hi = cutMax // invariant: recall(hi) >= target
          var recHi = recMax
          val recLo = recallAt(lo)
          if (recLo >= target) (target, lo, recLo)
          else {
            while (hi - lo > 1) {
              val mid = lo + (hi - lo) / 2
              val rec = recallAt(mid)
              if (rec >= target) { hi = mid; recHi = rec }
              else lo = mid
            }
            (target, hi, recHi)
          }
        }
      }
    } finally ref.foreach(_.unpersist())
  }

  /** Per-level hit counts for the all-levels tuner path, ONE action:
    * `probesRanked` is (__tune_qid, __graft_probe, __graft_pr) — the
    * FULL probe ranking (rank 1 = best) whose prefix of length n is,
    * by [[BoundedTopK]]'s total order (ord DESC, id ASC), exactly the
    * probe set a knnJoin at nprobe=n would use. A candidate row in the
    * cluster ranked pr participates in every level n ≥ pr, so
    * per-level top-k is one explode + one row_number window under the
    * SAME total order (score DESC, id ASC) the bounded top-k aggregate
    * applies — making level n's top-k bit-identical to the knnJoin's.
    * Hits are counted against `exactRef` (__tq, __tid), or when None
    * against level maxLevel (the exhaustive reference — identical to
    * the separate exact build the binary search uses), where
    * hits(maxLevel) = nq·topK exactly: the reference intersected with
    * itself. Returns n -> hits(n). */
  private def hitsByLevel(index: IvfIndex, probesRanked: DataFrame,
      q: DataFrame, embCol: String, idCol: String, topK: Int, maxLevel: Int,
      exactRef: Option[DataFrame]): Map[Int, Long] = {
    import org.apache.spark.sql.expressions.Window
    val lev = scoreProbes(index, probesRanked, q, embCol, "__tune_qid", "__tune_qvec")
      .select(col("__tune_qid"), col(idCol), col("__graft_score"), col("__graft_pr"))
      .withColumn("__graft_n", explode(sequence(col("__graft_pr"), lit(maxLevel))))
    val w = Window.partitionBy(col("__graft_n"), col("__tune_qid"))
      .orderBy(col("__graft_score").desc, col(idCol).asc)
    val top = lev.withColumn("__graft_rk", row_number().over(w))
      .filter(col("__graft_rk") <= topK)
      .select(col("__graft_n"), col("__tune_qid"), col(idCol))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val exact = exactRef.getOrElse(top.filter(col("__graft_n") === maxLevel)
        .select(col("__tune_qid").as("__tq"), col(idCol).as("__tid")))
      top.join(exact, top("__tune_qid") === col("__tq") &&
          top(idCol) === col("__tid"))
        .groupBy("__graft_n").count()
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    } finally top.unpersist()
  }

  /** Two-pass assignment of NEW rows under a FROZEN hierarchical
    * index — the exact assignment function the build used (coarse
    * argmax over k1 cells, then argmax over that cell's k2
    * sub-centers), at O((k1+k2)·d) per row. Appending to a hier index
    * through the flat [[assignByCosine]] would be wrong twice over: the
    * flat argmax over all k is the O(k·d) non-starter at
    * SemDeDup-scale k, AND it is a DIFFERENT function from the
    * build's two-pass routing (a row near a cell boundary can flat-
    * argmax into a cluster the two-pass build would never give it),
    * so appended rows would not land where a rebuild with these
    * centers puts them. */
  def assignByCosineHier(newRows: DataFrame, embCol: String,
      h: HierIvf): DataFrame = {
    val subCenters = Array.tabulate(h.k1)(c =>
      Array.tabulate(h.k2)(j => h.index.centers(c * h.k2 + j)))
    require(!newRows.columns.contains(CellCol),
      s"assignByCosineHier: input collides with reserved column $CellCol")
    newRows
      .withColumn(CellCol, graft.functions.argmax_cosine(col(embCol), h.coarse))
      .withColumn("cluster",
        graft.functions.argmax_cosine_cell(col(embCol), col(CellCol), subCenters))
      .drop(CellCol)
  }

  /** Incremental index maintenance — the one append path (batch,
    * stream and idempotent appends, flat or hierarchical): assign NEW
    * rows with the index shape's own assignment under its FROZEN
    * centers ([[IvfShape.assign]]) and append them to the persisted
    * partitioned layout — the update path of build-once/search-many.
    * Assignment with frozen centers is a pure function of the row (the
    * same codegen'd argmax scan as the original build), so appended
    * rows land in exactly the cluster a full rebuild with these
    * centers would give them, and a reloaded index immediately serves
    * old+new rows through the same directory-level pruning. Center
    * drift is handled by periodic re-fit + rewrite, the standard IVF
    * deployment cadence — appends never mutate existing files.
    *
    * Guarded by a loud schema check — appending rows
    * whose columns differ from the persisted layout (e.g. an index
    * carrying withSq8/withPq code columns the new rows lack) would
    * write a MIXED-schema directory that later reads resolve
    * arbitrarily; derive the code columns on newRows first (sq8Code /
    * pq_encode) if the index has them. Name AND type: a same-named
    * column with a drifted type (vec_id int vs long, embedding
    * float[] vs double[]) writes files later reads can only merge by
    * widening or failing — exactly the corruption this guard exists
    * to refuse. */
  def appendToIvf(ix: IvfShape, newRows: DataFrame, embCol: String,
      path: String): Unit = {
    val assigned = ix.assign(newRows, embCol)
    def sig(df: DataFrame) =
      df.schema.fields.map(f => (f.name, f.dataType)).sortBy(_._1)
    require(sig(assigned).sameElements(sig(ix.index.assigned)),
      s"appendToIvf: appended schema ${sig(assigned).map { case (n, t) => s"$n:${t.simpleString}" }.mkString(",")} " +
        s"!= index schema ${sig(ix.index.assigned).map { case (n, t) => s"$n:${t.simpleString}" }.mkString(",")}; " +
        "derive any code columns (sq8/pq) and match column types on the new rows before appending")
    // append/compaction protocol (see [[compactIvf]]): announce the
    // append with an inflight marker FIRST, then check the compaction
    // lock — the marker being visible before the lock check means a
    // compactor that this appender failed to see (lock created a beat
    // later) is guaranteed to see the marker at its pre-swap checks
    // and abort. Marker removed in finally; a crash leaves a stale
    // marker that repairIvf clears under its staleness gate.
    val spark = assigned.sparkSession
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = new org.apache.hadoop.fs.Path(inflightDirPath(path),
      java.util.UUID.randomUUID().toString)
    fs.mkdirs(inflightDirPath(path))
    fs.create(marker, /* overwrite = */ false).close()
    try {
      if (fs.exists(layoutLockPath(path)))
        throw new CompactionInFlightException(
          s"appendToIvf: a compaction holds ${layoutLockPath(path)} — an append " +
            "landing mid-rewrite would exist only in the doomed old layout; " +
            "retry after the compaction (idempotent-batch callers replay automatically)")
      assigned.write.mode("append").partitionBy("cluster").parquet(s"$path/assigned")
    } finally fs.delete(marker, false)
  }

  /** The opt-in token that makes [[onceBatch]] honor pre-runToken
    * flat-layout markers (`_applied_batches/<batchId>`). Pass it as
    * `runToken` ONLY when resuming the single pre-upgrade run that
    * wrote those markers; new runs must use a fresh token (flat
    * markers are then ignored, so a new run's batch 0 can never be
    * swallowed by a marker from an unrelated earlier run). */
  val legacyCompatToken: String = "legacy-flat"

  /** Applied-batch marker guard shared by every idempotent
    * foreachBatch sink: run `body` unless `<path>/_applied_batches/
    * <runToken>/<batchId>` exists; the marker commits AFTER the body
    * via a no-overwrite create, so on stores with atomic
    * create-if-absent (HDFS namenode) two racing writers — a zombie
    * driver and its replacement executing the same micro-batch —
    * cannot both claim the batch silently: the loser's create throws
    * and is reported. On stores without it (S3A's HEAD-then-PUT, the
    * local FS) the guard is best-effort against races but still exact
    * against the common case, sequential retries. Any OTHER marker-
    * write failure propagates and fails the query loudly — swallowing
    * it would leave the batch unmarked and let a later replay
    * double-append silently. Returns true if body ran and this writer
    * won the marker. */
  def onceBatch(spark: SparkSession, path: String, batchId: Long,
      runToken: String)(body: => Unit): Boolean = {
    val conf = spark.sparkContext.hadoopConfiguration
    val markerDir = new org.apache.hadoop.fs.Path(s"$path/_applied_batches/$runToken")
    val marker = new org.apache.hadoop.fs.Path(markerDir, batchId.toString)
    // Pre-runToken layouts put markers directly under _applied_batches.
    // Honoring them for EVERY token would be silent data loss: a brand-
    // new run's batchIds restart at 0 and would be skipped wherever
    // they collide with an unrelated earlier run's flat markers —
    // at-least-once turning into at-most-once across runs (ADVICE
    // r11). So flat markers are consulted ONLY when the caller
    // explicitly resumes a pre-upgrade run by passing
    // [[legacyCompatToken]]; any other token ignores them. Before
    // starting new-layout runs against a pre-upgrade index path, prune
    // the flat markers ([[pruneAppliedMarkers]]) or keep using the
    // compat token for the remainder of that run's lifetime.
    val legacy = new org.apache.hadoop.fs.Path(
      s"$path/_applied_batches", batchId.toString)
    val fs = marker.getFileSystem(conf)
    val legacyApplied = runToken == legacyCompatToken &&
      fs.exists(legacy) && fs.getFileStatus(legacy).isFile
    if (fs.exists(marker) || legacyApplied) {
      System.err.println(
        s"[onceBatch] batch $batchId (run $runToken) already applied at $path — skipping retry")
      false
    } else {
      body
      fs.mkdirs(markerDir)
      try {
        fs.create(marker, /* overwrite = */ false).close()
        true
      } catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException =>
          // a concurrent writer won the check-then-act race; its body
          // also ran (the non-transactional window) — surface loudly
          System.err.println(
            s"[onceBatch] batch $batchId (run $runToken) raced a concurrent writer at $path — " +
              "both bodies executed; dedup on an id column at read time")
          false
      }
    }
  }

  /** The idempotent foreachBatch shell for streaming sinks: the
    * [[onceBatch]] marker guard around the caller's per-batch body
    * (an [[appendToIvf]] or a [[knnJoinIvf]] append; the streaming
    * gate entries replay through it). Deliberately `foreachBatch` +
    * batch append rather than the streaming parquet sink: the
    * streaming sink would plant a `_spark_metadata` commit log in the
    * target directory, after which readers of the directory see ONLY
    * the sink's files and an index's original rows silently vanish.
    *
    * Idempotence under at-least-once retries: an applied-batchId
    * marker (`_applied_batches/<runToken>/<batchId>`, outside the
    * data's read path) is checked inside the foreachBatch — a retried
    * micro-batch whose append already committed is skipped instead of
    * double-appending rows that would distort every later top-k. The
    * marker commits AFTER the body, so the remaining at-least-once
    * window is a crash BETWEEN append and marker write (the same
    * window any non-transactional sink has); callers needing
    * exact-once under that window dedup on an id column at read time.
    *
    * `runToken` SCOPES the markers: batchIds restart at 0 for any
    * query started on a fresh (or default temp) checkpoint, so
    * batchId-only markers would make a SECOND run against the same
    * path silently skip all its data — at-least-once would become
    * at-most-once across runs. The empty token generates a fresh UUID
    * per writer, which dedups retries WITHIN the run and never
    * collides across runs; callers who restart from a durable
    * checkpoint and want retry-dedup across JVM restarts pass the
    * same token they pair with that checkpoint. Caller starts the
    * writer. */
  def idempotentForeachBatch(stream: DataFrame, path: String,
      runToken: String)(body: DataFrame => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val token =
      if (runToken.nonEmpty) runToken
      else java.util.UUID.randomUUID().toString
    stream.writeStream.foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        onceBatch(batch.sparkSession, path, batchId, token) { body(batch) }
        ()
    }
  }

  /** One idempotent [[appendToIvf]] micro-batch, the body
    * [[idempotentForeachBatch]] runs for a streamed append, exposed so
    * the retry semantics are directly testable: append unless this
    * (runToken, batchId) marker already exists. Returns true if the
    * batch was appended, false if it was recognized as an
    * already-applied retry. */
  def appendBatchIdempotent(ix: IvfShape, batch: DataFrame,
      embCol: String, path: String, batchId: Long,
      runToken: String = "run-0"): Boolean =
    onceBatch(batch.sparkSession, path, batchId, runToken) {
      appendToIvf(ix, batch, embCol, path)
    }

  /** Compact an appended index layout. Every [[appendToIvf]] adds at
    * least one file per touched cluster directory, so at streaming
    * cadence the layout degrades into the classic small-files problem:
    * a search opening a probed cluster pays per-file open/footer cost
    * F times over. Rewriting with `repartition(col("cluster"))` puts
    * each cluster's rows in exactly one task → ONE file per cluster
    * directory, restoring the original build's read profile; appended
    * rows keep their frozen-center assignment, so content is
    * byte-identical (the ann_compact_search gate entry hash-proves
    * it).
    *
    * The swap is write-to-temp then two renames (live → old, temp →
    * live): readers racing the swap see either the old or the new
    * layout, never a partial rewrite; a crash between the renames
    * leaves `assigned_old` beside a missing `assigned` — recoverable
    * by hand, and the temp write itself is fully materialized before
    * anything is touched. Applied-batch markers live outside
    * `assigned` and survive compaction.
    *
    * WRITERS must be quiesced for the compaction window: the rewrite
    * reads a SNAPSHOT of the layout, so an append landing mid-rewrite
    * exists only in the doomed old copy (and its surviving batch
    * marker would stop the checkpoint replay from restoring it —
    * permanent loss). The file listing is re-checked after the
    * rewrite and the compaction ABORTS loudly, swapping nothing, if
    * the layout changed; a tiny list-to-rename window remains, so the
    * check is a tripwire for un-quiesced deployments, not a
    * substitute for quiescing.
    *
    * Round 12 upgraded the tripwire into an ENFORCED protocol (the
    * seqlock shape): compaction holds `_layout_lock` (atomic
    * no-overwrite create — a second compactor fails loudly instead of
    * corrupting the staged swap), and every append announces itself
    * with an `_appends_inflight/<uuid>` marker created BEFORE it
    * checks the lock and removed after its files land. An append that
    * sees the lock aborts with [[CompactionInFlightException]]
    * (retryable — the idempotent-batch scaffold replays it); an append
    * the compactor could miss is therefore impossible: if the appender
    * passed its lock check before the lock existed, its marker is
    * already visible, and the compactor both DRAINS inflight markers
    * before reading the snapshot and re-checks markers + the file
    * listing immediately before the swap, aborting (nothing swapped)
    * if either changed. A crashed compactor leaves a stale lock;
    * [[repairIvf]] clears it under the same staleness gate it applies
    * to a crashed rewrite. */
  final class CompactionInFlightException(msg: String)
      extends IllegalStateException(msg)

  private def layoutLockPath(path: String) =
    new org.apache.hadoop.fs.Path(s"$path/_layout_lock")
  private def inflightDirPath(path: String) =
    new org.apache.hadoop.fs.Path(s"$path/_appends_inflight")

  private def listInflight(fs: org.apache.hadoop.fs.FileSystem,
      path: String): Seq[org.apache.hadoop.fs.FileStatus] = {
    val dir = inflightDirPath(path)
    if (fs.exists(dir)) fs.listStatus(dir).toSeq else Seq.empty
  }

  def compactIvf(spark: SparkSession, path: String,
      maxRecordsPerFile: Long = 0L, appendDrainMs: Long = 30000L): Unit = {
    import org.apache.spark.sql.functions.col
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val live = new org.apache.hadoop.fs.Path(s"$path/assigned")
    val tmp = new org.apache.hadoop.fs.Path(s"$path/assigned_compacting")
    val old = new org.apache.hadoop.fs.Path(s"$path/assigned_old")
    val lock = layoutLockPath(path)
    // one compactor at a time: atomic create-if-absent, held for the
    // whole rewrite+swap, released in finally. A pre-existing lock is
    // either a live compaction (caller bug) or a crashed one
    // (repairIvf clears it) — refuse both loudly.
    try fs.create(lock, /* overwrite = */ false).close()
    catch {
      case _: org.apache.hadoop.fs.FileAlreadyExistsException |
          _: java.io.IOException if fs.exists(lock) =>
        throw new IllegalStateException(
          s"compactIvf: $lock exists — another compaction is live, or a " +
            "crashed one left its lock (run repairIvf to clear)")
    }
    try {
      // drain appends that passed their lock check before the lock
      // landed: their inflight markers are visible by construction
      // (marker precedes lock check precedes write)
      val deadline = System.currentTimeMillis() + appendDrainMs
      while (listInflight(fs, path).nonEmpty) {
        if (System.currentTimeMillis() > deadline)
          throw new IllegalStateException(
            s"compactIvf: appends still inflight after ${appendDrainMs} ms " +
              s"(${listInflight(fs, path).map(_.getPath.getName).mkString(",")}) — " +
              "a crashed appender leaves a stale marker; run repairIvf to clear")
        Thread.sleep(50L)
      }
      def layoutFingerprint(): Seq[(String, Long)] = {
        val it = fs.listFiles(live, /* recursive = */ true)
        val b = Seq.newBuilder[(String, Long)]
        while (it.hasNext) {
          val st = it.next()
          b += ((st.getPath.toString, st.getLen))
        }
        b.result().sortBy(_._1)
      }
      val beforeLayout = layoutFingerprint()
      // repartition(cluster) puts each cluster WHOLLY in one task — the
      // one-file-per-directory guarantee — but at small k over a huge
      // corpus a single cluster is terabytes; `maxRecordsPerFile` re-
      // splits such a task's output into bounded files (still one TASK'S
      // contiguous write, so the directory stays compact: ceil(rows/max)
      // files, not one per historical append)
      val writer = spark.read.parquet(live.toString)
        .repartition(col("cluster"))
        .write.mode("overwrite")
      (if (maxRecordsPerFile > 0L)
         writer.option("maxRecordsPerFile", maxRecordsPerFile)
       else writer)
        .partitionBy("cluster").parquet(tmp.toString)
      // final check immediately before the swap: any append that wrote
      // files shows in the fingerprint; any append between lock-check
      // and first file still holds its marker. Either → abort, swap
      // nothing (the appends are safe in the live layout).
      if (layoutFingerprint() != beforeLayout || listInflight(fs, path).nonEmpty) {
        fs.delete(tmp, true)
        throw new CompactionInFlightException(
          s"compactIvf: $live changed during the rewrite (concurrent appends) — " +
            "nothing was swapped; the appended rows are intact in the live layout; retry")
      }
      fs.delete(old, true)
      require(fs.rename(live, old), s"compactIvf: could not stage $live aside")
      require(fs.rename(tmp, live), s"compactIvf: could not swap $tmp in")
      fs.delete(old, true)
    } finally fs.delete(lock, false)
  }

  /** Recover an index layout from a compaction crash: a death between
    * [[compactIvf]]'s two renames leaves `assigned_old` staged beside
    * a missing `assigned`. Restores the staged copy (the pre-compact
    * layout — nothing was lost, the swap just never completed) and
    * clears any half-written `assigned_compacting`. Returns true if a
    * repair was performed, false if the layout was already healthy.
    *
    * Crashed-versus-LIVE compaction (ADVICE r11): a healthy `assigned`
    * next to an `assigned_compacting` tree that was modified within
    * `tmpStaleMs` looks exactly like a compaction mid-write — deleting
    * it would destroy the rewrite under the live operator, which then
    * fails confusingly at its missing tmp path. Repair REFUSES that
    * case; quiesce the compactor (or wait out the staleness window,
    * or pass `tmpStaleMs = 0` when provably nothing runs) and retry.
    * A missing `assigned` is always safe to act on — the compactor
    * only removes it inside the rename sequence, after tmp is fully
    * written. */
  def repairIvf(spark: SparkSession, path: String,
      tmpStaleMs: Long = 10 * 60 * 1000L): Boolean = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val live = new org.apache.hadoop.fs.Path(s"$path/assigned")
    val tmp = new org.apache.hadoop.fs.Path(s"$path/assigned_compacting")
    val old = new org.apache.hadoop.fs.Path(s"$path/assigned_old")
    // the missing-`assigned` restore runs FIRST, before any staleness
    // gate (r12 review): a compactor kill-9'd between its two renames
    // leaves a FRESH lock and tmp next to the missing live dir, and
    // gating the restore on their age would keep the index unreadable
    // for tmpStaleMs despite the scaladoc's "a missing `assigned` is
    // always safe to act on" (live goes missing only inside the rename
    // sequence — a compactor still alive in that sub-ms window and
    // surviving to finish is not a scenario a human-run repair races).
    val restored =
      if (!fs.exists(live) && fs.exists(old)) {
        require(fs.rename(old, live),
          s"repairIvf: could not restore $old to $live")
        // the crash that stranded `old` also stranded its lock and tmp
        fs.delete(tmp, true)
        fs.delete(layoutLockPath(path), false)
        true
      } else false
    if (fs.exists(live) && fs.exists(tmp)) {
      def newestMtime(p: org.apache.hadoop.fs.Path): Long = {
        var newest = fs.getFileStatus(p).getModificationTime
        val it = fs.listFiles(p, /* recursive = */ true)
        while (it.hasNext) newest = math.max(newest, it.next().getModificationTime)
        newest
      }
      val age = System.currentTimeMillis() - newestMtime(tmp)
      if (age < tmpStaleMs) throw new IllegalStateException(
        s"repairIvf: $tmp was modified ${age} ms ago — a compaction may be " +
          "live; quiesce compactIvf before repairing (or pass tmpStaleMs=0 " +
          "if nothing can be running)")
    }
    fs.delete(tmp, true)
    // a crashed compactor's lock and a crashed appender's inflight
    // markers would block every future append (lock) or compaction
    // (drain timeout) forever — clear them under the SAME staleness
    // gate: anything modified within tmpStaleMs may belong to a live
    // operator and is refused, not deleted.
    val now = System.currentTimeMillis()
    val lock = layoutLockPath(path)
    if (fs.exists(lock)) {
      val age = now - fs.getFileStatus(lock).getModificationTime
      if (age < tmpStaleMs) throw new IllegalStateException(
        s"repairIvf: $lock was created ${age} ms ago — a compaction may be " +
          "live; quiesce compactIvf before repairing (or pass tmpStaleMs=0)")
      fs.delete(lock, false)
    }
    listInflight(fs, path).foreach { st =>
      if (now - st.getModificationTime >= tmpStaleMs)
        fs.delete(st.getPath, false)
    }
    restored
  }

  /** Housekeeping for the run-scoped applied-batch markers: every
    * streaming run leaves one `_applied_batches/<runToken>/` tree, and
    * markers for long-dead runs serve no retry again. Deletes every
    * token directory NOT in `keepTokens` (pass the tokens of runs
    * whose checkpoints still exist). */
  def pruneAppliedMarkers(spark: SparkSession, path: String,
      keepTokens: Set[String]): Unit = {
    val root = new org.apache.hadoop.fs.Path(s"$path/_applied_batches")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(root)) {
      fs.listStatus(root).foreach { st =>
        if (st.isDirectory && !keepTokens.contains(st.getPath.getName))
          fs.delete(st.getPath, true)
      }
    }
  }

  /** Persist a hierarchical index: the flat artifact ([[persistIvf]] —
    * assignment `partitionBy(cluster)` + flat centers) plus the coarse
    * centers and level shape as tiny sidecars, so a reloaded index
    * supports the two-level probes ([[searchIvfHier]] with any
    * [[Codes]], [[knnJoinIvfHier]]) exactly like the in-memory build. The fit
    * diagnostics (sampleTarget, measured Lloyd cost) persist too —
    * they are provenance a 100-TB deployment wants auditable. */
  def persistIvfHier(h: HierIvf, path: String): Unit = {
    persistIvf(h.index, path)
    val spark = h.index.assigned.sparkSession
    import spark.implicits._
    h.coarse.toIndexedSeq.zipWithIndex
      .map { case (c, i) => (i, c.toIndexedSeq) }
      .toDF("cell", "center")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/coarse")
    Seq((h.k1, h.k2, h.sampleTarget, h.subLloydDistComps))
      .toDF("k1", "k2", "sample_target", "sub_lloyd_dist_comps")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/hier_meta")
  }

  def loadIvfHier(spark: SparkSession, path: String): HierIvf = {
    val index = loadIvf(spark, path)
    val coarse = spark.read.parquet(s"$path/coarse")
      .orderBy("cell").collect()
      .map(_.getSeq[Float](1).toArray)
    val m = spark.read.parquet(s"$path/hier_meta").head()
    HierIvf(index, coarse, m.getInt(0), m.getInt(1), m.getLong(2),
      m.getLong(3))
  }
}
