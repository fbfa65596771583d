package graft

import org.apache.spark.sql.functions._

import graft.ops.Scale

class ScaleSpec extends SparkTestBase {
  import spark.implicits._

  test("salted two-phase aggregation equals direct aggregation exactly") {
    // heavily skewed: one hot key with ~90% of rows
    val df = ((1 to 9000).map(i => ("hot", i.toDouble)) ++
      (1 to 1000).map(i => (s"k${i % 50}", i.toDouble))).toDF("k", "v")
    val direct = df.groupBy("k")
      .agg(sum($"v").as("sum_v"), count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
    val salted = Scale.saltedSumCount(df, Seq("k"), "v", buckets = 8)
      .collect().map(r => r.getString(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
    assert(salted.keySet === direct.keySet)
    // counts exact; sums equal (integral doubles sum associatively here)
    salted.foreach { case (k, (s, n)) =>
      assert(n === direct(k)._2)
      assert(math.abs(s - direct(k)._1) < 1e-6)
    }
  }

  test("salted join equals plain inner join") {
    val big = ((1 to 5000).map(_ => "hot") ++ (1 to 500).map(i => s"k$i"))
      .zipWithIndex.toDF("k", "row_id")
    val small = (Seq("hot") ++ (1 to 500).map(i => s"k$i")).zipWithIndex
      .toDF("k", "dim_id")
    val plain = big.join(small, "k").count()
    val salted = Scale.saltedJoin(big, small, "k", buckets = 8).count()
    assert(salted === plain)
  }

  test("bloom prefilter: zero false negatives, selective, probed below the shuffle") {
    val dir = sf("sf0.001")
    val dim = graft.queries.Catalog.table(spark, dir, "customer")
      .filter($"c_mktsegment" === "BUILDING")
      .select($"c_custkey")
    val fact = graft.queries.Catalog.table(spark, dir, "orders")
      .select($"o_orderkey", $"o_custkey")
    val bloom = Scale.bloomKeyFilter(dim, "c_custkey")
    val pre = Scale.bloomPrefilter(fact, "o_custkey", bloom)

    // no false negatives: every fact row whose key IS in the dim set
    // survives the probe — the exactness the semi-join composition
    // stands on
    val dimKeys = dim.collect().map(_.getLong(0)).toSet
    val matching = fact.collect().filter(r => dimKeys.contains(r.getLong(1)))
    val preKeys = pre.select("o_orderkey").collect().map(_.getLong(0)).toSet
    matching.foreach { r =>
      assert(preKeys.contains(r.getLong(0)), s"order ${r.getLong(0)} lost")
    }
    // selective: at 1% fpp the probe drops nearly all non-matching rows
    val full = fact.count(); val kept = pre.count()
    assert(kept < matching.length + math.max(50L, (full * 0.05).toLong),
      s"probe barely filtered: $kept of $full (true matches ${matching.length})")

    // plan shape: under a SHUFFLE join (broadcast disabled) the probe
    // runs in the fact's scan stage, BELOW the exchange — the rows it
    // drops are never shuffled
    val conf = spark.conf
    val prevBroadcast = conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = conf.get("spark.sql.adaptive.enabled")
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.enabled", "false")
      val joined = Scale.bloomPrefilter(fact, "o_custkey", bloom)
        .join(dim, $"o_custkey" === $"c_custkey")
      val plan = joined.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      val lines = plan.linesIterator.toSeq
      val probeIdx = lines.indexWhere(_.contains("might_contain"))
      val exchangeIdx = lines.indexWhere(_.contains("Exchange"))
      assert(probeIdx >= 0, s"no bloom probe in plan:\n${plan.take(2000)}")
      assert(exchangeIdx >= 0 && exchangeIdx < probeIdx,
        s"probe not below the exchange (probe@$probeIdx, exchange@$exchangeIdx):\n${plan.take(3000)}")
    } finally {
      conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
      conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
  }

  test("bloom build past the default 8 MB clamp keeps its computed size") {
    // BloomFilterAggregate Math.min-clamps numBits/numItems to the
    // runtime-filter confs (67108864 bits / 4M items by default);
    // bloomKeyFilter must escape that clamp or its ~9.6-bits/key fpp
    // promise silently dies at 100-TB dim sizes. A tiny fpp makes a
    // small build demand MORE bits than the clamp (1M keys at 1e-20
    // wants ~95.8M bits > 67108864), so the assertion runs in
    // fixture time while proving the exact over-clamp regime.
    val dim = spark.range(1000000L).toDF("k")
    val wantBits = org.apache.spark.util.sketch.BloomFilter
      .optimalNumOfBits(1000000L, 1e-20)
    assert(wantBits > 67108864L, "fixture must exceed the default clamp")
    val prevBits = spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.maxNumBits")
    val bytes = Scale.bloomKeyFilter(dim, "k", fpp = 1e-20)
    val bf = org.apache.spark.util.sketch.BloomFilter
      .readFrom(new java.io.ByteArrayInputStream(bytes))
    assert(bf.bitSize() >= wantBits,
      s"filter clamped: bitSize ${bf.bitSize()} < computed $wantBits")
    // and the caller's conf came back
    assert(spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.maxNumBits")
      === prevBits)
  }

  test("bloomKeyFilter never mutates the parent session's confs, even MID-build") {
    // the old implementation raised the shared session's runtime-filter
    // limits for the build's duration — a concurrent query planning in
    // that window could size ITS optimizer-injected bloom by our
    // inflated limits. The clone-session build must keep the parent
    // conf constant throughout: a poller samples it while the build
    // runs and every sample must equal the pre-build value.
    val bitsKey = "spark.sql.optimizer.runtime.bloomFilter.maxNumBits"
    val itemsKey = "spark.sql.optimizer.runtime.bloomFilter.maxNumItems"
    val beforeBits = spark.conf.get(bitsKey)
    val beforeItems = spark.conf.get(itemsKey)
    val dim = spark.range(2000000L).toDF("k")
    @volatile var done = false
    val samples = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]
    val poller = new Thread(() => {
      while (!done) {
        samples.add((spark.conf.get(bitsKey), spark.conf.get(itemsKey)))
        Thread.sleep(5)
      }
    })
    poller.setDaemon(true)
    poller.start()
    val bytes =
      try Scale.bloomKeyFilter(dim, "k", fpp = 1e-10)
      finally { done = true }
    poller.join(5000)
    assert(!samples.isEmpty, "poller collected no mid-build samples")
    samples.forEach { case (b, i) =>
      assert(b === beforeBits && i === beforeItems,
        s"parent conf mutated mid-build: saw ($b, $i), expected ($beforeBits, $beforeItems)")
    }
    assert(spark.conf.get(bitsKey) === beforeBits
      && spark.conf.get(itemsKey) === beforeItems)
    // and the clone's raised limits genuinely took effect: 2M keys at
    // 1e-10 want ~95.8M bits, past the 67108864-bit default clamp
    val wantBits2 = org.apache.spark.util.sketch.BloomFilter
      .optimalNumOfBits(2000000L, 1e-10)
    assert(wantBits2 > 67108864L)
    val bf2 = org.apache.spark.util.sketch.BloomFilter
      .readFrom(new java.io.ByteArrayInputStream(bytes))
    assert(bf2.bitSize() >= wantBits2,
      s"clone clamp lift failed: ${bf2.bitSize()} < $wantBits2")
  }

  test("keep-bloom scratch paths are unique per build; per-dir blooms have no false negatives") {
    // the old path was keyed math.abs(dir.hashCode) under a shared
    // /tmp — a collision (or Int.MinValue) could serve a bloom built
    // for DIFFERENT data, silently dropping surviving documents
    val p1 = graft.queries.Batch4.bloomScratchPath()
    val p2 = graft.queries.Batch4.bloomScratchPath()
    assert(p1 !== p2, s"scratch path not unique per build: $p1")
    // two dirs build INDEPENDENT blooms...
    val b1 = graft.queries.Batch4.keepBloom(spark, sf("sf0.001"))
    val b2 = graft.queries.Batch4.keepBloom(spark, sf("sf0.01"))
    assert(!java.util.Arrays.equals(b1, b2))
    // ...and each dir's bloom passes EVERY keeper of its own dir (a
    // mismatched bloom would fail this with ~certainty: the sf0.01
    // keep-set is 10x the sf0.001 one)
    for ((dir, bloom) <- Seq(sf("sf0.001") -> b1, sf("sf0.01") -> b2)) {
      val losers = graft.queries.Batch3.ngramPairs(spark, dir)
        .select($"doc_b").distinct()
      val keepers = spark.read.parquet(s"$dir/documents.parquet")
        .select($"doc_id")
        .join(losers, $"doc_id" === $"doc_b", "left_anti")
      val n = keepers.count()
      assert(n > 0 &&
        Scale.bloomPrefilter(keepers, "doc_id", bloom).count() === n,
        s"$dir keep-bloom drops keepers (false negatives)")
    }
  }

  test("approx_distinct_kmv lands within the KMV error envelope of exact distinct") {
    // deterministic fixture + deterministic sketch: a drift here means
    // the estimator or the mix changed, not luck. k=64 gives a ~12.5%
    // standard error (1/sqrt(k)); assert 3 sigma.
    val dir = sf("sf0.01")
    val ev = graft.queries.Catalog.events(spark, dir)
    val exact = ev.groupBy("event_type")
      .agg(countDistinct($"user_id").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val est = graft.queries.Catalog.queries("approx_distinct_kmv")(spark, dir)
      .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(est.keySet === exact.keySet)
    est.foreach { case (k, a) =>
      val e = exact(k)
      assert(math.abs(a - e) / e <= 3.0 / math.sqrt(64.0),
        s"$k: KMV estimate $a vs exact $e outside 3/sqrt(k)")
    }
  }

  test("approx_quantiles_kmv: estimated quantiles land at the right RANK in the exact distribution") {
    // rank-error assertion, not value-error: a sampling quantile's
    // guarantee is on the rank (sd = sqrt(q(1-q)/k)); value error is
    // distribution-dependent and meaningless to bound generically.
    // 5 sigma at k=256: |rank(est) - q| <= 5*sqrt(q(1-q)/256).
    val dir = sf("sf0.01")
    val ev = graft.queries.Catalog.events(spark, dir)
      .select($"event_type", $"value".as[Double])
      .collect().groupBy(_.getString(0))
      .view.mapValues(_.map(_.getDouble(1)).sorted).toMap
    val est = graft.queries.Catalog.queries("approx_quantiles_kmv")(spark, dir)
      .collect().map(r => r.getString(0) ->
        Seq(0.5 -> r.getDouble(2), 0.95 -> r.getDouble(3), 0.99 -> r.getDouble(4)))
      .toMap
    assert(est.keySet === ev.keySet)
    est.foreach { case (g, qs) =>
      val sorted = ev(g)
      qs.foreach { case (q, v) =>
        val rank = sorted.count(_ <= v).toDouble / sorted.length
        val tol = 5.0 * math.sqrt(q * (1 - q) / 256.0)
        assert(math.abs(rank - q) <= tol,
          f"$g p$q: estimate $v sits at rank $rank%.3f (tol ${tol}%.3f)")
      }
    }
  }

  test("approx_distinct (HLL++) lands within 10% of exact distinct") {
    val dir = sf("sf0.01")
    val ev = graft.queries.Catalog.events(spark, dir)
    val exact = ev.groupBy("event_type")
      .agg(countDistinct($"user_id").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val approx = graft.queries.Catalog.queries("approx_distinct")(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(approx.keySet === exact.keySet)
    approx.foreach { case (k, a) =>
      val e = exact(k)
      assert(math.abs(a - e).toDouble / e <= 0.10,
        s"$k: approx $a vs exact $e drifts past 10%")
    }
    // the scale point: the sketch aggregate must partial-aggregate
    // (map-side combine) — the shuffle carries sketches, not keys
    val plan = graft.queries.Catalog.queries("approx_distinct")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_approx_count_distinct"),
      s"expected map-side HLL partial aggregation, got:\n$plan")
  }

  test("approx_quantiles lands within GK rank-error of exact percentiles") {
    val dir = sf("sf0.01")
    val approx = graft.queries.Catalog.queries("approx_quantiles")(spark, dir)
      .collect().map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    val ev = graft.queries.Catalog.events(spark, dir)
    val exact = ev.groupBy("event_type")
      .agg(expr("percentile(value, array(0.5, 0.95))").as("q"))
      .collect().map(r => r.getString(0) -> {
        val q = r.getSeq[Double](1); (q(0), q(1))
      }).toMap
    assert(approx.keySet === exact.keySet)
    // accuracy=10000 → rank error 1e-4; on ~2k rows/group that is
    // sub-rank, but value gaps make exact equality too strict — allow
    // 1% relative drift as the loose envelope
    approx.foreach { case (k, (a50, a95)) =>
      val (e50, e95) = exact(k)
      assert(math.abs(a50 - e50) / math.max(e50, 1e-9) < 0.01, s"$k p50: $a50 vs $e50")
      assert(math.abs(a95 - e95) / math.max(e95, 1e-9) < 0.01, s"$k p95: $a95 vs $e95")
    }
  }

  test("sample_weighted is a pure scan+filter — no shuffle before the cut") {
    val df = graft.queries.Catalog.queries("sample_weighted")(spark, sf("sf0.001"))
    // the only exchange allowed is the final presentation orderBy
    val plan = df.queryExecution.optimizedPlan.toString
    val beforeSort = plan.linesIterator.dropWhile(l => !l.contains("Sort")).mkString("\n")
    assert(!beforeSort.contains("Repartition") && !beforeSort.contains("Aggregate"),
      s"sampling must not shuffle or aggregate:\n$plan")
    // deterministic: two runs select identical documents
    val a = df.collect().map(_.getLong(0)).toSeq
    val b = graft.queries.Catalog.queries("sample_weighted")(spark, sf("sf0.001"))
      .collect().map(_.getLong(0)).toSeq
    assert(a === b)
  }

  test("zorder_key stays inside whole-stage codegen") {
    val df = graft.queries.Catalog.queries("zorder_key")(spark, sf("sf0.001"))
    val rows = df.collect() // finalize the AQE plan (1k rows at sf0.001)
    // `*(n)` marks a WholeStageCodegen span in the final-plan string;
    // the interleave Project must sit inside one
    val plan = df.queryExecution.executedPlan.toString
    assert("""\*\(\d+\) Project""".r.findFirstIn(plan).isDefined,
      s"expected the zkey Project inside a codegen span:\n$plan")
    // Morton property: zkey of (x,y) deinterleaves back to (x,y)
    rows.foreach { r =>
      val (xb, yb, z) = (r.getLong(1), r.getLong(2), r.getLong(3))
      var (x, y, i) = (0L, 0L, 0)
      while (i < 16) {
        x |= ((z >> (2 * i)) & 1L) << i
        y |= ((z >> (2 * i + 1)) & 1L) << i
        i += 1
      }
      assert(x === xb && y === yb, s"zkey $z does not deinterleave to ($xb,$yb)")
    }
  }

  // ---- triangle-distributed blocked self-join (round-12 skew guard) ----

  /** Adversarial fixture: `hot` docs all sharing one blocking key (the
    * boilerplate-opening corpus that melts naive prefix blocking),
    * plus normal small blocks. */
  private def skewedDocs(hot: Int) = (
    (1 to hot).map(i => (i.toLong, "SAME-BLOCK", s"payload $i")) ++
      (1 to 40).map(i => ((10000 + i).toLong, s"blk${i % 10}", s"other $i"))
    ).toDF("doc_id", "block", "text")

  test("blockedSelfJoinPairs: pair set identical to the naive blocked join (skewed corpus)") {
    val docs = skewedDocs(300)
    val naive = docs.select($"block", $"doc_id".as("a"), $"text".as("ta"))
      .join(docs.select($"block", $"doc_id".as("b"), $"text".as("tb")), "block")
      .filter($"a" < $"b")
      .select($"a", $"b", $"ta", $"tb")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3))).toSet
    val guarded = Scale.blockedSelfJoinPairs(docs, "block", "doc_id", cap = 32)
      .select($"doc_id_a", $"doc_id_b", $"text_a", $"text_b")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3))).toSet
    assert(guarded === naive) // exactly once each: Set equality + next test's count
    assert(Scale.blockedSelfJoinPairs(docs, "block", "doc_id", cap = 32).count()
      === naive.size.toLong) // no pair emitted twice before the Set collapse
  }

  test("blockedSelfJoinPairs: per-task candidate pairs bounded on the REAL join input") {
    val cap = 32
    val docs = skewedDocs(400) // naive: one key with 400*399/2 = 79,800 pairs
    val repl = Scale.triangleReplicate(docs, "block", "doc_id",
      Scale.hotBlocks(docs, "block", cap, 64).get)
    // the join key is (block, __lo, __hi); a reducer's candidate count
    // for a key is sideA(key) x sideB(key) = n(key)^2 for a self-join
    val worst = repl.groupBy($"block", $"__lo", $"__hi")
      .agg(count(lit(1)).as("n"))
      .agg(max($"n" * $"n")).collect()(0).getLong(0)
    // per-group expectation: (400/13 rounded) docs on each of lo/hi ->
    // ~2x cap per key; allow 4x slack for hash imbalance. The naive
    // join would put 160,000 candidate products on one key.
    assert(worst <= 4L * (2L * cap) * (2L * cap), s"worst per-task candidates $worst")
    // small blocks degenerate to g=1: exactly one task key, no replication
    val small = repl.filter($"block" =!= "SAME-BLOCK")
    assert(small.count() === 40)
    assert(small.filter($"__lo" =!= 0 || $"__hi" =!= 0).count() === 0)
  }

  test("Σdf² pair miner rides the skew guard: hot shingle splits, bound holds, counts exact") {
    // 13k docs, 10% sharing the boilerplate sentence → two shingles
    // with df = 1300 > the miner's default cap (1024), so the guard's
    // triangle split must actually engage on the REAL join input
    val dir = BoilerplateCorpus.write(spark, 13000)
    val docs = graft.queries.Batch3.shingleDocs(spark, dir)
    val inv = graft.queries.Batch3.shingleInv(docs, None)
    val cap = 1024 // blockedSelfJoinPairs' default, what minePairCounts uses
    val repl = Scale.triangleReplicate(inv, "shash", "doc_id",
      Scale.hotBlocks(inv, "shash", cap, 64).get)
    val perTask = repl.groupBy($"shash", $"__lo", $"__hi")
      .agg(count(lit(1)).as("n"))
    val worst = perTask.agg(max($"n" * $"n")).collect()(0).getLong(0)
    // naive would put 1300² ≈ 1.7M candidates on one key; guarded every
    // task key stays ≤ ~(2·cap)² with 4x hash-imbalance slack
    assert(worst <= 4L * (2L * cap) * (2L * cap),
      s"worst per-task candidates $worst — skew guard not bounding the miner's join")
    assert(perTask.filter($"__hi" > 0).count() > 0,
      "hot shingle did not split — corpus no longer adversarial or guard reverted")
    // exactness at skew: the guarded miner's (doc_a, doc_b, inter)
    // multiset equals the plain self-join's (the DuckDB-oracle shape)
    val naive = inv.select($"doc_id".as("doc_a"), $"shash")
      .join(inv.select($"doc_id".as("doc_b"), $"shash"), "shash")
      .filter($"doc_a" < $"doc_b")
      .groupBy($"doc_a", $"doc_b").agg(count(lit(1)).as("inter"))
    val mined = graft.queries.Batch3.minePairCounts(spark, dir)
      .select($"doc_a", $"doc_b", $"inter")
    assert(mined.count() === naive.count())
    assert(mined.except(naive).count() === 0)
    assert(naive.except(mined).count() === 0)
    // a revert to the plain self-join keeps exactness and, at test
    // scale, timing — only the plan shape betrays it, so pin the
    // guard's triangle markers in BOTH miners' plans
    assert(minedHasGuard(mined), "minePairCounts no longer rides blockedSelfJoinPairs")
    val cosine = graft.queries.Catalog.queries("shingle_cosine_pairs")(spark, dir)
    assert(minedHasGuard(cosine), "shingle_cosine_pairs no longer rides blockedSelfJoinPairs")
  }

  private def minedHasGuard(df: org.apache.spark.sql.DataFrame): Boolean = {
    val p = df.queryExecution.analyzed.toString
    p.contains("__lo") && p.contains("__hi")
  }

  test("pair miner with no hot shingle runs the plain self-join: no triangle, counts exact") {
    // 3,000 docs, 10% sharing the boilerplate sentence: its two
    // shingles have df = 300, under the miner's cap (1024), so the
    // size check must pick the plain self-join
    val dir = BoilerplateCorpus.write(spark, 3000)
    val inv = graft.queries.Batch3.shingleInv(graft.queries.Batch3.shingleDocs(spark, dir), None)
    assert(inv.groupBy("shash").count().agg(max("count")).head().getLong(0) === 300L)
    val mined = graft.queries.Batch3.minePairCounts(spark, dir)
    assert(!minedHasGuard(mined), "no block is hot, yet the miner planned the triangle guard")
    // the naive self-join, with sizes counted from the index rows (not
    // from the carried n_sh the miner groups by)
    val sizes = inv.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val naive = inv.select($"doc_id".as("doc_a"), $"shash")
      .join(inv.select($"doc_id".as("doc_b"), $"shash"), "shash")
      .filter($"doc_a" < $"doc_b")
      .groupBy($"doc_a", $"doc_b").agg(count(lit(1)).as("inter"))
      .join(sizes.select($"doc_id".as("doc_a"), $"n".as("na")), "doc_a")
      .join(sizes.select($"doc_id".as("doc_b"), $"n".as("nb")), "doc_b")
      .select("doc_a", "doc_b", "inter", "na", "nb")
    val got = mined.select("doc_a", "doc_b", "inter", "na", "nb")
    assert(got.dtypes === naive.dtypes)
    assert(got.count() === naive.count())
    assert(got.exceptAll(naive).isEmpty && naive.exceptAll(got).isEmpty)
  }

  test("incrementalKeeps rides the grid guard: hot shingle splits, bound holds, keeps exact") {
    // 30k docs with the boilerplate sentence in every 7th (coprime to
    // the entry's doc_id % 10 shard cut, so the hot shingles exist on
    // BOTH sides): df_shard ≈ 30000/70 ≈ 428, df_base ≈ 9·30000/70 ≈
    // 3857 > the entry's cap (2048) — the plain join would put
    // 428·3857 ≈ 1.65M candidates on ONE reducer key; the grid guard
    // must actually engage on the REAL join input.
    val dir = BoilerplateCorpus.write(spark, 30000, period = 7)
    val docs = graft.queries.Batch3.shingleDocs(spark, dir)
      .select($"doc_id", $"sh")
    val shard = docs.filter($"doc_id" % 10 === 0)
    val base = docs.filter($"doc_id" % 10 =!= 0)
    val cap = 2048 // incrementalKeeps' cap
    val (l2, r2) = Scale.gridReplicate(
      graft.queries.Batch9.incrementalInv(shard, "sid"),
      graft.queries.Batch9.incrementalInv(base, "bid"),
      Seq("shash"), "sid", "bid", cap, 64, None)
    val ln = l2.groupBy($"shash", $"__tl", $"__tr").agg(count(lit(1)).as("n"))
    val rn = r2.groupBy($"shash", $"__tl", $"__tr").agg(count(lit(1)).as("m"))
    val perTask = ln.join(rn, Seq("shash", "__tl", "__tr"))
    val worst = perTask.agg(max($"n" * $"m")).collect()(0).getLong(0)
    assert(worst <= 4L * cap * cap,
      s"worst per-task candidates $worst — grid guard not bounding the incremental join")
    assert(perTask.filter($"__tl" > 0 || $"__tr" > 0).count() > 0,
      "hot shingle did not split — corpus no longer adversarial or guard reverted")
    // exactness at skew: the guarded keep set equals the plain-join
    // derivation (the DuckDB-oracle shape)
    def invOf(d: org.apache.spark.sql.DataFrame, idc: String) =
      d.select($"doc_id".as(idc), explode($"sh").as("s"))
        .select(col(idc), xxhash64($"s").as("shash"))
    val naiveInter = invOf(shard, "sid").join(invOf(base, "bid"), "shash")
      .groupBy("sid", "bid").agg(count(lit(1)).as("inter"))
    val sizes = shard.unionByName(base).select($"doc_id", size($"sh").as("n"))
    val naiveDups = naiveInter
      .join(sizes.select($"doc_id".as("sid"), $"n".as("ns")), "sid")
      .join(sizes.select($"doc_id".as("bid"), $"n".as("nb")), "bid")
      .filter($"inter".cast("double") / ($"ns" + $"nb" - $"inter") >= 0.5)
      .select($"sid").distinct()
    val naiveKeeps = shard.select($"doc_id")
      .join(naiveDups, $"doc_id" === $"sid", "left_anti")
      .collect().map(_.getLong(0)).sorted.toSeq
    val guarded = graft.queries.Batch9.incrementalKeeps(shard, base)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(guarded === naiveKeeps)
    assert(guarded.nonEmpty)
    // a revert to the plain join keeps exactness at test scale — only
    // the plan betrays it: pin the grid markers in the graded batch
    // entry's plan (the streaming twin calls the same incrementalKeeps
    // body, whose guarded shape the `guarded` run above already
    // exercised — its own returned frame is a post-replay parquet
    // read, so there is no lazy plan to inspect there)
    val p = graft.queries.Catalog.queries("dedup_incremental")(spark, sf("sf0.001"))
      .queryExecution.analyzed.toString
    assert(p.contains("__tl") && p.contains("__tr"),
      "dedup_incremental no longer rides gridJoinPairs")
  }

  test("blockedSelfJoinPairs: verify predicate runs AFTER the cheap dedup conjuncts") {
    // the r12 bench regression: an expensive predicate stacked as a
    // .filter on the result is pushed into the join condition ahead of
    // the id/diagonal dedup, evaluating it on every raw equi-match
    // (21x the deduped pair volume at sf0.1). Passed via `verify` it
    // must sit LAST in the single join condition expression.
    val docs = skewedDocs(60)
    val out = Scale.blockedSelfJoinPairs(docs, "block", "doc_id", cap = 16,
      verify = levenshtein($"text_a", $"text_b") <= 15)
    val joinLine = out.queryExecution.executedPlan.toString
      .split('\n').find(l => l.contains("Join") && l.contains("levenshtein"))
    assert(joinLine.nonEmpty, "verify predicate not in the join condition")
    val cond = joinLine.get
    val idCmp = cond.indexOf("doc_id_a")
    val lev = cond.indexOf("levenshtein")
    assert(idCmp >= 0 && lev > idCmp,
      s"cheap dedup conjunct must precede verify: $cond")
    // and the verified pair set equals naive join + post-filter
    val naive = docs.select($"block", $"doc_id".as("a"), $"text".as("ta"))
      .join(docs.select($"block", $"doc_id".as("b"), $"text".as("tb")), "block")
      .filter($"a" < $"b" && levenshtein($"ta", $"tb") <= 15)
      .select($"a", $"b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = out.select($"doc_id_a", $"doc_id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === naive)
  }

  test("blockedSelfJoinPairs without a hot block: one join, id order before verify") {
    val docs = skewedDocs(60) // largest block 60, under the default cap
    val out = Scale.blockedSelfJoinPairs(docs, "block", "doc_id",
      verify = levenshtein($"text_a", $"text_b") <= 15)
    assert(!out.queryExecution.analyzed.toString.contains("__lo"))
    val joins = out.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
      .split('\n').filter(_.contains("Join"))
    assert(joins.length === 1, joins.mkString("\n"))
    val cond = joins.head
    val idCmp = cond.indexOf("doc_id_a")
    val lev = cond.indexOf("levenshtein")
    assert(idCmp >= 0 && lev > idCmp, s"id order must precede verify: $cond")
    val naive = docs.select($"block", $"doc_id".as("a"), $"text".as("ta"))
      .join(docs.select($"block", $"doc_id".as("b"), $"text".as("tb")), "block")
      .filter($"a" < $"b" && levenshtein($"ta", $"tb") <= 15)
      .select($"a", $"b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = out.select($"doc_id_a", $"doc_id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length === got.toSet.size)
    assert(got.toSet === naive)
    // the same output schema as the guarded path (cap 16: the block is hot)
    assert(out.schema === Scale.blockedSelfJoinPairs(docs, "block", "doc_id", cap = 16).schema)
  }

  /** Adversarial asymmetric fixture: a hot key shared by both sides
    * (the streaming-LSH shape — boilerplate docs arriving against a
    * boilerplate-heavy corpus index) plus normal small keys. */
  private def skewedSides(hotL: Int, hotR: Int) = {
    val left = ((1 to hotL).map(i => (i.toLong, "HOT", s"l $i")) ++
      (1 to 30).map(i => ((5000 + i).toLong, s"k${i % 10}", s"lo $i")))
      .toDF("lid", "key", "lpay")
    val right = ((1 to hotR).map(i => ((100000 + i).toLong, "HOT", s"r $i")) ++
      (1 to 25).map(i => ((200000 + i).toLong, s"k${i % 10}", s"ro $i")))
      .toDF("rid", "key", "rpay")
    (left, right)
  }

  test("gridJoinPairs: row set identical to the plain equi-join (skewed both sides)") {
    val (left, right) = skewedSides(250, 180)
    val naive = left.join(right, "key")
      .select($"lid", $"rid", $"lpay", $"rpay")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3))).toSet
    val guarded = Scale.gridJoinPairs(left, right, Seq("key"), "lid", "rid", cap = 32)
    assert(guarded.select($"lid", $"rid", $"lpay", $"rpay")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3))).toSet
      === naive)
    // exactly once each: count equals set size (no pair meets twice)
    assert(guarded.count() === naive.size.toLong)
  }

  test("gridJoinPairs: per-task candidates bounded on the REAL join input; cold keys unreplicated") {
    val cap = 32
    val (left, right) = skewedSides(400, 300) // naive: 120,000 products on one key
    val (l2, r2) = Scale.gridReplicate(left, right, Seq("key"), "lid", "rid",
      cap, 64, None)
    val ln = l2.groupBy($"key", $"__tl", $"__tr").agg(count(lit(1)).as("n"))
    val rn = r2.groupBy($"key", $"__tl", $"__tr").agg(count(lit(1)).as("m"))
    val worst = ln.join(rn, Seq("key", "__tl", "__tr"))
      .agg(max($"n" * $"m")).collect()(0).getLong(0)
    // per task ~ (400/13)·(300/10) ≈ cap²; allow 4x slack for hash
    // imbalance — the naive join would put 120,000 on one reducer
    assert(worst <= 4L * cap * cap, s"worst per-task candidates $worst")
    // unskewed keys: gl = gr = 1 → single task key, zero replication
    assert(l2.filter($"key" =!= "HOT").count() === 30)
    assert(r2.filter($"key" =!= "HOT").count() === 25)
    assert(l2.filter($"key" =!= "HOT" && ($"__tl" =!= 0 || $"__tr" =!= 0)).count() === 0)
  }

  test("gridJoinPairs: precomputed right sizes give the identical row set") {
    val (left, right) = skewedSides(120, 90)
    val sizes = right.groupBy("key").agg(count(lit(1)).as("__rn"))
    val a = Scale.gridJoinPairs(left, right, Seq("key"), "lid", "rid", cap = 16)
      .select($"lid", $"rid").collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val b = Scale.gridJoinPairs(left, right, Seq("key"), "lid", "rid", cap = 16,
        rightSizes = Some(sizes))
      .select($"lid", $"rid").collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(a === b)
    assert(a.nonEmpty)
  }

  test("gridJoinPairs: deterministic under repartitioning") {
    val (left, right) = skewedSides(100, 80)
    val a = Scale.gridJoinPairs(left, right, Seq("key"), "lid", "rid", cap = 16)
      .select($"lid", $"rid").collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val b = Scale.gridJoinPairs(left.repartition(7), right.repartition(5),
        Seq("key"), "lid", "rid", cap = 16)
      .select($"lid", $"rid").collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(a === b)
  }

  test("blockedSelfJoinPairs: deterministic under repartitioning") {
    val docs = skewedDocs(120)
    val a = Scale.blockedSelfJoinPairs(docs, "block", "doc_id", cap = 16)
      .select($"doc_id_a", $"doc_id_b").collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val b = Scale.blockedSelfJoinPairs(docs.repartition(7), "block", "doc_id", cap = 16)
      .select($"doc_id_a", $"doc_id_b").collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(a === b)
  }

  test("Catalog.events reads rows with ts as TimestampType") {
    val df = graft.queries.Catalog.events(spark, sf("sf0.001"))
    assert(df.count() > 0)
    assert(df.schema("ts").dataType ===
      org.apache.spark.sql.types.TimestampType)
  }
}
