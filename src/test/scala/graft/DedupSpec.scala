package graft

import org.apache.spark.sql.functions._

import graft.queries.Catalog

/** Dedup/similarity plane spec: the rows-only (non-oracle) queries are
  * verified here against exact recomputation + planted duplicates. */
class DedupSpec extends SparkTestBase {
  import spark.implicits._

  private val dir = sf("sf0.001")

  test("minhash-LSH pairs == exact jaccard>=0.8 pairs on the fixtures") {
    val exact = Catalog.queries("dedup_ngram_jaccard")(spark, dir)
      .filter($"jaccard" >= 0.8)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Catalog.queries("dedup_minhash_lsh")(spark, dir)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh === exact)
    assert(exact.nonEmpty) // fixtures contain planted near-dups
  }

  test("minhash-LSH survives the constant-text corpus (hot band bucket) with the exact pair set") {
    // Adversarial: every doc identical → identical signatures → ALL
    // docs share ONE (band, band_hash) bucket in EVERY band. The
    // pre-r13 plain band self-join put n² candidate products on one
    // reducer; the triangle guard fans the bucket out while the
    // emitted pair set stays exactly the naive one — all n(n-1)/2
    // pairs at jaccard 1.0, which is what keeps the DuckDB oracle the
    // plain exact join.
    val n = 120
    val tmpPath = java.nio.file.Files.createTempDirectory("graft_hotband_")
    graft.queries.Reuse.deleteOnExit(tmpPath)
    val tmp = tmpPath.toString
    val docs = (1 to n).map(i =>
        (i.toLong, "the same boilerplate license header on every page",
          "en", "web", 47L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = Catalog.queries("dedup_minhash_lsh")(spark, tmp)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.length === n * (n - 1) / 2)
    assert(got.forall(_._3 == 1.0))
    assert(got.map(p => (p._1, p._2)).toSet ===
      (for (a <- 1 to n; b <- a + 1 to n) yield (a.toLong, b.toLong)).toSet)
    // streaming twin's per-batch body on the same hot corpus: shard
    // (first 20 ids) vs the rest through the grid guard — exactly
    // the 20 × 100 cross pairs
    val shard = docs.filter($"doc_id" <= 20)
    val corpusSig = graft.queries.Batch11.withSig(docs.filter($"doc_id" > 20))
    val pairs = graft.queries.Batch11.minhashPairsVsCorpus(
        shard, corpusSig, graft.queries.Batch11.banded(corpusSig))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.length === 20 * (n - 20))
    assert(pairs.forall(_._3 == 1.0))
  }

  test("simhash finds planted near-dups with bounded false-positive rate") {
    import graft.functions._
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select($"doc_id", simhash64(split($"text", " ")).as("fp"))
    val fps = docs.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val truePairs = Catalog.queries("dedup_ngram_jaccard")(spark, dir)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sim = Catalog.queries("dedup_simhash")(spark, dir)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the 4x16-bit band join GUARANTEES recall at hamming <= 3 — every
    // true pair that close must be found; pairs at hamming >= 4 may
    // legitimately slip (documented LSH trade-off)
    val withinGuarantee = truePairs.filter { case (a, b) =>
      graft.functions.HashOps.hamming64(fps(a), fps(b)) <= 3 }
    assert(withinGuarantee.subsetOf(sim))
    assert(withinGuarantee.nonEmpty)
    // precision is fuzzy by nature but must not explode
    assert(sim.size <= truePairs.size * 5 + 50)
  }

  test("embedding near-dup on planted duplicates via RP-LSH buckets") {
    // plant: duplicate + tiny-perturbation vectors appended to fixtures
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val planted = emb.filter($"vec_id" < 3)
      .select(($"vec_id" + 10000).as("vec_id"),
        transform($"embedding", x => x + lit(0.0001f)).as("embedding"),
        $"label")
    val all = emb.unionByName(planted)
    import graft.functions._
    val b = all.select($"vec_id", $"embedding",
      rp_bits($"embedding", 16, 42L).as("bucket"))
    val l = b.select($"vec_id".as("a"), $"embedding".as("ea"), $"bucket")
    val r = b.select($"vec_id".as("bid"), $"embedding".as("eb"), $"bucket")
    val pairs = l.join(r, "bucket").filter($"a" < $"bid")
      .select($"a", $"bid", cosine_sim($"ea", $"eb").as("cos"))
      .filter($"cos" >= 0.999)
      .collect().map(row => (row.getLong(0), row.getLong(1))).toSet
    assert(pairs === Set((0L, 10000L), (1L, 10001L), (2L, 10002L)))
  }

  test("ann_topk: rank-1 is the query vector itself with score 1.0") {
    val top = Catalog.queries("ann_topk")(spark, dir).collect()
    assert(top.head.getLong(0) === 0L)
    assert(top.head.getDouble(1) === 1.0)
    // scores are non-increasing
    val scores = top.map(_.getDouble(1)).toSeq
    assert(scores === scores.sorted.reverse)
  }

  test("exact dedup keeps the lowest event_id per payload") {
    val d = Catalog.queries("dedup_exact")(spark, dir)
    val total = d.agg(sum("n_dupes")).as[Long].head()
    assert(total === 1000) // partition of all events
    val keepers = d.select("keeper_id").as[Long].collect()
    assert(keepers.distinct.length === keepers.length)
  }

  test("stop-shingle df-cap preserves the >=0.5 pair set while filtering (scale knob)") {
    val dir = sf("sf0.001")
    def pairs(maxDf: Option[Int]) =
      graft.queries.Batch3.minePairCounts(spark, dir, maxDf)
        .withColumn("jaccard",
          col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
        .filter(col("jaccard") >= 0.5)
        .select("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    // fixtures' max df is 9 (3-gram shingles are near-unique at 500
    // docs); cap just below it so the filter provably fires while the
    // planted near-dup pairs — far above the 0.5 line — survive
    val cap = 8
    // the cap is not vacuous on the fixtures: some shingles exceed it
    val maxDfObserved = Catalog.table(spark, dir, "documents")
      .select(explode(expr(
        """array_distinct(transform(
          |  sequence(1, greatest(size(split(text, ' ')) - 2, 0)),
          |  i -> concat_ws(' ', slice(split(text, ' '), i, 3))))""".stripMargin))
        .as("sh"))
      .groupBy("sh").count().agg(max("count")).head().getLong(0)
    assert(maxDfObserved > cap,
      s"cap $cap filters nothing (max df $maxDfObserved) — test is vacuous")
    val uncapped = pairs(None)
    val capped = pairs(Some(cap))
    assert(uncapped.nonEmpty, "fixtures should contain >=0.5 near-dup pairs")
    assert(capped === uncapped,
      s"df-cap $cap changed the pair set: lost ${uncapped -- capped}, gained ${capped -- uncapped}")
  }

  test("tune_lsh: grid math sound, chosen banding meets its recall target on the corpus") {
    val rows = Catalog.queries("tune_lsh")(spark, dir).collect()
    assert(rows.length === 8)
    // b*r = 128 on every grid row; detection probability monotone
    // DECREASING in r at fixed b*r (more rows per band = sharper cut)
    rows.foreach(r => assert(r.getInt(0) * r.getInt(1) === 128))
    val byR = rows.sortBy(_.getInt(1))
    byR.sliding(2).foreach { case Array(a, b) =>
      assert(a.getDouble(2) >= b.getDouble(2),
        s"detection not monotone: r=${a.getInt(1)}→${b.getInt(1)}")
    }
    // exactly one chosen config; it's the LARGEST r predicting >= 0.9
    val chosen = rows.filter(_.getInt(3) == 1)
    assert(chosen.length === 1)
    val rC = chosen.head.getInt(1)
    assert(chosen.head.getDouble(2) >= 0.9)
    assert(rows.filter(_.getDouble(2) >= 0.9).map(_.getInt(1)).max === rC)
    // the entry's teeth: the chosen banding's MEASURED recall on the
    // corpus meets the target it was chosen for
    assert(chosen.head.getDouble(4) >= 0.9,
      s"chosen (b=${chosen.head.getInt(0)}, r=$rC) measured recall " +
        s"${chosen.head.getDouble(4)} below the 0.9 target")
    // sentinel discipline: non-chosen rows carry -1.0, never null
    rows.filter(_.getInt(3) == 0).foreach(r => assert(r.getDouble(4) === -1.0))
  }

  test("dedup job mines the pair graph once: jaccard, containment, clusters") {
    import graft.queries.{Artifact, Reuse}
    spark.sharedState.cacheManager.clearCache()
    Artifact.clearAll()
    val sites = Seq("batch3.pairCounts", "batch3.minePairCounts.inv")
    val before = sites.map(Reuse.freshBuildsOf)
    for (q <- Seq("dedup_ngram_jaccard", "dedup_containment", "dedup_clusters"))
      assert(Catalog.queries(q)(spark, dir).collect().nonEmpty, q)
    // one pair_counts memo build, over one build of its inverted index
    assert(sites.map(Reuse.freshBuildsOf).zip(before).map { case (a, b) => a - b }
      === Seq(1L, 1L))
  }
}
