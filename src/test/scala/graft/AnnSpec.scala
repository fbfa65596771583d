package graft

import graft.ops.Ann

class AnnSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val emb = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
  private lazy val query: Array[Float] = emb.filter($"vec_id" === 7)
    .select("embedding").as[Array[Float]].head()

  test("brute-force top-k: self first, scores non-increasing") {
    val top = Ann.bruteForce(emb, "embedding", query, 10).collect()
    assert(top.head.getAs[Long]("vec_id") === 7L)
    val scores = top.map(_.getAs[Double]("score")).toSeq
    assert(scores === scores.sorted.reverse)
  }

  test("IVF search recalls most of the exact top-k with nprobe << k") {
    val exact = Ann.bruteForce(emb, "embedding", query, 10).collect()
      .map(_.getAs[Long]("vec_id")).toSet
    val index = Ann.buildIvf(emb, "embedding", k = 16)
    // all rows assigned, clusters cover the table
    assert(index.assigned.count() === emb.count())
    assert(index.centers.length === 16)
    val approx = Ann.searchIvf(index, "embedding", query, topK = 10, nprobe = 4)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    assert((exact & approx).size >= 5) // >=50% recall probing 1/4 of clusters
    assert(approx.contains(7L)) // the query's own cluster is always probed
  }

  test("IVF index persists partitionBy(cluster) and reloads equivalently") {
    val index = Ann.buildIvf(emb, "embedding", k = 8)
    val path = java.nio.file.Files.createTempDirectory("ivf").toString
    Ann.persistIvf(index, path)
    // partitioned layout: one cluster=N directory per non-empty cluster
    val dirs = new java.io.File(s"$path/assigned").listFiles()
      .filter(_.isDirectory).map(_.getName).filter(_.startsWith("cluster="))
    assert(dirs.nonEmpty)
    val loaded = Ann.loadIvf(spark, path)
    assert(loaded.centers.map(_.toSeq).toSeq === index.centers.map(_.toSeq).toSeq)
    val a = Ann.searchIvf(index, "embedding", query, topK = 5, nprobe = 2)
      .collect().map(_.getAs[Long]("vec_id")).toSeq
    val b = Ann.searchIvf(loaded, "embedding", query, topK = 5, nprobe = 2)
      .collect().map(_.getAs[Long]("vec_id")).toSeq
    assert(a === b)
  }

  test("persisted index: pruned searches hit PartitionFilters on cluster (directory-level pruning)") {
    import org.apache.spark.sql.functions.col
    // the build-once/search-many contract: persistIvf partitions by
    // cluster so a pruned probe must reach the scan as a PARTITION
    // filter (whole directories skipped), not a post-scan row filter
    val index = Ann.buildIvf(emb, "embedding", k = 8)
    val path = java.nio.file.Files.createTempDirectory("ivfprune").toString
    Ann.persistIvf(index, path)
    val loaded = Ann.loadIvf(spark, path)
    val df = Ann.searchIvf(loaded, "embedding", query, topK = 5, nprobe = 2,
      tieBreak = Seq(col("vec_id")))
    df.write.format("noop").mode("overwrite").save()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    val scanLine = plan.linesIterator
      .find(l => l.contains("PartitionFilters")).getOrElse("")
    assert(scanLine.contains("cluster"),
      s"no cluster partition filter in scan:\n${plan.take(3000)}")
    // and the filter is genuinely present, not an empty list
    assert(!scanLine.contains("PartitionFilters: []"), scanLine)
  }

  test("knnJoinIvf: pruned probes recall most neighbors; plan has no cartesian over the corpus") {
    import org.apache.spark.sql.functions.col
    val index = Ann.buildIvf(emb, "embedding", k = 8)
    val queries = emb.filter($"vec_id" < 5)
      .select($"vec_id".as("qid"), $"embedding".as("qvec"))
    val exact = Ann.knnJoinIvf(index, "embedding", "vec_id", queries,
        "qid", "qvec", topK = 5, nprobe = index.centers.length)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pruned = Ann.knnJoinIvf(index, "embedding", "vec_id", queries,
        "qid", "qvec", topK = 5, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // every query set has 5 rows in both
    assert(exact.size === 25 && pruned.size === 25)
    // half-the-clusters probes keep most of the exact neighbor pairs,
    // and every query recalls ITSELF (its own cluster ranks first and
    // self-pairs are not excluded here)
    assert(pruned.intersect(exact).size >= 13,
      s"recall too low: ${pruned.intersect(exact).size}/25")
    for (q <- 0L until 5L) assert(pruned.contains((q, q)))
    // the scoring join is an equi-join on cluster id: the only
    // cartesian in the plan is the |Q| x k center ranking (broadcast,
    // k*d floats), never the corpus side
    val plan = Ann.knnJoinIvf(index, "embedding", "vec_id", queries,
        "qid", "qvec", topK = 5, nprobe = 4)
      .queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    val cartesians = "CartesianProduct".r.findAllIn(plan).size
    assert(cartesians === 0, s"corpus-side cartesian in plan:\n${plan.take(3000)}")
  }

  test("knnJoinIvfHier: exhaustive two-level batched join is exact; pruned recalls") {
    val h = Ann.buildIvfHierarchical(emb.select($"vec_id", $"embedding"),
      "embedding", k = 64)
    val queries = emb.filter($"vec_id" < 5)
      .select($"vec_id".as("qid"), $"embedding".as("qvec"))
    // exhaustive two-level ranking must equal the exhaustive flat join
    // (both are the exact per-query top-k by construction)
    val flat = Ann.knnJoinIvf(h.index, "embedding", "vec_id", queries,
        "qid", "qvec", topK = 5, nprobe = h.index.centers.length)
      .collect().map(r => (r.getLong(0), r.getInt(3), r.getLong(1))).toSet
    val hier = Ann.knnJoinIvfHier(h, "embedding", "vec_id", queries,
        "qid", "qvec", topK = 5, nprobeCoarse = h.k1, nprobe = h.k1 * h.k2)
      .collect().map(r => (r.getLong(0), r.getInt(3), r.getLong(1))).toSet
    assert(hier === flat && hier.size === 25)
    val pruned = Ann.knnJoinIvfHier(h, "embedding", "vec_id", queries,
        "qid", "qvec", topK = 5, nprobeCoarse = math.max(2, h.k1 / 2),
        nprobe = h.k1 * h.k2 / 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exactPairs = flat.map { case (q, _, id) => (q, id) }
    assert(pruned.intersect(exactPairs).size >= 13,
      s"recall too low: ${pruned.intersect(exactPairs).size}/25")
    for (q <- 0L until 5L) assert(pruned.contains((q, q)))
  }

  test("appendToIvf: frozen-center appends equal a rebuild with the same centers") {
    import org.apache.spark.sql.functions.col
    // build+persist on the first half, append the second half, and the
    // reloaded index must be row-for-row the full assignment under the
    // SAME centers (assignment is a pure function of the row)
    val first = emb.filter($"vec_id" < 500)
    val rest = emb.filter($"vec_id" >= 500)
    val index = Ann.buildIvf(first, "embedding", k = 8)
    val path = java.nio.file.Files.createTempDirectory("ivfappend").toString
    Ann.persistIvf(index, path)
    Ann.appendToIvf(index, rest, "embedding", path)
    val loaded = Ann.loadIvf(spark, path)
    val got = loaded.assigned.select("vec_id", "cluster").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val want = Ann.assignByCosine(emb, "embedding", index.centers)
      .select("vec_id", "cluster").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got === want)
    // and searches over the updated index see the appended rows
    val tie = Seq(col("vec_id"))
    val exact = Ann.bruteForce(emb, "embedding", query, 10, tie)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    val searched = Ann.searchIvf(loaded, "embedding", query, 10,
        nprobe = index.centers.length, tieBreak = tie)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(searched === exact)
  }

  test("appendToIvf refuses schema drift against a coded index") {
    // appending plain rows to an index carrying SQ8 code columns would
    // write a mixed-schema directory — must fail loudly instead
    val first = emb.filter($"vec_id" < 500)
    val coded = Ann.withSq8(Ann.buildIvf(first, "embedding", k = 8), "embedding")
    val path = java.nio.file.Files.createTempDirectory("ivfdrift").toString
    Ann.persistIvf(coded, path)
    val e = intercept[IllegalArgumentException] {
      Ann.appendToIvf(coded, emb.filter($"vec_id" >= 500), "embedding", path)
    }
    assert(e.getMessage.contains("code columns"))
  }

  test("appendToIvf refuses same-name TYPE drift (name-only guard would pass it)") {
    import org.apache.spark.sql.functions.col
    // same column names, one type drifted (label int -> long): the old
    // columns.toSet guard saw identical names and wrote a mixed-type
    // parquet directory — the exact corruption the guard exists to stop
    val first = emb.filter($"vec_id" < 500)
    val index = Ann.buildIvf(first, "embedding", k = 8)
    val path = java.nio.file.Files.createTempDirectory("ivftypedrift").toString
    Ann.persistIvf(index, path)
    val drifted = emb.filter($"vec_id" >= 500)
      .withColumn("label", col("label").cast("long"))
    val e = intercept[IllegalArgumentException] {
      Ann.appendToIvf(index, drifted, "embedding", path)
    }
    assert(e.getMessage.contains("schema") && e.getMessage.contains("label"),
      e.getMessage)
  }

  test("appendBatchIdempotent: a replayed micro-batch never double-appends") {
    val first = emb.filter($"vec_id" < 500)
    val rest = emb.filter($"vec_id" >= 500)
    val index = Ann.buildIvf(first, "embedding", k = 8)
    val path = java.nio.file.Files.createTempDirectory("ivfidem").toString
    Ann.persistIvf(index, path)
    assert(Ann.appendBatchIdempotent(index, rest, "embedding", path, batchId = 0L))
    val n1 = spark.read.parquet(s"$path/assigned").count()
    // the at-least-once retry: same batchId replayed — recognized and skipped
    assert(!Ann.appendBatchIdempotent(index, rest, "embedding", path, batchId = 0L))
    assert(spark.read.parquet(s"$path/assigned").count() === n1)
    // every row id appears exactly once (the top-k-distorting dup is impossible)
    val loaded = Ann.loadIvf(spark, path)
    assert(loaded.assigned.select("vec_id").distinct().count()
      === loaded.assigned.count())
    // a genuinely new batch still appends
    assert(Ann.appendBatchIdempotent(index,
      rest.limit(0), "embedding", path, batchId = 1L))
  }

  test("appendToIvfHier: two-pass frozen-center appends equal a rebuild-style assignment of all rows") {
    import org.apache.spark.sql.functions.col
    // fit on the even half, append the odd half through the SAME
    // two-pass routing the build uses — the reloaded index must be
    // row-for-row the two-pass assignment of ALL rows under h's
    // centers (the flat argmax is a different function and would
    // drift on cell-boundary rows)
    val base = emb.select($"vec_id", $"embedding")
    val h = Ann.buildIvfHierarchical(base.filter($"vec_id" % 2 === 0),
      "embedding", k = 16)
    val path = java.nio.file.Files.createTempDirectory("ivfhierappend").toString
    Ann.persistIvfHier(h, path)
    Ann.appendToIvf(h, base.filter($"vec_id" % 2 === 1), "embedding", path)
    val loaded = Ann.loadIvfHier(spark, path)
    val got = loaded.index.assigned.select("vec_id", "cluster").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val want = Ann.assignByCosineHier(base, "embedding", h)
      .select("vec_id", "cluster").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got === want && got.size === base.count())
    // exhaustive two-level search over the grown index is exact
    val tie = Seq(col("vec_id"))
    val exact = Ann.bruteForce(emb, "embedding", query, 10, tie)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    val searched = Ann.searchIvfHier(loaded, "embedding", query, topK = 10,
        nprobeCoarse = loaded.k1, nprobe = loaded.k1 * loaded.k2, tieBreak = tie)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(searched === exact)
  }

  test("compactIvf: small files collapse to one per cluster dir, content identical, markers survive") {
    val first = emb.filter($"vec_id" < 400)
    val index = Ann.buildIvf(first, "embedding", k = 4)
    val path = java.nio.file.Files.createTempDirectory("ivfcompact").toString
    Ann.persistIvf(index, path)
    // three append batches → several files per touched cluster dir
    for ((m, b) <- Seq((0, 10L), (1, 11L), (2, 12L)))
      Ann.appendBatchIdempotent(index,
        emb.filter($"vec_id" >= 400 && $"vec_id" % 3 === m), "embedding",
        path, b)
    def filesPerCluster: Map[String, Int] =
      new java.io.File(s"$path/assigned").listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("cluster="))
        .map(d => d.getName ->
          d.listFiles().count(_.getName.endsWith(".parquet"))).toMap
    val before = spark.read.parquet(s"$path/assigned")
      .select("vec_id", "cluster").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(filesPerCluster.values.max > 1,
      s"fixture did not produce small files: $filesPerCluster")
    Ann.compactIvf(spark, path)
    assert(filesPerCluster.values.max === 1, filesPerCluster.toString)
    val after = spark.read.parquet(s"$path/assigned")
      .select("vec_id", "cluster").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(after === before)
    // the huge-cluster guard: a records-per-file bound re-splits big
    // cluster outputs into several BOUNDED files (content unchanged)
    Ann.compactIvf(spark, path, maxRecordsPerFile = 50L)
    assert(filesPerCluster.values.exists(_ > 1),
      s"maxRecordsPerFile bound did not split: $filesPerCluster")
    val bounded = spark.read.parquet(s"$path/assigned")
      .select("vec_id", "cluster").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(bounded === before)
    // marker housekeeping: markers survived the compaction, and
    // pruning drops dead runs while keeping live ones
    val markerRoot = new java.io.File(s"$path/_applied_batches")
    assert(markerRoot.exists() && markerRoot.listFiles().nonEmpty)
    Ann.pruneAppliedMarkers(spark, path, keepTokens = Set.empty)
    assert(markerRoot.listFiles().isEmpty)
    // crash recovery: simulate a death between the two renames
    // (assigned staged aside, swap never completed) — repair restores
    // the staged layout and the index serves again
    assert(!Ann.repairIvf(spark, path)) // healthy layout: no-op
    new java.io.File(s"$path/assigned")
      .renameTo(new java.io.File(s"$path/assigned_old"))
    assert(Ann.repairIvf(spark, path))
    val repaired = spark.read.parquet(s"$path/assigned")
      .select("vec_id", "cluster").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(repaired === before)
    // live-compaction guard (ADVICE r11): a healthy `assigned` beside
    // a FRESH assigned_compacting looks like a compaction mid-write —
    // repair must refuse (and leave the tmp tree alone) instead of
    // destroying the rewrite under the live operator
    val tmpDir = new java.io.File(s"$path/assigned_compacting")
    assert(tmpDir.mkdirs())
    assert(new java.io.File(tmpDir, "part-00000.parquet").createNewFile())
    intercept[IllegalStateException] { Ann.repairIvf(spark, path) }
    assert(tmpDir.exists(), "repair deleted a possibly-live compaction dir")
    // the same tmp tree past the staleness window (or with the window
    // explicitly zeroed by an operator who quiesced writers) is
    // crashed-compaction debris: cleaned, layout reported healthy
    assert(!Ann.repairIvf(spark, path, tmpStaleMs = 0L))
    assert(!tmpDir.exists())
  }

  test("onceBatch: flat-layout markers honored ONLY under the explicit compat token") {
    val path = java.nio.file.Files.createTempDirectory("oncebatch").toString
    // an index written before the run-scoped layout has markers
    // directly under _applied_batches
    val legacyDir = new java.io.File(s"$path/_applied_batches")
    assert(legacyDir.mkdirs())
    assert(new java.io.File(legacyDir, "7").createNewFile())
    var ran = false
    // resuming THAT run via the compat token: the replay is recognized
    assert(!Ann.onceBatch(spark, path, 7L, Ann.legacyCompatToken) { ran = true })
    assert(!ran, "legacy-marked batch re-executed under compat token")
    // a NEW run (fresh token, batchIds restarting) must NOT be
    // swallowed by the unrelated flat marker — that would be silent
    // data loss (at-most-once across runs)
    assert(Ann.onceBatch(spark, path, 7L, "fresh-run-token") { ran = true })
    assert(ran, "new run's batch swallowed by an unrelated legacy marker")
    // other batches under the compat token proceed normally...
    ran = false
    assert(Ann.onceBatch(spark, path, 8L, Ann.legacyCompatToken) { ran = true })
    assert(ran)
    // ...and their retries are swallowed (markers land run-scoped)
    assert(!Ann.onceBatch(spark, path, 8L, Ann.legacyCompatToken) { ran = false })
    assert(ran)
  }

  test("knnJoinIvfHier: past the size bound the sub-center table is NOT broadcast") {
    import org.apache.spark.sql.functions.col
    val h = Ann.buildIvfHierarchical(emb.select($"vec_id", $"embedding"),
      "embedding", k = 64)
    val queries = emb.filter($"vec_id" < 5)
      .select($"vec_id".as("qid"), $"embedding".as("qvec"))
    // model "too big to broadcast": auto-broadcast off so Catalyst/AQE
    // can't silently re-broadcast the small fixture table
    val prevAuto = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqeAuto = spark.conf.getOption("spark.sql.adaptive.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      def cellJoinLines(maxBytes: Long): Seq[String] = {
        val df = Ann.knnJoinIvfHier(h, "embedding", "vec_id", queries,
          "qid", "qvec", topK = 5, nprobeCoarse = h.k1, nprobe = h.k1 * h.k2,
          maxCenterBroadcastBytes = maxBytes)
        df.write.format("noop").mode("overwrite").save()
        df.queryExecution.executedPlan.toString
          .split("== Initial Plan ==").head
          .linesIterator.filter(l => l.contains("Join") && l.contains("__graft_cell"))
          .toSeq
      }
      // under the bound: the cell join builds on the broadcast hint
      val hinted = cellJoinLines(256L << 20)
      assert(hinted.exists(_.contains("BroadcastHashJoin")),
        s"expected hinted broadcast cell join:\n${hinted.mkString("\n")}")
      // over the bound: the cell join must shuffle (SMJ/shuffled-hash),
      // never a driver-relayed broadcast of all k sub-centers
      val fallback = cellJoinLines(0L)
      assert(fallback.nonEmpty && fallback.forall(!_.contains("Broadcast")),
        s"sub-center table still broadcast past the bound:\n${fallback.mkString("\n")}")
      // and the fallback is result-identical
      val a = Ann.knnJoinIvfHier(h, "embedding", "vec_id", queries,
        "qid", "qvec", topK = 5, nprobeCoarse = h.k1, nprobe = h.k1 * h.k2,
        maxCenterBroadcastBytes = 0L)
        .collect().map(r => (r.getLong(0), r.getInt(3), r.getLong(1))).toSet
      val b = Ann.knnJoinIvfHier(h, "embedding", "vec_id", queries,
        "qid", "qvec", topK = 5, nprobeCoarse = h.k1, nprobe = h.k1 * h.k2)
        .collect().map(r => (r.getLong(0), r.getInt(3), r.getLong(1))).toSet
      assert(a === b && a.size === 25)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevAuto)
      prevAqeAuto match {
        case Some(v) =>
          spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", v)
        case None =>
          spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
      }
    }
  }

  test("hierarchical index persists and reloads: two-level searches equal in-memory") {
    import org.apache.spark.sql.functions.col
    val base = emb.select($"vec_id", $"embedding")
    val h = Ann.buildIvfHierarchical(base, "embedding", k = 64)
    val path = java.nio.file.Files.createTempDirectory("ivfhier").toString
    Ann.persistIvfHier(h, path)
    val loaded = Ann.loadIvfHier(spark, path)
    assert(loaded.k1 === h.k1 && loaded.k2 === h.k2)
    assert(loaded.coarse.map(_.toSeq).toSeq === h.coarse.map(_.toSeq).toSeq)
    assert(loaded.index.centers.map(_.toSeq).toSeq ===
      h.index.centers.map(_.toSeq).toSeq)
    val tie = Seq(col("vec_id"))
    for ((nc, np) <- Seq((h.k1, h.k1 * h.k2), (math.max(2, h.k1 / 2), h.k1 * h.k2 / 2))) {
      val a = Ann.searchIvfHier(h, "embedding", query, 10, nc, np, tie)
        .select("vec_id").collect().map(_.getLong(0)).toSeq
      val b = Ann.searchIvfHier(loaded, "embedding", query, 10, nc, np, tie)
        .select("vec_id").collect().map(_.getLong(0)).toSeq
      assert(a === b, s"nprobeCoarse=$nc nprobe=$np diverged after reload")
    }
  }

  test("int8-quantized top-k recalls nearly all of the exact float top-k") {
    val dir = sf("sf0.001")
    val exact = graft.queries.Catalog.queries("ann_topk")(spark, dir)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    val quant = graft.queries.Catalog.queries("ann_int8_topk")(spark, dir)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    // int8 symmetric quantization perturbs scores by <1%, so the two
    // top-20 sets should agree on at least 15 of 20 ids.
    assert((exact & quant).size >= 15, s"recall ${(exact & quant).size}/20")
    assert(quant.contains(0L)) // the query vector survives quantization at rank 1
  }

  test("IVF-SQ8 with exhaustive rescore is exactly searchIvf") {
    import org.apache.spark.sql.functions.col
    val index = Ann.withSq8(Ann.buildIvf(emb, "embedding", k = 8), "embedding")
    // rescore > |table| → the integer first stage keeps everything and
    // the float re-rank decides alone: result must equal searchIvf
    val a = Ann.searchIvf(index, "embedding", query, topK = 10,
        nprobe = 3, tieBreak = Seq(col("vec_id")), codes = Ann.Sq8(rescore = 1000))
      .select("vec_id", "score").collect().map(_.toString).toSeq
    val b = Ann.searchIvf(index, "embedding", query, topK = 10,
        nprobe = 3, tieBreak = Seq(col("vec_id")))
      .select("vec_id", "score").collect().map(_.toString).toSeq
    assert(a === b)
  }

  test("IVF-SQ8 pruned rescore recalls the float top-k") {
    import org.apache.spark.sql.functions.col
    val index = Ann.withSq8(Ann.buildIvf(emb, "embedding", k = 8), "embedding")
    val viaSq8 = Ann.searchIvf(index, "embedding", query, topK = 10,
        nprobe = 3, tieBreak = Seq(col("vec_id")), codes = Ann.Sq8(rescore = 50))
      .collect().map(_.getAs[Long]("vec_id")).toSeq
    val viaFloat = Ann.searchIvf(index, "embedding", query, topK = 10,
        nprobe = 3, tieBreak = Seq(col("vec_id")))
      .collect().map(_.getAs[Long]("vec_id")).toSeq
    // int8 perturbs scores <1%, so the true top-10 sits comfortably
    // inside the int8 top-50; the exact re-rank then recovers it
    assert(viaSq8.head === viaFloat.head)
    assert((viaSq8.toSet & viaFloat.toSet).size >= 9,
      s"sq8=$viaSq8 float=$viaFloat")
  }

  test("IVF-PQ with exhaustive rescore is exactly searchIvf") {
    import org.apache.spark.sql.functions.col
    val base = Ann.buildIvf(emb, "embedding", k = 8)
    val cb = Ann.fitPq(emb, "embedding", m = 8)
    val index = Ann.withPq(base, "embedding", cb)
    val a = Ann.searchIvf(index, "embedding", query, topK = 10,
        nprobe = 3, tieBreak = Seq(col("vec_id")), codes = Ann.Pq(cb, rescore = 1000))
      .select("vec_id", "score").collect().map(_.toString).toSeq
    val b = Ann.searchIvf(index, "embedding", query, topK = 10,
        nprobe = 3, tieBreak = Seq(col("vec_id")))
      .select("vec_id", "score").collect().map(_.toString).toSeq
    assert(a === b)
  }

  test("IVF-PQ pruned rescore recalls most of the float top-k") {
    import org.apache.spark.sql.functions.col
    val base = Ann.buildIvf(emb, "embedding", k = 8)
    val cb = Ann.fitPq(emb, "embedding", m = 8)
    val index = Ann.withPq(base, "embedding", cb)
    val viaPq = Ann.searchIvf(index, "embedding", query, topK = 10,
        nprobe = 3, tieBreak = Seq(col("vec_id")), codes = Ann.Pq(cb, rescore = 50))
      .collect().map(_.getAs[Long]("vec_id")).toSeq
    val viaFloat = Ann.searchIvf(index, "embedding", query, topK = 10,
        nprobe = 3, tieBreak = Seq(col("vec_id")))
      .collect().map(_.getAs[Long]("vec_id")).toSeq
    // PQ is lossier than SQ8 (m bytes for the whole vector), so the
    // bar is recall >= 7/10 with rescore=50 out of ~190 candidates,
    // and the self-match must survive (it probes its own cluster and
    // re-ranks on exact floats)
    assert(viaPq.head === viaFloat.head, s"pq=$viaPq float=$viaFloat")
    assert((viaPq.toSet & viaFloat.toSet).size >= 7,
      s"pq=$viaPq float=$viaFloat")
  }

  test("PQ index persists and reloads: searches equal the in-memory index") {
    import org.apache.spark.sql.functions.col
    val cb = Ann.fitPq(emb, "embedding", m = 8)
    val index = Ann.withPq(Ann.buildIvf(emb, "embedding", k = 8), "embedding", cb)
    val path = java.nio.file.Files.createTempDirectory("ivfpq").toString
    Ann.persistIvf(index, path) // pqcode column rides along
    val loadedIdx = Ann.loadIvf(spark, path)
    val a = Ann.searchIvf(index, "embedding", query, topK = 5,
        nprobe = 3, tieBreak = Seq(col("vec_id")), codes = Ann.Pq(cb, rescore = 50))
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    val b = Ann.searchIvf(loadedIdx, "embedding", query, topK = 5,
        nprobe = 3, tieBreak = Seq(col("vec_id")), codes = Ann.Pq(cb, rescore = 50))
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(a === b)
  }

  test("SQ8 index persists and reloads: searches equal the in-memory index") {
    import org.apache.spark.sql.functions.col
    val index = Ann.withSq8(Ann.buildIvf(emb, "embedding", k = 8), "embedding")
    val path = java.nio.file.Files.createTempDirectory("ivfsq8").toString
    Ann.persistIvf(index, path) // qvec/qnorm ride along, partitioned by cluster
    val loaded = Ann.loadIvf(spark, path)
    assert(loaded.assigned.columns.contains("qvec")
      && loaded.assigned.columns.contains("qnorm"))
    val a = Ann.searchIvf(index, "embedding", query, topK = 5,
        nprobe = 3, tieBreak = Seq(col("vec_id")), codes = Ann.Sq8(rescore = 50))
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    val b = Ann.searchIvf(loaded, "embedding", query, topK = 5,
        nprobe = 3, tieBreak = Seq(col("vec_id")), codes = Ann.Sq8(rescore = 50))
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(a === b)
  }

  test("IVF scan prunes to the probed clusters only") {
    val index = Ann.buildIvf(emb, "embedding", k = 8)
    val probedOne = Ann.searchIvf(index, "embedding", query, topK = 5, nprobe = 1)
    val cnt = index.assigned.groupBy("cluster").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    // result rows all come from a single cluster
    val clusters = probedOne.select("cluster").distinct().collect().map(_.getInt(0))
    assert(clusters.length === 1)
    assert(cnt(clusters.head) >= 5 || probedOne.count() === cnt(clusters.head))
  }

  test("assignByCosine at k=256 d=64: whole-stage codegen survives, argmax matches") {
    val rnd = new scala.util.Random(7)
    val centers = Array.fill(256, 64)(rnd.nextFloat() * 2f - 1f)
    val assigned = Ann.assignByCosine(
      emb.select($"vec_id", $"embedding"), "embedding", centers)
    assigned.collect() // settle AQE so codegen spans print
    val plan = assigned.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // the centers ride as a reference object: the projection stays a
    // codegen'd span (starred) and the plan doesn't inline 16k floats
    assert(plan.linesIterator.exists(l =>
      l.contains("*(") && l.contains("Project")), plan.take(2000))
    assert(plan.length < 4000, s"plan inlines the centers (len=${plan.length})")
    // parity with a driver-side argmax (first max wins) on sample rows
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < math.min(a.length, b.length)) {
        d += a(i).toDouble * b(i); i += 1
      }
      i = 0; while (i < a.length) { na += a(i).toDouble * a(i); i += 1 }
      i = 0; while (i < b.length) { nb += b(i).toDouble * b(i); i += 1 }
      if (na == 0 || nb == 0) 0.0
      else math.max(-1.0, math.min(1.0, d / (math.sqrt(na) * math.sqrt(nb))))
    }
    assigned.filter($"vec_id" % 100 === 7).collect().foreach { r =>
      val v = r.getSeq[Float](1).toArray
      val expect = centers.indices.maxBy(i => cos(v, centers(i)))
      assert(r.getInt(2) === expect, s"vec ${r.getLong(0)}")
    }
  }

  test("IVF-SQ8/PQ two-stage search: both cuts are TakeOrdered, never a global sort") {
    import org.apache.spark.sql.functions.col
    val sq8 = Ann.withSq8(Ann.buildIvf(emb, "embedding", k = 8), "embedding")
    val cb = Ann.fitPq(emb, "embedding", m = 8)
    val pq = Ann.withPq(Ann.buildIvf(emb, "embedding", k = 8), "embedding", cb)
    val searches = Seq(
      "sq8" -> Ann.searchIvf(sq8, "embedding", query, topK = 10,
        nprobe = 3, tieBreak = Seq(col("vec_id")), codes = Ann.Sq8(rescore = 50)),
      "pq" -> Ann.searchIvf(pq, "embedding", query, topK = 10,
        nprobe = 3, tieBreak = Seq(col("vec_id")), codes = Ann.Pq(cb, rescore = 50)))
    for ((name, df) <- searches) {
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      // quantized cut (rescore) AND exact cut (topK) both bounded
      // heaps, no global Sort + Exchange for either ranking
      val takes = "TakeOrderedAndProject".r.findAllIn(plan).size
      assert(takes >= 2, s"$name: expected 2 TakeOrdered, plan:\n${plan.take(2000)}")
      assert(!plan.contains("Exchange rangepartitioning"),
        s"$name plans a global sort:\n${plan.take(2000)}")
    }
  }

  test("semanticK: k tracks n/100 with no small ceiling; cluster size stays bounded") {
    import graft.queries.Batch10
    // unit: the old min(256, ...) cap is gone — k keeps tracking n/100
    // far past it, so mean cluster size stays ~100 until the k-means
    // fit-practicality ceiling at 2^20 clusters (n ~ 1e8)
    assert(Batch10.semanticK(1000L) === 16)
    assert(Batch10.semanticK(100000L) === 1000)
    assert(Batch10.semanticK(100000000L) === 1000000)
    assert(100000000L / Batch10.semanticK(100000000L) === 100L)
    assert(Batch10.semanticK(10000000000L) === (1 << 20)) // ceiling only
    // the fit sample scales with k (20 pts/centroid, bounded)
    assert(Batch10.semanticFitRows(16) === 100000)
    assert(Batch10.semanticFitRows(50000) === 1000000)
    assert(Batch10.semanticFitRows(1 << 20) === 2000000)

    // executed: growing n grows k, and the mean NON-EMPTY cluster size
    // stays bounded instead of scaling with n (the 100-TB property the
    // old cap broke)
    def meanAndClusters(df: org.apache.spark.sql.DataFrame): (Double, Int) = {
      val n = df.count()
      val k = Batch10.semanticK(n)
      val idx = Ann.buildIvf(df, "embedding", k = math.max(k, 16))
      val sizes = idx.assigned.groupBy("cluster").count()
        .collect().map(_.getLong(1))
      (n.toDouble / sizes.length, sizes.length)
    }
    val base = emb.select($"vec_id", $"embedding")
    val grown = (0 until 8).map(i =>
        base.select(($"vec_id" + i * 1000000L).as("vec_id"), $"embedding"))
      .reduce(_ unionByName _)
    val (meanBase, kBase) = meanAndClusters(base)
    val (meanGrown, kGrown) = meanAndClusters(grown)
    assert(kGrown > kBase, s"k did not grow with n: $kBase -> $kGrown")
    // mean cluster size holds the ~100 target (2x slack) at BOTH
    // sizes — with the old 256 cap it would instead scale with n
    assert(meanBase <= 200 && meanGrown <= 200,
      s"mean cluster size off target: $meanBase -> $meanGrown")
  }

  test("centroid_cosine equals the literal element_at scoring bit-for-bit") {
    import org.apache.spark.sql.functions.{col, element_at, typedLit}
    val index = Ann.buildIvf(emb.select($"vec_id", $"embedding"), "embedding", k = 8)
    // the spelling centroid_cosine replaced: centers inlined as one
    // typedLit, per-row element_at lookup (1-based)
    val centersLit = typedLit(index.centers.map(_.toSeq).toSeq)
    val both = index.assigned
      .withColumn("ref_s",
        graft.functions.cosine_sim(col("embedding"),
          element_at(centersLit, col("cluster") + 1)))
      .withColumn("new_s",
        graft.functions.centroid_cosine(col("embedding"), col("cluster"),
          index.centers))
    val rows = both.select("vec_id", "ref_s", "new_s").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      // bit-identical, not approximately equal: same double arithmetic
      assert(java.lang.Double.doubleToLongBits(r.getDouble(1)) ===
        java.lang.Double.doubleToLongBits(r.getDouble(2)), s"vec ${r.getLong(0)}")
    }
  }

  test("hierarchical fit: sqrt-scaled Lloyd cost, valid ids, dedup invariants hold") {
    val base = emb.select($"vec_id", $"embedding")
    // exact copies planted so the collapse invariant is exercised
    val copies = base.filter($"vec_id" % 10 === 0)
      .select(($"vec_id" + 1000000).as("vec_id"), $"embedding")
    val planted = base.unionByName(copies)

    val h64 = Ann.buildIvfHierarchical(planted, "embedding", k = 64)
    val h1024 = Ann.buildIvfHierarchical(planted, "embedding", k = 1024)

    // shape: k1·k2 >= k flat centers, ids in range
    for ((h, k) <- Seq((h64, 64), (h1024, 1024))) {
      assert(h.k1 * h.k2 >= k)
      assert(h.index.centers.length === h.k1 * h.k2)
      val ids = h.index.assigned.select("cluster").distinct()
        .collect().map(_.getInt(0))
      assert(ids.forall(id => id >= 0 && id < h.k1 * h.k2))
    }

    // measured operation bound: the executed Lloyd cost stays within
    // the per-level budget sample·k2·iters (2x slack for the sample
    // fraction overshoot) — the flat-fit model sample·k·iters is k1/2
    // times larger, which is exactly the sqrt(k) reduction the
    // two-level construction buys
    val iters = 8
    for (h <- Seq(h64, h1024)) {
      val bound = 2L * h.sampleTarget * h.k2 * iters
      assert(h.subLloydDistComps <= bound,
        s"k=${h.k1 * h.k2}: comps ${h.subLloydDistComps} > bound $bound")
      val flatModel = h.sampleTarget * (h.k1.toLong * h.k2) * iters
      assert(bound * 2 <= flatModel,
        s"hierarchical bound $bound is not clearly under flat model $flatModel")
    }
    // growing k 16x grows measured cost ~sqrt(16)=4x, not 16x
    assert(h1024.subLloydDistComps <= 6L * h64.subLloydDistComps,
      s"cost not sqrt-scaling: ${h64.subLloydDistComps} -> ${h1024.subLloydDistComps}")

    // the SemDeDup invariants hold on a hierarchical index exactly as
    // on a flat one: every exact-copy pair collapses to its lower id,
    // and the kept set has no same-cluster pair >= tau
    val tau = 0.9
    val kept = Ann.semanticDedup(h64.index, "embedding", "vec_id", tau)
    val keptIds = kept.select("vec_id").collect().map(_.getLong(0)).toSet
    base.filter($"vec_id" % 10 === 0).collect().map(_.getAs[Long]("vec_id"))
      .foreach { b =>
        assert(keptIds.contains(b), s"base $b was dropped")
        assert(!keptIds.contains(b + 1000000), s"clone of $b survived")
      }
    val k1c = kept.select($"vec_id".as("a"), $"cluster".as("c"), $"embedding".as("ea"))
    val k2c = kept.select($"vec_id".as("b"), $"cluster".as("c2"), $"embedding".as("eb"))
    val bad = k1c.join(k2c, $"c" === $"c2" && $"a" < $"b" &&
      graft.functions.cosine_sim($"ea", $"eb") >= tau).count()
    assert(bad === 0L, s"$bad kept same-cluster pairs above tau")

    // deterministic: a fresh build + dedup keeps the identical set
    val again = Ann.semanticDedup(
      Ann.buildIvfHierarchical(planted, "embedding", k = 64).index,
      "embedding", "vec_id", tau)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(again === keptIds)
  }

  test("hierarchical fit at volume: 20k rows, k=1024 — bounded cost, balanced cells") {
    // deterministic synthetic embeddings (splitmix-style hash -> 16
    // dims in [-1, 1]): enough volume that every coarse cell fits from
    // a real sample, at a k above the buildIvfAuto threshold scale
    def h64(x0: Long): Long = {
      var x = x0 + 0x9E3779B97F4A7C15L
      x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
      x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
      x ^ (x >>> 31)
    }
    val rows = Seq.tabulate(20000) { i =>
      (i.toLong, Array.tabulate(16) { j =>
        (h64(i.toLong * 31 + j).toDouble / Long.MaxValue).toFloat })
    }
    val df = spark.createDataFrame(rows).toDF("vec_id", "embedding")
    val t0 = System.nanoTime()
    val h = Ann.buildIvfHierarchical(df, "embedding", k = 1024)
    val fitSec = (System.nanoTime() - t0) / 1e9
    assert(fitSec < 120.0, s"fit took ${fitSec}s")
    assert(h.k1 * h.k2 >= 1024)
    // measured Lloyd work within the per-level budget
    assert(h.subLloydDistComps <= 2L * h.sampleTarget * h.k2 * 8)
    // the cells actually partition the data: many non-empty clusters,
    // and the mean non-empty cluster size stays near n/k instead of
    // collapsing into a few giant cells
    val sizes = h.index.assigned.groupBy("cluster").count()
      .collect().map(_.getLong(1))
    assert(sizes.length > 256, s"only ${sizes.length} non-empty clusters")
    assert(20000.0 / sizes.length < 80.0,
      s"mean cluster size ${20000.0 / sizes.length} vs target ~20")
  }

  test("hierarchical search: exhaustive probes equal brute force; pruned probes recall") {
    import org.apache.spark.sql.functions.col
    val base = emb.select($"vec_id", $"embedding")
    val h = Ann.buildIvfHierarchical(base, "embedding", k = 64)
    val kTot = h.k1 * h.k2
    val tie = Seq(col("vec_id"))
    val exact = Ann.bruteForce(h.index.assigned, "embedding", query, 10, tie)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    // exhaustive two-level probe = the exact scan (the ranking stages
    // only order candidates that all survive)
    val exhaustive = Ann.searchIvfHier(h, "embedding", query, 10,
        nprobeCoarse = h.k1, nprobe = kTot, tieBreak = tie)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(exhaustive === exact)
    // pruned probe: on this fixture (mutually far-apart random
    // vectors, no cluster structure) recall tracks probe COVERAGE, so
    // at half the clusters expect roughly half the top-10 — assert a
    // floor comfortably below the coverage expectation plus the one
    // structural guarantee (the query's own cluster ranks first, so
    // its own vector always recalls)
    val pruned = Ann.searchIvfHier(h, "embedding", query, 10,
        nprobeCoarse = math.max(2, h.k1 / 2), nprobe = kTot / 2, tieBreak = tie)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(pruned.intersect(exact.toSet).size >= 3,
      s"recall too low: ${pruned.intersect(exact.toSet).size}/10")
    assert(pruned.contains(7L)) // the query's own vector always recalls
  }

  test("hierarchical fit: a hot coarse cell is capped at O(cellCap), not its sample share") {
    // adversarial distribution: one direction holds ~87% of the mass,
    // so one coarse cell receives far more level-2 sample than
    // cellCap — the bounded-insertion buffer must trim it DURING
    // iteration (the old materialize-sort-take would first buffer the
    // whole slice). Proven from the measured Lloyd cost: the hot cell
    // contributes exactly cap·k2·iters comps when trimmed, more if not.
    def h64(x0: Long): Long = {
      var x = x0 + 0x9E3779B97F4A7C15L
      x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
      x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
      x ^ (x >>> 31)
    }
    def noisy(dir: Int, i: Long, eps: Float): Array[Float] =
      Array.tabulate(16)(j => (if (j == dir) 1f else 0f) +
        eps * (h64(i * 16 + j).toDouble / Long.MaxValue).toFloat)
    val rows = Seq.tabulate(3000) { i =>
      // 2600 points in a tight cone on axis 0; 400 spread over axes 1-7
      val d = if (i < 2600) 0 else 1 + (i % 7)
      (i.toLong, noisy(d, i.toLong, 0.001f))
    }
    val df = spark.createDataFrame(rows).toDF("vec_id", "embedding")
    val h = Ann.buildIvfHierarchical(df, "embedding", k = 64)
    val cellCap = 4 * 20 * h.k2
    // the hot cell's sample share exceeds the cap (else nothing trims)
    val sampleShare = (0.87 * 1.2 * h.sampleTarget).toLong
    assert(sampleShare > cellCap,
      s"fixture too small: hot share ~$sampleShare vs cap $cellCap")
    // lower bound: the hot cell HIT the cap (trim actually happened);
    // upper bound: nothing buffered beyond the cap — k-means may place
    // two coarse centers inside the cone (it does on this fixture's
    // seed), so allow up to two capped hot cells plus the light tail
    assert(h.subLloydDistComps >= cellCap.toLong * h.k2 * 8,
      s"hot cell never reached cellCap: ${h.subLloydDistComps}")
    assert(h.subLloydDistComps <= (2L * cellCap + 800) * h.k2 * 8,
      s"per-cell work exceeds the cap bound: ${h.subLloydDistComps}")
    // determinism through the bounded buffer: same build, same centers
    val h2 = Ann.buildIvfHierarchical(df, "embedding", k = 64)
    assert(h2.index.centers.map(_.toSeq).toSeq ===
      h.index.centers.map(_.toSeq).toSeq)
  }

  test("hierarchical index composes with SQ8 codes: exhaustive is exact, pruned recalls") {
    import org.apache.spark.sql.functions.col
    val base = emb.select($"vec_id", $"embedding")
    val h = Ann.buildIvfHierarchical(base, "embedding", k = 64)
    // cluster ids are cell·k2+j, addressable in the flat center table,
    // so the flat probe ranking works on the hierarchical output
    // unchanged
    val coded = Ann.withSq8(h.index, "embedding")
    val tie = Seq(col("vec_id"))
    val exact = Ann.bruteForce(base, "embedding", query, 10, tie)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    val n = base.count().toInt
    val got = Ann.searchIvf(coded, "embedding", query, 10,
        nprobe = coded.centers.length, tieBreak = tie, codes = Ann.Sq8(rescore = n))
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(got === exact)
    val pruned = Ann.searchIvf(coded, "embedding", query, 10,
        nprobe = math.max(1, coded.centers.length / 2), tieBreak = tie,
        codes = Ann.Sq8(rescore = 20))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(pruned.intersect(exact.toSet).size >= 3,
      s"recall too low: ${pruned.intersect(exact.toSet).size}/10")
    assert(pruned.contains(7L)) // the query's own cluster ranks first

    // two-level ranking + SQ8 scan (the √k probe the flat rank above
    // cannot do): exhaustive probes + rescore stay exact through the
    // hierarchical path too
    val hCoded = h.copy(index = coded)
    val hierExhaustive = Ann.searchIvfHier(hCoded, "embedding", query, 10,
        nprobeCoarse = h.k1, nprobe = h.k1 * h.k2, tieBreak = tie,
        codes = Ann.Sq8(rescore = n))
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(hierExhaustive === exact)
    val hierPruned = Ann.searchIvfHier(hCoded, "embedding", query, 10,
        nprobeCoarse = math.max(2, h.k1 / 2), nprobe = h.k1 * h.k2 / 2,
        tieBreak = tie, codes = Ann.Sq8(rescore = 20))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(hierPruned.intersect(exact.toSet).size >= 3)
    assert(hierPruned.contains(7L))
  }

  test("hierarchical index composes with PQ codes: exhaustive is exact") {
    import org.apache.spark.sql.functions.col
    val base = emb.select($"vec_id", $"embedding")
    val h = Ann.buildIvfHierarchical(base, "embedding", k = 64)
    val cb = Ann.fitPq(base, "embedding", m = 8)
    val hCoded = h.copy(index = Ann.withPq(h.index, "embedding", cb))
    val tie = Seq(col("vec_id"))
    val exact = Ann.bruteForce(base, "embedding", query, 10, tie)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    val n = base.count().toInt
    val got = Ann.searchIvfHier(hCoded, "embedding", query, 10,
        nprobeCoarse = h.k1, nprobe = h.k1 * h.k2, tieBreak = tie,
        codes = Ann.Pq(cb, rescore = n))
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(got === exact)
  }

  test("buildIvfAuto: flat path below threshold is byte-identical to buildIvf") {
    val base = emb.select($"vec_id", $"embedding")
    val auto = Ann.buildIvfAuto(base, "embedding", k = 8)
    val flat = Ann.buildIvf(base, "embedding", k = 8)
    assert(auto.centers.map(_.toSeq).toSeq === flat.centers.map(_.toSeq).toSeq)
    val a = auto.assigned.select("vec_id", "cluster").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val f = flat.assigned.select("vec_id", "cluster").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(a === f)
    // and past the threshold it routes to the hierarchical fit
    val big = Ann.buildIvfAuto(base, "embedding", k = 5000, hierThreshold = 4096)
    assert(big.centers.length >= 5000)
  }

  test("semanticDedup plan stays printable and bounded at 2^16 centroids") {
    // the round-7 residual: scoring via element_at(typedLit(centers))
    // re-inlined all k·d floats the assignment path had just stopped
    // inlining — at semanticK-scale k the plan neither printed nor
    // shipped. With centers as a reference object, plan SIZE must be
    // independent of k. (k=2^16, d=16 here: 4 MB of centers — enough
    // that any literal inlining would blow the bound by 1000x.)
    val k = 1 << 16
    val rnd = new scala.util.Random(11)
    val centers = Array.fill(k, 16)(rnd.nextFloat() * 2f - 1f)
    // synthetic assignment (executing an argmax over 2^16 centers is
    // not the point; scoring is O(d) per row regardless of k)
    val assigned = emb.select($"vec_id", $"embedding")
      .withColumn("cluster", ($"vec_id" % k).cast("int"))
    val kept = Ann.semanticDedup(Ann.IvfIndex(centers, assigned),
      "embedding", "vec_id", tau = 0.9)
    val planStr = kept.queryExecution.optimizedPlan.toString
    assert(planStr.length < 20000,
      s"plan scales with k (len=${planStr.length}) — centers are being inlined")
    // and it executes: per-row scoring touches ONE centroid, so the
    // run is cheap even with 2^16 centers in the reference object
    assert(kept.count() > 0)
  }

  test("semanticDedup collapses exact copies and keeps no same-cluster pair >= tau") {
    // plant exact copies (cos=1) of every 10th vector under new ids
    val copies = emb.filter($"vec_id" % 10 === 0)
      .select(($"vec_id" + 1000000).as("vec_id"), $"embedding")
    val planted = emb.select("vec_id", "embedding").unionByName(copies)
    val index = Ann.buildIvf(planted, "embedding", k = 8)
    val tau = 0.9
    val kept = Ann.semanticDedup(index, "embedding", "vec_id", tau)
    val keptIds = kept.select("vec_id").collect().map(_.getLong(0)).toSet

    // every exact-copy pair collapses to its lower id (equal centroid
    // cosine -> id tiebreak): the base survives, the clone never does
    val baseIds = emb.filter($"vec_id" % 10 === 0)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    baseIds.foreach { b =>
      assert(keptIds.contains(b), s"base $b was dropped")
      assert(!keptIds.contains(b + 1000000), s"clone of $b survived")
    }

    // invariant: the kept set contains NO same-cluster pair at >= tau
    val k1 = kept.select($"vec_id".as("a"), $"cluster".as("c"), $"embedding".as("ea"))
    val k2 = kept.select($"vec_id".as("b"), $"cluster".as("c2"), $"embedding".as("eb"))
    val bad = k1.join(k2, $"c" === $"c2" && $"a" < $"b" &&
      graft.functions.cosine_sim($"ea", $"eb") >= tau).count()
    assert(bad === 0L, s"$bad kept same-cluster pairs above tau")

    // deterministic: a second pass over a fresh index keeps the same set
    val again = Ann.semanticDedup(Ann.buildIvf(planted, "embedding", k = 8),
      "embedding", "vec_id", tau)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(again === keptIds)
  }

  test("driver probe list equals the batched ranking at nprobe = k, flat and hier") {
    // both forms rank by the same clamped cosine under the same total
    // order (cosine DESC, cluster ASC); the centers themselves are in
    // the panel, where an unclamped self-cosine can exceed 1.0
    val base = emb.select($"vec_id", $"embedding")
    val idx = Ann.buildIvf(base, "embedding", k = 16)
    val h = Ann.buildIvfHierarchical(base, "embedding", k = 16)
    val rows = emb.filter($"vec_id" < 20).select("embedding").collect()
      .map(_.getSeq[Float](0).toArray)
    val panel = (rows ++ idx.centers ++ h.coarse ++ h.index.centers).zipWithIndex
    val q = panel.toSeq.map { case (v, i) => (i.toLong, v.toSeq) }.toDF("qid", "qvec")
    for ((name, r, k) <- Seq(
        ("flat", Ann.Flat(idx), idx.centers.length),
        ("hier", Ann.TwoLevel(h, h.k1), h.index.centers.length))) {
      val batched = Ann.probesRanked(r, q, "qid", "qvec", k).collect()
        .groupBy(_.getLong(0))
        .map { case (qid, rs) => qid -> rs.sortBy(_.getInt(2)).map(_.getLong(1).toInt).toSeq }
      panel.foreach { case (v, i) =>
        assert(Ann.probeList(r, v, k).toSeq === batched(i.toLong), s"$name query $i")
      }
    }
  }

  test("buildIvfHierarchical refuses the reserved column before any Spark job") {
    val colliding = emb.withColumn("__graft_cell", org.apache.spark.sql.functions.lit(0))
    colliding.columns
    val jobs = jobsDuring {
      val e = intercept[IllegalArgumentException](
        Ann.buildIvfHierarchical(colliding, "embedding", k = 16))
      assert(e.getMessage.contains("__graft_cell"))
    }
    assert(jobs === 0)
  }

  test("concurrent fits on the shared Lloyd pool: centers bit-identical to a sequential fit") {
    // 5000 seeded vectors: five 1024-point chunks per Lloyd iteration,
    // so the four fits interleave on the pool (the sf fixtures hold at
    // most 2000 embeddings)
    val rnd = new scala.util.Random(7)
    val big = (0 until 5000)
      .map(i => (i.toLong, Seq.fill(64)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    def bits(i: Ann.IvfIndex) = i.centers.map(_.map(java.lang.Float.floatToRawIntBits).toSeq).toSeq
    val want = bits(Ann.buildIvf(big, "embedding", k = 16))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val got = (1 to 4).map(_ => pool.submit(() => bits(Ann.buildIvf(big, "embedding", k = 16))))
        .map(_.get(10, java.util.concurrent.TimeUnit.MINUTES))
      got.foreach(g => assert(g === want))
    } finally pool.shutdown()
  }
}
