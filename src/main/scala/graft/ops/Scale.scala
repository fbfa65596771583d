package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Scale levers for skew and co-location — the knobs a 100 TB
  * deployment turns when AQE's automatic handling isn't enough.
  *
  * - Salted two-phase aggregation: a hot key (one user producing 10% of
  *   all events) makes one reducer the straggler. Salting splits each
  *   key across `buckets` partial groups, then merges — shuffle #1
  *   carries (key, salt) groups, shuffle #2 only `buckets` rows per hot
  *   key.
  * - Salted join: replicate the SMALL side across salts so the big
  *   side's hot key spreads over `buckets` tasks. (AQE skew-join splits
  *   oversized partitions at runtime; explicit salting is for when the
  *   skew is in a single key, which AQE cannot split.)
  * - Bucketed co-located join: pre-bucket both tables on the join key →
  *   the join needs no Exchange at read time (verified in spec).
  */
object Scale {

  /** Input-skew guard for UNSPLITTABLE under-partitioned scans (guide
    * §2.5: "one huge unsplittable file (gzip)… repartition immediately
    * after the read"): when the plan yields fewer partitions than
    * `target` (default: the cluster's defaultParallelism), rows are
    * hash-repartitioned by `idCol` so the per-row kernels downstream
    * (shingle HOFs, minhash mixes) and any cached blocks they feed run
    * wide instead of on one task — the sf fixtures arrive as ONE
    * single-row-group parquet file, so every stage up to the first
    * exchange (and every stage over a cache built from it) was a
    * one-task serial chain. A well-partitioned input (any real
    * multi-file corpus) passes through untouched: the guard is a no-op
    * exactly where the extra full shuffle would be a real cost at
    * 100 TB. Hash-by-id (never round-robin/rand) keeps the assignment
    * deterministic under task retries (§2.5, SPARK-38388). */
  def spreadScan(df: DataFrame, idCol: String, target: Int = -1): DataFrame = {
    val t =
      if (target > 0) target
      else df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions * 2 < t) df.repartition(t, col(idCol)) else df
  }

  /** Two-phase (salted) sum/count aggregation over possibly-skewed keys.
    * Result equals a direct groupBy(keys).agg(sum/count) exactly for
    * these decomposable aggregates. */
  def saltedSumCount(df: DataFrame, keys: Seq[String], sumCol: String,
      buckets: Int): DataFrame = {
    val keyCols = keys.map(col)
    df.withColumn("__salt", pmod(spark_partition_id() + monotonically_increasing_id(), lit(buckets)))
      .groupBy(keyCols :+ col("__salt"): _*)
      .agg(sum(col(sumCol)).as("__psum"), count(lit(1)).as("__pcnt"))
      .groupBy(keyCols: _*)
      .agg(sum(col("__psum")).as(s"sum_$sumCol"), sum(col("__pcnt")).as("n"))
  }

  /** Salted equi-join: `big` (skewed) joined to `small` on `key`.
    * The small side is replicated `buckets` times; the big side gets a
    * deterministic-per-row salt, so one hot key spreads across
    * `buckets` reducers. Inner join semantics preserved. */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String,
      buckets: Int): DataFrame = {
    val salted = big.withColumn("__salt",
      pmod(xxhash64(monotonically_increasing_id()), lit(buckets)))
    val replicated = small
      .withColumn("__salt", explode(sequence(lit(0L), lit(buckets - 1L))))
    salted.join(replicated, Seq(key, "__salt")).drop("__salt")
  }

  /** Skew-guarded blocked SELF-join for pair mining (triangle
    * distribution): EXACTLY the pair set of
    * {{{ df a JOIN df b ON a.block = b.block AND a.id < b.id }}}
    * but with no reducer ever seeing more than ~`cap`² candidate
    * pairs from one block.
    *
    * Why: blocking keys derived from content (prefixes, cheap hashes)
    * are adversarially skewed — a corpus where b documents share one
    * boilerplate opening (license headers, templated pages) puts b²
    * verification pairs on ONE key = one task that runs for hours at
    * 100 TB while 999 executors idle. The classic exact fix is to
    * split an oversized block's members into g groups and fan its
    * self-join out over the g(g+1)/2 group pairs:
    *
    *  - g = ceil(blockSize / cap), clamped to [1, maxGroups]; normal
    *    blocks get g = 1, where the scheme degenerates to the plain
    *    equi-join (zero replication, same plan shape);
    *  - each member (group p) is replicated to the g tasks
    *    {(min(p,q), max(p,q)) : q < g}, so replication grows linearly
    *    in skew while per-task work falls quadratically;
    *  - a cross-group pair (p ≠ q) shares exactly one task key, and
    *    same-group pairs are kept only in the diagonal task (lo = hi),
    *    so every qualifying pair is emitted EXACTLY once — the result
    *    is provably identical to the naive join, which is what lets
    *    the DuckDB oracle stay the plain blocked join.
    *
    * Group assignment hashes `idCol` (not position), so the output is
    * deterministic under any input partitioning. Returns the joined
    * frame with `a`-side columns suffixed "_a", `b`-side "_b", with
    * `idCol + "_a" < idCol + "_b"` enforced.
    *
    * EXPENSIVE verification predicates (levenshtein, set intersection,
    * anything super-constant per pair) must ride in `verify` — a
    * Column over the suffixed output columns — NOT in a `.filter`
    * stacked on the result. A stacked filter gets pushed into the join
    * condition where Catalyst's merge order can place it BEFORE the
    * cheap `id_a < id_b` / diagonal dedup conjuncts, evaluating it on
    * every equi-match (both orientations + self-pairs + off-diagonal
    * replicas: measured 21× the deduped pair count, 9 s of redundant
    * levenshtein at sf0.1). The join below carries ONE explicit
    * condition with the cheap dedup conjuncts first and `verify` last;
    * conjunct order inside a single condition expression survives
    * equi-key extraction, so the expensive predicate runs exactly once
    * per surviving candidate pair.
    *
    * Selection: the guard is paid for only where a block is hot. When
    * the plan is built, [[hotBlocks]] runs ONCE, eagerly, as one
    * aggregate action over `df` (which also materializes a lazily
    * cached `df`), and its collected result is the hot set
    * [[triangleReplicate]] joins on. When no block has more than `cap`
    * members every g is 1, so the triangle scheme would only add the
    * size join, the `explode` and the three-key join; the plan is then
    * the plain self-join
    * {{{ a.block = b.block AND a.id < b.id AND verify }}}
    * in one join condition, cheap conjuncts first, with the same
    * output schema. On the seed-11 perfbench corpus (max df 80 against
    * cap 1024; 4-core host) the guarded join cost ~3× the plain one. */
  def blockedSelfJoinPairs(df: DataFrame, blockCol: String, idCol: String,
      cap: Int = 1024, maxGroups: Int = 64,
      verify: org.apache.spark.sql.Column = lit(true)): DataFrame = {
    val hot = hotBlocks(df, blockCol, cap, maxGroups)
    val guarded = hot.isDefined
    // block column first either way: the guarded input gets it there
    // from the size join's USING key
    val in = hot match {
      case Some(h) => triangleReplicate(df, blockCol, idCol, h)
      case None => df.select(blockCol, df.columns.filter(_ != blockCol): _*)
    }
    def side(suffix: String): DataFrame = in.toDF(in.columns.map(_ + suffix): _*)
    def same(c: String): Column = col(c + "_a") === col(c + "_b")
    val idOrder = col(idCol + "_a") < col(idCol + "_b")
    val cond =
      if (guarded)
        same(blockCol) && same("__lo") && same("__hi") && idOrder &&
          // same-group pairs appear in every task containing their
          // group: keep only the diagonal occurrence
          (col("__gid_a") =!= col("__gid_b") || col("__lo_a") === col("__hi_a")) &&
          verify
      else same(blockCol) && idOrder && verify
    side("_a").join(side("_b"), cond)
      .withColumnRenamed(blockCol + "_a", blockCol)
      .drop(blockCol + "_b", "__lo_a", "__hi_a", "__lo_b", "__hi_b",
        "__gid_a", "__gid_b")
  }

  /** `(blockCol, __g)` for every block with more than `cap` members:
    * its group count g = ceil(size / cap), clamped to `maxGroups`.
    * Collected in one eager job into a local frame (None when no block
    * is hot). Each hot block holds more than `cap` rows, so the set has
    * at most |df| / cap rows: the boilerplate keys on any real corpus. */
  private[graft] def hotBlocks(df: DataFrame, blockCol: String, cap: Int,
      maxGroups: Int): Option[DataFrame] = {
    require(cap > 0 && maxGroups > 0)
    val sizes = df.groupBy(blockCol).agg(count(lit(1)).as("__bn"))
      .filter(col("__bn") > cap)
      .select(col(blockCol),
        least(ceil(col("__bn").cast("double") / cap), lit(maxGroups))
          .cast("int").as("__g"))
    val rows = sizes.collectAsList()
    if (rows.isEmpty) None
    else Some(df.sparkSession.createDataFrame(rows, sizes.schema))
  }

  /** The replicated-and-task-keyed frame [[blockedSelfJoinPairs]]
    * self-joins on `(blockCol, __lo, __hi)` when a block is hot; `hot`
    * is the [[hotBlocks]] set. Exposed to ops so the per-task candidate
    * bound is assertable against the REAL join input, not a
    * re-derivation. */
  private[graft] def triangleReplicate(df: DataFrame, blockCol: String,
      idCol: String, hot: DataFrame): DataFrame = {
    // r21 (guide §2.3/§3.1): only HOT blocks (size > cap ⟺ g > 1) need
    // replication metadata — join the hot set LEFT and coalesce misses
    // to g = 1. The hot set is a local frame, broadcast whenever it is
    // under Spark's broadcast threshold, so the DATA side is not
    // shuffled by block just to learn its group count. Group
    // assignment for hot blocks is unchanged and cold blocks get g = 1,
    // so the emitted pair set is bit-identical to the naive join
    // (ScaleSpec re-proves it).
    df.join(hot, Seq(blockCol), "left")
      .withColumn("__g", coalesce(col("__g"), lit(1)))
      .withColumn("__gid", pmod(xxhash64(col(idCol)), col("__g")).cast("int"))
      .withColumn("__q", explode(sequence(lit(0), col("__g") - 1)))
      .withColumn("__lo", least(col("__gid"), col("__q")))
      .withColumn("__hi", greatest(col("__gid"), col("__q")))
      .drop("__q", "__g")
  }

  /** Skew-guarded TWO-TABLE equi-join for pair mining (grid
    * distribution — the 1-Bucket-Theta shape specialised to equi-keys):
    * EXACTLY the row set of
    * {{{ left JOIN right USING (keyCols) }}}
    * but with no reducer ever seeing more than ~`cap`² candidate pairs
    * from one key.
    *
    * The asymmetric sibling of [[blockedSelfJoinPairs]], for the
    * probe-vs-corpus joins (streaming LSH bands, incremental dedup)
    * where the two sides are DIFFERENT frames and `a.id < b.id`
    * canonicalisation does not apply. A hot key with l left rows and
    * r right rows — b near-identical boilerplate docs landing in one
    * (band, band_hash) bucket — puts l·r candidates on ONE reducer in
    * the plain join. Here the key's left rows are hash-split into
    * gl = ceil(l/cap) groups and its right rows into gr = ceil(r/cap)
    * groups (both clamped to `maxGroups`), each left row is replicated
    * to the gr tasks {(gid_l, q) : q < gr} and each right row to the
    * gl tasks {(p, gid_r) : p < gl}; the pair (i, j) meets in EXACTLY
    * one task, (gid_i, gid_j), so the output is provably identical to
    * the naive join — which is what lets the DuckDB oracles stay the
    * plain equi-join. Replication grows linearly in skew
    * (left × gr + right × gl rows) while per-task candidate volume
    * falls quadratically to ≤ ~cap². Unskewed keys get gl = gr = 1:
    * zero replication, the degenerate plan IS the plain join.
    *
    * Group sizes are computed from the join input; pass `rightSizes`
    * (the exact `right.groupBy(keyCols).count()` as `(keyCols…, __rn)`)
    * when the right side is a build-once corpus artifact so a
    * streaming caller does not re-aggregate the corpus per micro-batch.
    * Group assignment hashes the id columns (not position) → output is
    * deterministic under any input partitioning. Keys present on only
    * one side are dropped (inner-join semantics, zero pairs either
    * way). Returns keyCols ++ left-only ++ right-only columns; non-key
    * column names must not collide. */
  def gridJoinPairs(left: DataFrame, right: DataFrame, keyCols: Seq[String],
      leftId: String, rightId: String, cap: Int = 1024, maxGroups: Int = 64,
      rightSizes: Option[DataFrame] = None): DataFrame = {
    val (l2, r2) = gridReplicate(left, right, keyCols, leftId, rightId,
      cap, maxGroups, rightSizes)
    l2.join(r2, keyCols ++ Seq("__tl", "__tr")).drop("__tl", "__tr")
  }

  /** The replicated frames [[gridJoinPairs]] equi-joins on
    * `(keyCols…, __tl, __tr)`. Exposed so the per-task candidate bound
    * is assertable against the REAL join input. */
  private[graft] def gridReplicate(left: DataFrame, right: DataFrame,
      keyCols: Seq[String], leftId: String, rightId: String, cap: Int,
      maxGroups: Int, rightSizes: Option[DataFrame] = None)
      : (DataFrame, DataFrame) = {
    require(cap > 0 && maxGroups > 0)
    val keys = keyCols.map(col)
    def groups(n: Column): Column =
      least(ceil(n.cast("double") / cap), lit(maxGroups)).cast("int")
    val lSizes = left.groupBy(keys: _*).agg(count(lit(1)).as("__ln"))
    val rSizes = rightSizes.getOrElse(
      right.groupBy(keys: _*).agg(count(lit(1)).as("__rn")))
    // r21: replication metadata only for HOT keys (either side past
    // cap ⟺ gl·gr > 1) — see [[triangleReplicate]]'s note: the
    // filtered table is tiny on real corpora, AQE broadcasts it, and
    // the data sides stop being shuffled by key just to learn their
    // group counts; misses coalesce to the exact gl = gr = 1 the full
    // inner join assigned them. A key hot on one side but ABSENT from
    // the other stays out of the table (inner size join) — it can
    // produce no pairs, so its replication is irrelevant; its rows
    // ride to the main join unreplicated and drop there, as they
    // always did in the plain equi-join. Pair set bit-identical
    // (ScaleSpec).
    val sizes = lSizes.join(rSizes, keyCols)
      .select(keys :+ groups(col("__ln")).as("__gl")
        :+ groups(col("__rn")).as("__gr"): _*)
      .filter(col("__gl") > 1 || col("__gr") > 1)
    val l2 = left.join(sizes, keyCols, "left")
      .withColumn("__gl", coalesce(col("__gl"), lit(1)))
      .withColumn("__gr", coalesce(col("__gr"), lit(1)))
      .withColumn("__tl", pmod(xxhash64(col(leftId)), col("__gl")).cast("int"))
      .withColumn("__tr", explode(sequence(lit(0), col("__gr") - 1)))
      .drop("__gl", "__gr")
    val r2 = right.join(sizes, keyCols, "left")
      .withColumn("__gl", coalesce(col("__gl"), lit(1)))
      .withColumn("__gr", coalesce(col("__gr"), lit(1)))
      .withColumn("__tr", pmod(xxhash64(col(rightId)), col("__gr")).cast("int"))
      .withColumn("__tl", explode(sequence(lit(0), col("__gl") - 1)))
      .drop("__gl", "__gr")
    (l2, r2)
  }

  /** Build a Bloom filter over `dim`'s join keys — the SEMI-JOIN
    * PUSHDOWN artifact for a 100-TB fact scan: a fact⋈dim join where
    * the dim side keeps few keys still shuffles EVERY fact row before
    * the join can drop the misses; probing a bloom of the dim keys
    * inside the fact's scan stage drops them pre-shuffle, at zero
    * false negatives (exactness restored by the real join behind it).
    * Spark's own AQE runtime filter (InjectRuntimeFilter) plants the
    * same shape automatically, but only within one query and under
    * its own thresholds; this explicit artifact is BUILD-ONCE /
    * APPLY-MANY — e.g. a dedup keep-set bloom probed by every
    * downstream corpus scan of a pipeline, or shipped cross-job like
    * the IVF centers sidecar.
    *
    * The filter binary is `optimalNumOfBits(n, fpp)` bits (~9.6
    * bits/key at 1% fpp — 1.2 MB per million keys): driver-held and
    * broadcast-sized, the same budget class as a broadcast-hash dim.
    * Keys are probed via xxhash64 (seed 42), matching
    * [[bloomPrefilter]]'s probe exactly. */
  def bloomKeyFilter(dim: DataFrame, dimKey: String,
      expectedItems: Long = -1L, fpp: Double = 0.01): Array[Byte] = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graftbridge.GraftSql
    require(fpp > 0 && fpp < 1, s"bloomKeyFilter: fpp must be in (0,1), got $fpp")
    val n = if (expectedItems > 0) expectedItems else dim.select(dimKey).count()
    val numBits = org.apache.spark.util.sketch.BloomFilter
      .optimalNumOfBits(math.max(1L, n), fpp)
    val agg = new BloomFilterAggregate(
      new XxHash64(Seq(GraftSql.expression(col(dimKey))), 42L),
      Literal(math.max(1L, n)), Literal(numBits))
    // BloomFilterAggregate SILENTLY Math.min-clamps numBits/numItems to
    // the runtime-filter confs (defaults: 67108864 bits = 8 MB, 4M
    // items) — past ~4-7M dim keys the real fpp would quietly degrade
    // toward 1, turning the prefilter into a per-row-cost no-op exactly
    // in the 100-TB regime it targets (no false negatives, so results
    // would stay correct — only the pruning would vanish). Raise the
    // confs to this build's exact sizes IN A SESSION CLONE
    // (`newSession()` shares the SparkContext but owns its SQLConf), so
    // the promised ~9.6 bits/key holds at ANY dim size (ScaleSpec
    // proves the built filter's bitSize past the default clamp) while
    // the caller's session is never mutated: concurrent queries in the
    // parent session can't have their optimizer-injected runtime
    // filters sized by our inflated limits, and a JVM death mid-build
    // leaves nothing to restore (the round-9 advice finding — the old
    // set/restore on the shared conf had both hazards).
    val parent = dim.sparkSession
    val clone = parent.newSession()
    // newSession() builds its SQLConf from the SparkContext conf, NOT
    // the parent's runtime spark.conf.set() mutations — copy the
    // parent's live values over first so the build plans under the
    // caller's semantics (ANSI mode, shuffle partitions sized for the
    // dim, their own raised bloom limits), then lift only the two
    // clamp confs. Static/immutable entries refuse the set — skip them.
    parent.conf.getAll.foreach { case (k, v) =>
      try clone.conf.set(k, v) catch { case _: Exception => () }
    }
    clone.conf.set("spark.sql.optimizer.runtime.bloomFilter.maxNumBits",
      math.max(numBits,
        clone.conf.get("spark.sql.optimizer.runtime.bloomFilter.maxNumBits").toLong))
    clone.conf.set("spark.sql.optimizer.runtime.bloomFilter.maxNumItems",
      math.max(math.max(1L, n),
        clone.conf.get("spark.sql.optimizer.runtime.bloomFilter.maxNumItems").toLong))
    GraftSql.inSession(clone, dim)
      .select(GraftSql.column(agg.toAggregateExpression()).as("bf"))
      .head().getAs[Array[Byte]](0)
  }

  /** Probe a [[bloomKeyFilter]] inside `fact`'s scan stage: rows whose
    * key cannot be in the dim set are dropped BEFORE any exchange.
    * No false negatives — composing with the real join afterwards is
    * result-identical to the unfiltered join (the oracle-gated
    * `bloom_prefilter_join` catalog entry proves it); false positives
    * (~fpp of non-matching rows) just ride through to the join that
    * would have dropped them anyway. */
  def bloomPrefilter(fact: DataFrame, factKey: String,
      bloom: Array[Byte]): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal, XxHash64}
    import org.apache.spark.sql.graftbridge.GraftSql
    fact.filter(GraftSql.column(BloomFilterMightContain(
      Literal.create(bloom, org.apache.spark.sql.types.BinaryType),
      new XxHash64(Seq(GraftSql.expression(col(factKey))), 42L))))
  }

  /** Persist a bloom filter the way the other build-once artifacts
    * persist (IVF centers, PQ codebooks): a one-row binary sidecar
    * table, so the SAME filter binary serves every later batch or
    * streaming scan of the pipeline (and any engine that can read
    * parquet + spark's bloom encoding). */
  def persistBloom(bloom: Array[Byte],
      spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
    import spark.implicits._
    Seq(bloom).toDF("bloom").coalesce(1).write.mode("overwrite").parquet(path)
  }

  def loadBloom(spark: org.apache.spark.sql.SparkSession,
      path: String): Array[Byte] =
    spark.read.parquet(path).head().getAs[Array[Byte]]("bloom")
}
