package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming-plane helpers: the streaming twins of catalog operators
  * (mixture sampling, sequence packing, budget selection, KMV
  * sketches). Windows, watermarks and CDC dedup are Spark built-ins
  * the catalog entries call directly.
  */
object Streaming {

  /** Deterministic training-mixture sampling (the sample_weighted
    * catalog operator), usable VERBATIM on batch or streaming frames:
    * keep a row iff its salted-FNV hash bucket (of `buckets`) falls
    * below the per-row `rateSql` threshold. The decision is a pure
    * function of the row — no state, no watermark, no rand() — so a
    * re-processed micro-batch, a task retry, or a backfill selects the
    * SAME rows, and the batch and streaming paths of one pipeline
    * agree row-for-row (StreamingSpec proves set equality). `buckets`
    * should stay a power of two so signed/unsigned hash views agree. */
  def sampleWeighted(df: DataFrame, idCol: String, rateSql: String,
      buckets: Int = 16384, salt: String = "mix:"): DataFrame = {
    // `bucket` is part of the OUTPUT contract (the catalog and its
    // oracle both read it), so it cannot be __graft_-prefixed away —
    // refuse inputs that already carry one instead of silently
    // overwriting the caller's column
    require(!df.columns.contains("bucket"),
      "sampleWeighted: input already has a 'bucket' column (it would be " +
        "overwritten by the sampling bucket output); rename it first")
    df.withColumn("bucket",
        pmod(graft.functions.fnv64(concat(lit(salt), col(idCol))),
          lit(buckets)))
      .filter(col("bucket") < expr(rateSql))
  }

  /** Streaming twin of the pack_sequences catalog operator: the same
    * (lang, fnv64-shard) running token windows, with the per-shard
    * running offset carried across micro-batches in GroupState —
    * packing is append-only arithmetic, so it streams naturally.
    * Within a micro-batch a shard's rows pack in doc_id order; across
    * batches they pack in arrival order on top of the carried offset.
    * A feed that delivers documents in doc_id order (the fixture file,
    * ordered drops) therefore reproduces the batch operator's rows
    * EXACTLY (StreamingSpec proves equality); any other feed still
    * packs deterministically in arrival order. State is one long per
    * (lang, shard) — bounded by key cardinality, no timeout needed;
    * per-batch work is one in-memory sort of the batch's shard slice.
    * At scale the parallelism story matches the batch twin: K shards
    * per language, never a bare-language key.
    *
    * Bootstrap note: `mapGroups`-family operators materialize each
    * key's micro-batch slice, so do NOT replay a 100-TB corpus through
    * the stream as one giant batch 0 — run the BATCH operator over the
    * snapshot and stream only the incremental tail, seeding state
    * implicitly via the carried offsets. */
  def packSequencesStream(df: DataFrame, budget: Long = 512L,
      shards: Int = 8): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.withColumn("shard",
        pmod(graft.functions.fnv64(concat(lit("shard:"), col("doc_id"))),
          lit(shards)))
      .withColumn("toks", size(split(col("text"), " ")).cast("long"))
      .select(col("doc_id").cast("long"), col("lang"), col("shard"),
        col("toks"))
      .as[(Long, String, Long, Long)]
      .groupByKey(r => (r._2, r._3))
      .flatMapGroupsWithState[Long, (Long, String, Long, Long, Long, Long)](
        org.apache.spark.sql.streaming.OutputMode.Append,
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout) {
        case ((lang, shard), rows, state) =>
          var cum = state.getOption.getOrElse(0L)
          val out = rows.toSeq.sortBy(_._1).map { case (docId, _, _, toks) =>
            cum += toks
            (docId, lang, shard, toks, cum, (cum - toks) / budget)
          }
          state.update(cum)
          out.iterator
      }
      .toDF("doc_id", "lang", "shard", "toks", "cum", "pack_id")
  }

  /** Streaming twin of corpus_budget_exact: the batch operator's
    * two-phase arithmetic (per-shard prune window, then the global
    * per-language greedy prefix) collapsed into one keyed stateful
    * pass. State per language = the K per-shard running starts plus
    * the global running sum over phase-1 survivors — O(K) longs; the
    * phase-2 arithmetic touches only rows the shard prune lets
    * through, which the batch operator's bound (<= K·(B+max_toks)
    * tokens per language, constant w.r.t. corpus size) applies to
    * verbatim. Within a micro-batch rows are taken in the batch
    * operator's (n_chars DESC, doc_id) order, so a single-batch feed
    * equals the batch rows exactly (StreamingSpec); a multi-batch feed
    * is arrival-order greedy on the carried state — the natural
    * streaming semantics for a budget that fills monotonically.
    * Same bootstrap note as [[packSequencesStream]]: batch the
    * snapshot, stream the tail — one language's micro-batch slice
    * materializes in its group iterator, which is fine for tails and
    * wrong for a single 100-TB batch 0. */
  def corpusBudgetExactStream(df: DataFrame, budget: Long = 2000L,
      shards: Int = 8): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.withColumn("shard",
        pmod(graft.functions.fnv64(concat(lit("shard:"), col("doc_id"))),
          lit(shards)))
      .withColumn("toks", size(split(col("text"), " ")).cast("long"))
      .select(col("doc_id").cast("long"), col("lang"),
        col("shard").cast("int"), col("n_chars").cast("long"), col("toks"))
      .as[(Long, String, Int, Long, Long)]
      .groupByKey(_._2)
      .flatMapGroupsWithState[(Seq[Long], Long), (String, Long, Long, Long)](
        org.apache.spark.sql.streaming.OutputMode.Append,
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout) {
        case (lang, rows, state) =>
          val (s0, g0) = state.getOption.getOrElse((Seq.fill(shards)(0L), 0L))
          // a restart with a different `shards` against checkpointed
          // state would silently misroute budgets — fail loudly instead
          require(s0.length == shards,
            s"corpusBudgetExactStream: checkpointed state has ${s0.length} " +
              s"shards but the query was started with $shards — restart with " +
              "the original shard count or a fresh checkpoint")
          val shardCums = s0.toArray
          var global = g0
          val out = Seq.newBuilder[(String, Long, Long, Long)]
          // the batch operator's order: n_chars DESC, doc_id ASC
          rows.toSeq.sortBy { case (docId, _, _, nChars, _) => (-nChars, docId) }
            .foreach { case (docId, _, shard, _, toks) =>
              val scum = shardCums(shard) + toks
              shardCums(shard) = scum // phase-1 window runs over ALL rows
              if (scum - toks < budget) { // shard-prune survivor
                val cum = global + toks
                global = cum // phase-2 window runs over survivors only
                if (cum - toks < budget) out += ((lang, docId, toks, cum))
              }
            }
          state.update((shardCums.toSeq, global))
          out.result().iterator
      }
      .toDF("lang", "doc_id", "toks", "cum")
  }

  /** Streaming KMV (bottom-k) distinct sketch: per group, carry the k
    * smallest sign-flipped splitmix64 hashes across micro-batches —
    * O(k) state per group, the streaming-cardinality shape at scale
    * (the state never grows with the stream; a distinct-count via
    * dropDuplicates would carry every key seen). Each batch emits the
    * group's CURRENT sketch row (n_min, k-th minimum, estimate), so a
    * dashboard reads the latest row per group. Signed order of
    * (h ^ Long.MinValue) equals unsigned order of h, so `sorted` walks
    * true unsigned-ascending hashes; the estimator is the batch
    * entry's expression verbatim — a single-batch feed therefore
    * equals batch `approx_distinct_kmv` exactly and the twin shares
    * its DuckDB oracle. The merge folds each arriving hash into a
    * bounded sorted set (insert only when below the current k-th
    * minimum, evict the max) — per-batch memory is O(k), never
    * O(slice), so even a giant batch 0 streams through the group
    * iterator without materializing it (ADVICE r14). */
  def kmvStream(df: DataFrame, k: Int = 64): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("event_type"),
        graft.functions.mix64(col("user_id"))
          .bitwiseXOR(lit(Long.MinValue)).as("fh"))
      .filter(col("fh").isNotNull)
      .as[(String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Seq[Long], (String, Int, Long, Double)](
        org.apache.spark.sql.streaming.OutputMode.Append,
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout) {
        case (et, rows, state) =>
          val cur = state.getOption.getOrElse(Seq.empty[Long])
          // bounded fold: |buf| <= k at all times; a hash enters only
          // if the sketch is unfilled or it beats the current max
          // (signed order == unsigned order of the raw hash, see above)
          val buf = scala.collection.mutable.TreeSet.empty[Long] ++ cur
          for ((_, h) <- rows) {
            if (buf.size < k) buf += h
            else if (h < buf.max && buf.add(h)) buf -= buf.max
          }
          val merged = buf.toIndexedSeq // ascending
          state.update(merged)
          val nMin = merged.length
          val kth = merged.last
          // the batch entry's estimator expression, verbatim
          val est =
            if (nMin < k) nMin.toDouble
            else (k - 1).toDouble /
              ((kth.toDouble + math.pow(2, 63)) / math.pow(2, 64))
          Iterator.single((et, nMin, kth, est))
      }
      .toDF("event_type", "n_min", "kth_flipped", "est_users")
  }
}
