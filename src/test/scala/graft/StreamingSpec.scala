package graft

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.streaming.Streaming

/** Streaming-plane spec: memory-sink queries driven synchronously with
  * processAllAvailable (spark guide pattern). */
class StreamingSpec extends SparkTestBase {
  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("graftstream").toString

  test("snapshot-then-tail union (S2): batch bootstrap + stream tail") {
    val dir = tmp()
    Files.write(Paths.get(dir, "tail.jsonl"),
      java.util.List.of("""{"k":"t1"}""", """{"k":"t2"}"""))
    val snapshot = Seq("""{"k":"s1"}""").toDF("payload")
    // streaming side reads the same NDJSON shape
    val tail = spark.readStream.text(dir).withColumnRenamed("value", "payload")
    // batch-union-stream isn't allowed directly; bootstrap runs first,
    // then the tail query continues — verify both phases land in the sink.
    val outDir = tmp() + "/out"; val ckpt = tmp() + "/ck"
    snapshot.write.mode("append").text(outDir) // phase 1: bootstrap
    val q = tail.writeStream.format("text")
      .option("path", outDir).option("checkpointLocation", ckpt).start()
    q.processAllAvailable(); q.stop()
    // NB: reading the sink ROOT would consult the streaming commit log
    // (_spark_metadata) and hide the batch-appended bootstrap file; the
    // glob bypasses the log. Real deployments should bootstrap through
    // the stream source dir instead (`load_initial_data`, Sources).
    val lines = spark.read.text(s"$outDir/part*").as[String].collect().toSet
    assert(lines === Set("""{"k":"s1"}""", """{"k":"t1"}""", """{"k":"t2"}"""))
  }

  test("engine: streaming pipeline create/status/delete lifecycle (C1/C2/C4)") {
    val dir = tmp()
    Files.write(Paths.get(dir, "in.jsonl"), java.util.List.of("""{"a":"b"}"""))
    val engine = new graft.pipeline.Engine(spark)
    val spec = graft.model.ConfigParser.parsePipelineSpec(
      s"""{"source": {"name":"s","type":"file","key":"pk",
         |  "config": {"path": "$dir", "transforms": "uppercase"}},
         | "sink": {"name":"k","type":"memory","key":"pk",
         |  "config": {"query_name": "pipe_out"}}}""".stripMargin)
    val q = engine.createPipeline(spec)
    q.processAllAvailable()
    assert(engine.status().keySet === Set("pk"))
    assert(engine.status()("pk").startsWith("active"))
    // C5 metrics surface: full lastProgress JSON per active query
    val prog = engine.progress()("pk")
    assert(prog.contains("\"numInputRows\"") && prog.contains("\"batchId\""))
    val rows = spark.table("pipe_out").as[String].collect()
    assert(rows.sameElements(Array("""{"a":"B"}""")))
    assert(engine.deletePipeline("pk"))
    assert(engine.status().isEmpty)
    assert(engine.progress().isEmpty)
  }

  // ---- streaming <-> batch equivalence over the sf0.001 fixtures ----
  // The catalog's stream_tumbling / stream_session entries are batch
  // expressions of streaming semantics (that is what makes them
  // DuckDB-oracle-able). These two tests close the loop: the SAME
  // semantics through actual Structured Streaming — file source over
  // the fixture parquet, watermarks, window/session_window state —
  // must produce the SAME rows the oracled batch twins do.

  /** Stream the events fixture: copy the parquet into a source dir so
    * the file source can discover it (and later files can advance the
    * watermark). Returns (source stream with µs ts, source dir). */
  private def eventsStream(): (org.apache.spark.sql.DataFrame, String) = {
    val dir = tmp()
    Files.copy(Paths.get(sf("sf0.001"), "events.parquet"),
      Paths.get(dir, "events.parquet"))
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    // same ts normalization as Catalog.events
    val stream = spark.readStream.schema(schema).parquet(dir)
      .withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
    (stream, dir)
  }

  test("sample_weighted twin: the mixing filter on a documents stream == batch rows") {
    // the training-mixture primitive is stateless (pure row hash), so
    // the SAME Streaming.sampleWeighted call runs on the stream — no
    // state, no watermark — and must select the identical document set
    val dir = tmp()
    Files.copy(Paths.get(sf("sf0.001"), "documents.parquet"),
      Paths.get(dir, "documents.parquet"))
    val schema = spark.read.parquet(s"$dir/documents.parquet").schema
    val stream = spark.readStream.schema(schema).parquet(dir)
    val mixed = graft.streaming.Streaming.sampleWeighted(
        stream, "doc_id", graft.queries.Batch10.mixRateSql)
      .select($"doc_id", $"lang", $"bucket")
    val q = mixed.writeStream.format("memory").queryName("eq_mix")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("eq_mix").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val batch = SparkEntry.queries("sample_weighted")(spark, sf("sf0.001"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(batch.nonEmpty && streamed === batch)
  }

  test("IVF append twin: streaming frozen-center appends == the full batch assignment") {
    // incremental index maintenance end-to-end: persist an index built
    // on half the vectors, stream the other half through
    // idempotentForeachBatch + appendToIvf (foreachBatch appends — no
    // _spark_metadata in the index dir), reload, and the assignment
    // must equal one batch assignment of ALL rows under the frozen
    // centers
    val emb = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
    val first = emb.filter($"vec_id" < 500)
    val index = graft.ops.Ann.buildIvf(first, "embedding", k = 8)
    val path = tmp()
    graft.ops.Ann.persistIvf(index, path)
    val feed = tmp()
    emb.filter($"vec_id" >= 500).write.mode("overwrite").parquet(feed)
    val schema = spark.read.parquet(feed).schema
    val stream = spark.readStream.schema(schema).parquet(feed)
    val q = graft.ops.Ann.idempotentForeachBatch(stream, path, "") { b =>
        graft.ops.Ann.appendToIvf(index, b, "embedding", path)
      }.option("checkpointLocation", tmp())
      .start()
    q.processAllAvailable(); q.stop()
    val loaded = graft.ops.Ann.loadIvf(spark, path)
    val got = loaded.assigned.select($"vec_id", $"cluster").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val want = graft.ops.Ann.assignByCosine(emb, "embedding", index.centers)
      .select($"vec_id", $"cluster").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got.size === want.size && got === want)
  }

  test("hier IVF append twin: streaming two-pass appends == the two-pass assignment of all rows") {
    // the hierarchical flavor of the append twin: same frozen-center
    // stream-append lifecycle, but routed through the build's two-pass
    // assignment (coarse cell then cell-bounded argmax)
    val emb = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
      .select($"vec_id", $"embedding")
    val h = graft.ops.Ann.buildIvfHierarchical(
      emb.filter($"vec_id" < 500), "embedding", k = 16)
    val path = tmp()
    graft.ops.Ann.persistIvfHier(h, path)
    val feed = tmp()
    emb.filter($"vec_id" >= 500).write.mode("overwrite").parquet(feed)
    val stream = spark.readStream
      .schema(spark.read.parquet(feed).schema).parquet(feed)
    val q = graft.ops.Ann.idempotentForeachBatch(stream, path, "") { b =>
        graft.ops.Ann.appendToIvf(h, b, "embedding", path)
      }.option("checkpointLocation", tmp())
      .start()
    q.processAllAvailable(); q.stop()
    val loaded = graft.ops.Ann.loadIvfHier(spark, path)
    val got = loaded.index.assigned.select($"vec_id", $"cluster").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val want = graft.ops.Ann.assignByCosineHier(emb, "embedding", h)
      .select($"vec_id", $"cluster").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got.size === want.size && got === want)
  }

  test("pack_sequences twin: stateful shard packing on a documents stream == batch rows") {
    // the running (lang, shard) token offsets live in GroupState; on
    // the ordered fixture feed the stream must pack every document
    // into the same pack at the same offset as the batch operator
    val dir = tmp()
    Files.copy(Paths.get(sf("sf0.001"), "documents.parquet"),
      Paths.get(dir, "documents.parquet"))
    val schema = spark.read.parquet(s"$dir/documents.parquet").schema
    val stream = spark.readStream.schema(schema).parquet(dir)
    val packed = graft.streaming.Streaming.packSequencesStream(stream)
    val q = packed.writeStream.format("memory").queryName("eq_pack")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("eq_pack").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSet
    val batch = SparkEntry.queries("pack_sequences")(spark, sf("sf0.001"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSet
    assert(batch.nonEmpty && streamed === batch)
  }

  test("streamed k-NN join == batch join; a same-token rerun never duplicates") {
    // queries stream through the run-scoped marker shell, each
    // micro-batch joined against the frozen index with knnJoinIvf
    val dir = tmp()
    Files.copy(Paths.get(sf("sf0.001"), "embeddings.parquet"),
      Paths.get(dir, "embeddings.parquet"))
    val emb = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
    val idx = graft.ops.Ann.buildIvf(emb, "embedding", k = 8)
    val out = tmp()
    def runOnce(): Unit = {
      val stream = spark.readStream.schema(emb.schema).parquet(dir)
        .filter($"vec_id" < 5)
        .select($"vec_id".as("qid"), $"embedding".as("qvec"))
      val q = graft.ops.Ann.idempotentForeachBatch(stream, out, "spec-run") { batch =>
        graft.ops.Ann.knnJoinIvf(idx, "embedding", "vec_id", batch,
            "qid", "qvec", topK = 3, nprobe = 8, excludeSelf = true)
          .write.mode("append").parquet(s"$out/results")
      }.start()
      q.processAllAvailable(); q.stop()
    }
    runOnce()
    def resultRows = spark.read.parquet(s"$out/results")
    val streamed = resultRows.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    val batchRows = graft.ops.Ann.knnJoinIvf(idx, "embedding", "vec_id",
        emb.filter($"vec_id" < 5)
          .select($"vec_id".as("qid"), $"embedding".as("qvec")),
        "qid", "qvec", topK = 3, nprobe = 8, excludeSelf = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(streamed.nonEmpty && streamed === batchRows)
    // a RERUN with the same token (fresh query, batchIds restart at 0)
    // models restart-from-checkpoint: the run-scoped markers swallow
    // every replayed batch, so the result set gains zero rows
    runOnce()
    assert(resultRows.count() === batchRows.size)
  }

  test("corpus_budget_exact twin: two-phase budget state on a documents stream == batch rows") {
    // phase-1 per-shard starts + phase-2 global sum ride in one keyed
    // state; the single-batch fixture feed must select exactly the
    // batch operator's (lang, doc_id, toks, cum) rows
    val dir = tmp()
    Files.copy(Paths.get(sf("sf0.001"), "documents.parquet"),
      Paths.get(dir, "documents.parquet"))
    val schema = spark.read.parquet(s"$dir/documents.parquet").schema
    val stream = spark.readStream.schema(schema).parquet(dir)
    val sel = graft.streaming.Streaming.corpusBudgetExactStream(stream)
    val q = sel.writeStream.format("memory").queryName("eq_budget")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("eq_budget").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val batch = SparkEntry.queries("corpus_budget_exact")(spark, sf("sf0.001"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(batch.nonEmpty && streamed === batch)
  }

  test("bloom prefilter twin: a persisted keep-set bloom on an orders stream == batch rows") {
    // the build-once/apply-many artifact end-to-end: build the dim-key
    // bloom once, persist it, and probe the RELOADED binary on a
    // streaming fact scan — stateless filter, no watermark, identical
    // row set to the batch probe
    val dim = spark.read.parquet(sf("sf0.001") + "/customer.parquet")
      .filter($"c_mktsegment" === "BUILDING").select($"c_custkey")
    val bloomDir = tmp()
    graft.ops.Scale.persistBloom(
      graft.ops.Scale.bloomKeyFilter(dim, "c_custkey"), spark, bloomDir)
    val bloom = graft.ops.Scale.loadBloom(spark, bloomDir)
    val dir = tmp()
    Files.copy(Paths.get(sf("sf0.001"), "orders.parquet"),
      Paths.get(dir, "orders.parquet"))
    val schema = spark.read.parquet(s"$dir/orders.parquet").schema
    val stream = spark.readStream.schema(schema).parquet(dir)
      .select($"o_orderkey", $"o_custkey")
    val filtered = graft.ops.Scale.bloomPrefilter(stream, "o_custkey", bloom)
    val q = filtered.writeStream.format("memory").queryName("eq_bloom")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("eq_bloom").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = graft.ops.Scale.bloomPrefilter(
        spark.read.parquet(sf("sf0.001") + "/orders.parquet")
          .select($"o_orderkey", $"o_custkey"), "o_custkey", bloom)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(batch.nonEmpty && streamed === batch)
  }

  test("stream_tumbling twin: real streaming window agg == oracled batch rows") {
    val (stream, _) = eventsStream()
    val agg = stream
      .groupBy(window($"ts", "1 hour"), $"event_type")
      .agg(count(lit(1)).as("n"),
        sum($"value".cast("decimal(18,4)")).cast("double").as("sum_value"))
    val q = agg.writeStream.format("memory").queryName("eq_tumbling")
      .outputMode("complete").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("eq_tumbling")
      .select($"window.start".as("win_start"), $"event_type", $"n", $"sum_value")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSet
    val batch = SparkEntry.queries("stream_tumbling")(spark, sf("sf0.001"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSet
    assert(batch.nonEmpty && streamed === batch)
  }

  test("stream_session twin: session_window + watermark == oracled batch sessions") {
    val (stream, dir) = eventsStream()
    val agg = stream
      .withWatermark("ts", "0 seconds")
      .groupBy(session_window($"ts", "30 minutes"), $"user_id")
      .agg(count(lit(1)).as("n_events"), min($"event_id").as("first_event"))
    val q = agg.writeStream.format("memory").queryName("eq_session")
      .outputMode("append").start()
    q.processAllAvailable()
    // phase 2: a far-future sentinel event pushes the global watermark
    // past every real session so append mode finalizes them all
    val raw = spark.read.parquet(s"$dir/events.parquet")
    // sentinel ts in the file's own ts type (TIMESTAMP_NTZ) so the
    // appended file's schema matches the stream's
    val maxTs = raw.agg(max("ts")).head().getAs[java.time.LocalDateTime](0)
    raw.limit(1)
      .withColumn("ts", lit(maxTs.plusDays(1)).cast(raw.schema("ts").dataType))
      .withColumn("user_id", lit(-1L)) // real user_ids are non-negative
      .write.mode("append").parquet(dir)
    q.processAllAvailable(); q.stop()
    // session_window assigns no ordinal; derive one per user by start
    // time to compare against the batch twin's running session_id
    val streamed = spark.table("eq_session")
      .filter($"user_id" =!= -1L)
      .select($"user_id", $"session_window.start".as("st"),
        $"n_events", $"first_event")
      .withColumn("session_id", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy($"user_id").orderBy($"st")))
      .select($"user_id", $"session_id".cast("long"), $"n_events", $"first_event")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    val batch = SparkEntry.queries("stream_session")(spark, sf("sf0.001"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(batch.nonEmpty && streamed === batch)
  }

  test("stream_sliding twin: real streaming sliding-window agg == oracled batch rows") {
    val (stream, _) = eventsStream()
    val agg = stream
      .groupBy(window($"ts", "1 hour", "30 minutes"), $"event_type")
      .agg(count(lit(1)).as("n"),
        sum($"value".cast("decimal(18,4)")).cast("double").as("sum_value"))
    val q = agg.writeStream.format("memory").queryName("eq_sliding")
      .outputMode("complete").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("eq_sliding")
      .select($"window.start".as("win_start"), $"event_type", $"n", $"sum_value")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSet
    val batch = SparkEntry.queries("stream_sliding")(spark, sf("sf0.001"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSet
    assert(batch.nonEmpty && streamed === batch)
  }

  test("first-event dedup twin: streaming min-per-key agg == oracled batch rows") {
    val (stream, _) = eventsStream()
    // dedup_first_event's semantics (first by the (ts, event_id) total
    // order per key) are order-independent when expressed as a
    // min-struct aggregate, so the streaming replay cannot be affected
    // by arrival order — complete mode, no watermark needed
    val agg = stream.groupBy($"user_id", $"event_type")
      .agg(min(struct(unix_micros($"ts").as("us"), $"event_id")).as("f"))
    val q = agg.writeStream.format("memory").queryName("eq_first")
      .outputMode("complete").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("eq_first")
      .select($"user_id", $"event_type", $"f.event_id")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val batch = SparkEntry.queries("dedup_first_event")(spark, sf("sf0.001"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(batch.nonEmpty && streamed === batch)
  }

  test("streaming content dedup: exact-dedup keeper set == batch twin on documents") {
    // the streaming half of the exact-dedup plane: documents arrive as
    // a stream, keeper = min doc_id per content hash — a min-aggregate
    // is arrival-order independent, so the replay must equal
    // dedup_exact_docs' (content_hash, keeper_id) pairs exactly
    // the fixture is a single parquet FILE; the file stream source
    // wants a directory
    val dir = tmp()
    Files.copy(Paths.get(sf("sf0.001"), "documents.parquet"),
      Paths.get(dir, "documents.parquet"))
    val stream = spark.readStream
      .schema(spark.read.parquet(sf("sf0.001") + "/documents.parquet").schema)
      .parquet(dir)
    val agg = stream.groupBy(md5($"text").as("content_hash"))
      .agg(min($"doc_id").as("keeper_id"), count(lit(1)).as("n_copies"))
    val q = agg.writeStream.format("memory").queryName("sdedup_docs")
      .outputMode("complete").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("sdedup_docs")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val batch = SparkEntry.queries("dedup_exact_docs")(spark, sf("sf0.001"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(batch.nonEmpty && streamed === batch)
  }
}
