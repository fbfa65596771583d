package graft

import org.apache.spark.sql.functions._

import graft.ops.Bpe

class BpeSpec extends SparkTestBase {
  import spark.implicits._

  // Sennrich et al.'s worked example shape: a tiny word table whose
  // greedy merges are hand-derivable.
  private val toyCounts: Array[(String, Long)] = Array(
    ("low", 5L), ("lower", 2L), ("newest", 6L), ("widest", 3L))

  test("learnMerges reproduces the hand-derived greedy merge sequence") {
    val m = Bpe.learnMerges(toyCounts, numMerges = 4)
    // pair counts round 1: (e,s)=9 (newest 6 + widest 3), (s,t)=9,
    // (l,o)=7, (o,w)=7, ... tie (e,s)/(s,t) breaks lexicographically
    // -> (e,s); then (es,t)=9; then (est,</w>)=9; then (l,o)=7.
    assert(m.merges(0) === (("e", "s")))
    assert(m.merges(1) === (("es", "t")))
    assert(m.merges(2) === (("est", Bpe.EndOfWord)))
    assert(m.merges(3) === (("l", "o")))
    assert(m.fittedWords === 4)
    // the fit-time base alphabet of the toy corpus, sorted
    assert(m.baseChars === "deilnorstw".map(_.toString))
  }

  test("encodeWord applies merges by rank and round-trips via detokenize") {
    val m = Bpe.learnMerges(toyCounts, numMerges = 10)
    val enc = Bpe.encodeWord("newest", m.ranks)
    // with 10 merges the top word fully fuses
    assert(enc.mkString("|").startsWith("newest") || enc.length <= 3)
    assert(Bpe.detokenize(enc.toIndexedSeq) === "newest")
    // an unseen word still encodes (down to chars where no merge fits)
    val unseen = Bpe.encodeWord("zq", m.ranks)
    assert(unseen.toSeq === Seq("z", "q", Bpe.EndOfWord))
  }

  test("merged-symbol pairs always rank after the merge that created the symbol") {
    // the invariant that makes one-at-a-time lowest-rank encoding
    // exactly the textbook algorithm: any pair containing symbol XY
    // can only be learned after (X,Y) itself
    val docs = sfDocs()
    val m = Bpe.train(docs, "text", numMerges = 120, maxWords = 5000)
    val rank = m.ranks
    m.merges.zipWithIndex.foreach { case ((l, r), i) =>
      val sym = l + r
      rank.foreach { case ((a, b), j) =>
        if (a == sym || b == sym)
          assert(j > i, s"pair ($a,$b)@$j uses symbol $sym born at $i")
      }
    }
  }

  private def sfDocs() =
    spark.read.parquet(s"${sf("sf0.001")}/documents.parquet")

  test("train is invariant to partitioning and row order") {
    val docs = sfDocs()
    val a = Bpe.train(docs, "text", numMerges = 64, maxWords = 4096)
    val b = Bpe.train(docs.repartition(17).sortWithinPartitions(desc("doc_id")),
      "text", numMerges = 64, maxWords = 4096)
    assert(a.merges === b.merges)
    assert(a.distinctWords === b.distinctWords)
  }

  test("encodeDocs round-trips every document (modulo whitespace runs) with no shuffle") {
    val docs = sfDocs().limit(200)
    val m = Bpe.train(docs, "text", numMerges = 80, maxWords = 4096)
    val enc = Bpe.encodeDocs(docs, "doc_id", "text", m)
    val joined = enc.as[(Long, Seq[String])].collect().toMap
    docs.select(col("doc_id").cast("long"), col("text")).as[(Long, String)]
      .collect().foreach { case (id, text) =>
        val expect = text.split("\\s+").filter(_.nonEmpty).mkString(" ")
        assert(Bpe.detokenize(joined(id)) === expect, s"doc $id")
      }
    // plan shape on the raw (un-limited) scan: the test input's
    // limit(200) adds its own SinglePartition exchange, so the
    // no-shuffle property is asserted on the unbounded frame
    val plan = Bpe.encodeDocs(sfDocs(), "doc_id", "text", m)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), "encode must stay partition-local")
  }

  test("more merges never increase a document's token count") {
    val docs = sfDocs().limit(300)
    val m64 = Bpe.train(docs, "text", numMerges = 64, maxWords = 4096)
    val m256 = Bpe.train(docs, "text", numMerges = 256, maxWords = 4096)
    // prefix property: a larger-budget model starts with the smaller one
    assert(m256.merges.take(m64.merges.length) === m64.merges)
    val c64 = Bpe.tokenCounts(docs, "doc_id", "text", m64)
      .as[(Long, Long)].collect().toMap
    val c256 = Bpe.tokenCounts(docs, "doc_id", "text", m256)
      .as[(Long, Long)].collect().toMap
    assert(c64.keySet === c256.keySet)
    c64.foreach { case (id, n) => assert(c256(id) <= n, s"doc $id") }
    // and zero merges = chars + one sentinel per word, exactly
    val m0 = Bpe.BpeModel(IndexedSeq.empty, 0, 0, 0)
    val c0 = Bpe.tokenCounts(docs, "doc_id", "text", m0)
      .as[(Long, Long)].collect().toMap
    val lens = docs.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)].collect().toMap
    c0.foreach { case (id, n) =>
      val words = lens(id).split("\\s+").filter(_.nonEmpty)
      assert(n === words.map(_.length + 1).sum.toLong, s"doc $id")
    }
  }

  test("maxWords fit cut is deterministic and drops only tail mass") {
    // hello:4 help:2 hero:1 zebra:1 zoo:1 — the (count desc, word asc)
    // total order puts {hello, help, hero} in a maxWords=3 head
    // (hero < zebra < zoo breaks the count tie); head pair mass gives
    // (h,e)=7 then (he,l)=6 as the first merges with or without the
    // Zipf tail, all hand-checkable
    val docs = Seq(
      (1L, "hello hello help zebra"), (2L, "hello help hero"),
      (3L, "hello zoo")).toDF("doc_id", "text")
    val full = Bpe.train(docs, "text", numMerges = 8, maxWords = 1 << 20)
    val cut = Bpe.train(docs, "text", numMerges = 8, maxWords = 3)
    assert(full.fittedWords === 5 && cut.fittedWords === 3)
    assert(full.distinctWords === 5L && cut.distinctWords === 5L)
    assert(full.merges.take(2) === IndexedSeq(("h", "e"), ("he", "l")))
    assert(cut.merges.take(2) === IndexedSeq(("h", "e"), ("he", "l")))
    // tail words dropped from the FIT still encode through the model
    val enc = Bpe.encodeWord("zebra", cut.ranks)
    assert(Bpe.detokenize(enc.toIndexedSeq) === "zebra")
  }

  test("save/load round-trips the model; corrupted rank tables fail loudly") {
    val docs = sfDocs()
    val m = Bpe.train(docs, "text", numMerges = 96, maxWords = 4096)
    val path = java.nio.file.Files.createTempDirectory("graft_bpe_").toString
    Bpe.save(m, spark, path)
    val back = Bpe.load(spark, path)
    assert(back.merges === m.merges)
    assert(back.distinctWords === m.distinctWords)
    assert(back.fittedWords === m.fittedWords)
    assert(back.baseChars === m.baseChars)
    // the reloaded model encodes identically
    val a = Bpe.tokenCounts(docs, "doc_id", "text", m).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val b = Bpe.tokenCounts(docs, "doc_id", "text", back).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(a === b)
    // rank-density guard: drop one merge row -> load must refuse
    val broken = java.nio.file.Files.createTempDirectory("graft_bpe_bad_").toString
    import spark.implicits._
    m.merges.zipWithIndex.filter(_._2 != 3)
      .map { case ((l, r), i) => (i, l, r) }
      .toDF("rank", "left_sym", "right_sym")
      .write.mode("overwrite").parquet(s"$broken/merges")
    Seq((1L, 1, 1L)).toDF("distinct_words", "fitted_words", "total_tokens")
      .write.parquet(s"$broken/meta")
    val e = intercept[IllegalArgumentException](Bpe.load(spark, broken))
    assert(e.getMessage.contains("rank-dense"))
  }

  test("emoji corpora survive the parquet persistence boundary intact") {
    // r12 review: lone-surrogate symbols would be silently replaced
    // with '?' by the UTF-8 write, making the reloaded model encode
    // differently than the trained one
    val smile = new String(Character.toChars(0x1F642))
    val docs = Seq((1L, s"${smile}hi hi$smile hi"), (2L, s"$smile $smile hi"))
      .toDF("doc_id", "text")
    val m = Bpe.train(docs, "text", numMerges = 24)
    assert(m.baseChars.contains(smile))
    val path = java.nio.file.Files.createTempDirectory("graft_bpe_emoji_").toString
    Bpe.save(m, spark, path)
    val back = Bpe.load(spark, path)
    assert(back.merges === m.merges && back.baseChars === m.baseChars)
    // and the distributed encode round-trips the emoji text exactly
    val enc = Bpe.encodeDocs(docs, "doc_id", "text", back)
      .as[(Long, Seq[String])].collect().toMap
    assert(Bpe.detokenize(enc(1L)) === s"${smile}hi hi$smile hi")
    assert(Bpe.detokenize(enc(2L)) === s"$smile $smile hi")
  }

  test("streaming encode twin: token counts on a documents stream == batch rows") {
    // encode is stateless (pure function of the row under the
    // broadcast model), so the SAME tokenCounts call runs on a
    // file-source stream and must produce the identical counts
    val m = Bpe.train(sfDocs(), "text", numMerges = 80, maxWords = 4096)
    val dir = java.nio.file.Files.createTempDirectory("graft_bpe_stream_").toString
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(sf("sf0.001"), "documents.parquet"),
      java.nio.file.Paths.get(dir, "documents.parquet"))
    val schema = spark.read.parquet(s"$dir/documents.parquet").schema
    val stream = spark.readStream.schema(schema).parquet(dir)
    val q = Bpe.tokenCounts(stream, "doc_id", "text", m)
      .writeStream.format("memory").queryName("bpe_stream_counts")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("bpe_stream_counts").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val batch = Bpe.tokenCounts(sfDocs(), "doc_id", "text", m).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(batch.nonEmpty && streamed === batch)
  }

  test("empty and null text encode to zero tokens, never throw") {
    val docs = Seq((1L, ""), (2L, "   "), (3L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val m = Bpe.learnMerges(toyCounts, 4)
    val counts = Bpe.tokenCounts(docs, "doc_id", "text", m)
      .as[(Long, Long)].collect().toMap
    assert(counts === Map(1L -> 0L, 2L -> 0L, 3L -> 0L))
    val trained = Bpe.train(docs, "text", numMerges = 4)
    assert(trained.merges.isEmpty && trained.distinctWords === 0L)
  }
}
