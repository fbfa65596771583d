package graft

import graft.kv._

/** KV semantics spec, mirroring the reference's FSM tests
  * (`/root/reference/internal/store/store_test.go:114-507` — the
  * de-facto semantics spec per SURVEY §5). */
class KvSpec extends SparkTestBase {
  import spark.implicits._

  private def kvMap(df: org.apache.spark.sql.DataFrame): Map[String, String] =
    df.collect().map(r => r.getString(0) -> r.getString(1)).toMap

  private def joins(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.logical.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }.size

  test("parser: SET value is the space-joined remainder, may be empty") {
    assert(StatementParser.parse("SET k v") === Right(SetStmt("k", "v")))
    assert(StatementParser.parse("SET k a b  c") === Right(SetStmt("k", "a b c")))
    assert(StatementParser.parse("SET k") === Right(SetStmt("k", "")))
    assert(StatementParser.parse("  set k v ") === Right(SetStmt("k", "v")))
  }

  test("parser: never throws on arbitrary input; SET round-trips (property)") {
    val rnd = new scala.util.Random(42)
    val chars = "abkv \t\"'\\{}[]\n\u0000=;,:/%!$SETGDL0129"
    (0 until 500).foreach { _ =>
      val s = (0 until rnd.nextInt(24)).map(_ => chars(rnd.nextInt(chars.length))).mkString
      // total: Left for garbage, Right for valid — never an exception
      StatementParser.parse(s) match {
        case Right(SetStmt(k, _))   => assert(k.nonEmpty)
        case Right(DeleteStmt(k))   => assert(k.nonEmpty)
        case Right(GetStmt(k))      => assert(k.nonEmpty)
        case Left(err)              => assert(err.nonEmpty)
      }
    }
    // SET k <anything without leading/trailing/double spaces> round-trips
    (0 until 200).foreach { _ =>
      val k = "k" + rnd.nextInt(1000)
      val words = (0 until 1 + rnd.nextInt(4)).map(_ => "w" + rnd.nextInt(100))
      val v = words.mkString(" ")
      assert(StatementParser.parse(s"SET $k $v") === Right(SetStmt(k, v)))
    }
  }

  test("parser: DELETE/GET take exactly one key; garbage rejected") {
    assert(StatementParser.parse("DELETE k") === Right(DeleteStmt("k")))
    assert(StatementParser.parse("GET k") === Right(GetStmt("k")))
    assert(StatementParser.parse("DELETE").isLeft)
    assert(StatementParser.parse("GET a b").isLeft)
    assert(StatementParser.parse("FROB x").isLeft) // store_test.go:214 invalid stmt
    assert(StatementParser.parse("").isLeft)
  }

  test("engine: SET upserts, DELETE is idempotent, GET miss is empty") {
    val eng = KvEngine(spark, Seq(("k1", "v1"), ("k2", "v2")).toDF("key", "value"))
    val results = eng.execute(Seq(
      SetStmt("k1", "v1b"),   // overwrite
      SetStmt("k3", "new"),   // insert
      DeleteStmt("k2"),       // delete existing
      DeleteStmt("ghost")))   // delete missing — still rows_affected=1
    assert(results.forall(r => r.rowsAffected == 1 && r.lastInsertId == 0))
    val state = eng.state.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(state === Map("k1" -> "v1b", "k3" -> "new"))
    // GET hit: typed table [key,value], one row (store_test.go:459)
    val hit = eng.query(GetStmt("k1")).collect()
    assert(hit.length === 1 && hit(0).getString(1) === "v1b")
    // GET miss: empty table, not an error (store_test.go:496)
    assert(eng.query(GetStmt("nope")).count() === 0)
  }

  test("engine: last write wins within one batch; empty value allowed") {
    val eng = KvEngine.empty(spark)
    eng.execute(Seq(SetStmt("k", "first"), SetStmt("k", "second"), SetStmt("e", "")))
    val state = eng.state.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(state === Map("k" -> "second", "e" -> ""))
  }

  test("engine: set-then-delete-then-set in one batch resolves to final set") {
    val eng = KvEngine.empty(spark)
    eng.execute(Seq(SetStmt("k", "a"), DeleteStmt("k"), SetStmt("k", "b")))
    assert(eng.state.collect().map(r => (r.getString(0), r.getString(1))).toSeq
      === Seq(("k", "b")))
  }

  test("applyBatch never shuffles the state side (broadcast anti + union)") {
    // Scale guard (VERDICT r1 item 3): the old full-outer merge could not
    // broadcast and sort-merge-shuffled the whole state table per batch.
    val state = Seq.tabulate(1000)(i => (s"k$i", s"v$i")).toDF("key", "value")
    val merged = KvEngine.applyBatch(spark, state,
      Seq(SetStmt("k1", "patched"), DeleteStmt("k2"), SetStmt("brand", "new")))
    merged.collect() // finalize AQE so the executed plan is the real one
    val plan = merged.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(!plan.contains("SortMergeJoin"), plan.take(2000))
  }

  test("applyBatchDf: seq ties-break within batch, get rows ignored, delete wins over earlier set") {
    // the bulk twin must resolve exactly like the Seq path: last
    // write per key by seq (statement order), 'get' ops inert,
    // deletes dropping the key even when a set precedes them
    val state = Seq(("a", "old"), ("b", "keep"), ("c", "gone"))
      .toDF("key", "value")
    val writes = Seq(
      (0L, "a", "first", "set"),
      (5L, "a", "last", "set"),    // higher seq wins
      (1L, "a", null: String, "get"),  // inert, any seq
      (2L, "c", "resurrect", "set"),
      (3L, "c", null: String, "delete"), // later delete wins
      (4L, "d", "new", "set"),
      (6L, "nosuch", null: String, "delete") // idempotent on missing
    ).toDF("seq", "key", "value", "op")
    val got = KvEngine.applyBatchDf(state, writes)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got === Map("a" -> "last", "b" -> "keep", "d" -> "new"))
  }

  test("applyBatchDf: null seq ranks below real seqs; an all-null key keeps a real row") {
    // ADVICE r20: bare max_by IGNORES null sort keys, so a key whose
    // writes all carried null seqs yielded (key, null, null) — dropped
    // from state with its SET never surviving. The coalesce guard
    // restores the old window's (desc, nulls last) contract: real seqs
    // outrank nulls, and an all-null key still applies a real write.
    val state = Seq(("a", "old"), ("b", "old")).toDF("key", "value")
    val writes = Seq(
      (java.lang.Long.valueOf(7L), "a", "real", "set"),
      (null.asInstanceOf[java.lang.Long], "a", "nullseq", "set"), // loses to seq 7
      (null.asInstanceOf[java.lang.Long], "b", "only", "set")     // all-null: survives
    ).toDF("seq", "key", "value", "op")
    val got = KvEngine.applyBatchDf(state, writes)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got === Map("a" -> "real", "b" -> "only"))
  }

  test("applyBatchDf's last-write set is a partial+final aggregate, never a window") {
    // max_by gives the LWW map-side partial aggregation: a hot-key
    // batch collapses per input partition BEFORE the shuffle, where
    // the old window shuffled and sorted every write row. (The struct
    // buffer plans as SortAggregate — local key-sorts — which is fine;
    // the window's full-row shuffle is what must never come back.)
    val writes = Seq.tabulate(1000)(i => (i.toLong, s"k${i % 7}", s"v$i", "set"))
      .toDF("seq", "key", "value", "op")
    val lw = KvEngine.lastWrites(writes)
    lw.write.format("noop").mode("overwrite").save()
    val plan = lw.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!plan.contains("Window"), plan.take(2000))
    assert(plan.contains("partial_max_by"), plan.take(2000))
    // exactly one exchange, fed by the partial (collapsed) side
    assert("Exchange".r.findAllIn(plan).size === 1, plan.take(2000))
  }

  test("applyBatchDf and applyBatch agree on the same statement batch") {
    val state = Seq.tabulate(50)(i => (s"k$i", s"v$i")).toDF("key", "value")
    val stmts = Seq(SetStmt("k1", "x"), DeleteStmt("k2"),
      SetStmt("k1", "y"), SetStmt("zz", "q"), DeleteStmt("absent"))
    val viaSeq = KvEngine.applyBatch(spark, state, stmts)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val rows = stmts.zipWithIndex.map {
      case (SetStmt(k, v), i)   => (i.toLong, k, v, "set")
      case (DeleteStmt(k), i)   => (i.toLong, k, null: String, "delete")
      case (s, i)               => (i.toLong, "", null: String, "get")
    }
    val viaDf = KvEngine.applyBatchDf(state,
      rows.toDF("seq", "key", "value", "op"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(viaSeq === viaDf)
    assert(viaSeq("k1") === "y" && !viaSeq.contains("k2"))
  }

  test("state round-trips through parquet persistence") {
    val eng = KvEngine.empty(spark)
    eng.execute(Seq(SetStmt("a", "1"), SetStmt("b", "2")))
    val path = java.nio.file.Files.createTempDirectory("kv").toString + "/state"
    KvEngine.save(eng.state, path)
    val loaded = KvEngine.load(spark, path)
    assert(loaded.state.collect().map(r => r.getString(0) -> r.getString(1)).toMap
      === Map("a" -> "1", "b" -> "2"))
  }

  test("lineage stays bounded across 100 batches (compaction), answers unchanged") {
    // 100 single-SET batches with compactEvery=10: without compaction
    // the plan tree grows by an anti-join + union per batch; with it,
    // depth resets to a leaf every 10 batches.
    val eng = new KvEngine(spark, KvEngine.empty(spark).state, compactEvery = 10)
    for (i <- 1 to 100) eng.execute(Seq(SetStmt(s"k${i % 7}", s"v$i")))
    def planNodes(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.logical.collect { case n => n }.size
    // at most compactEvery batches of (anti-join + union) above a
    // checkpoint leaf: well under the ~400 nodes 100 batches would pile up
    assert(planNodes(eng.state) < 60,
      s"plan grew unbounded: ${planNodes(eng.state)} nodes")
    // correctness preserved: last write per key wins across all batches
    val got = eng.state.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val want = (1 to 100).map(i => (s"k${i % 7}", s"v$i")).toMap
    assert(got === want)
  }

  test("a memtable hit runs zero Spark jobs; a miss over a checkpointed base runs one scan") {
    val eng = new KvEngine(spark, Seq(("b1", "base")).toDF("key", "value"), compactEvery = 4)
    eng.execute(Seq(SetStmt("b1", "x"), DeleteStmt("b1"), SetStmt("b1", "y")), compact = true)
    eng.execute(Seq(SetStmt("h", "hit value"), DeleteStmt("gone")))
    val hitJobs = jobsDuring {
      assert(eng.lookup("h") === Some("hit value"))
      assert(eng.lookup("gone") === None) // a tombstone is a hit too
      assert(eng.lookupAll(Seq("gone", "h")) === Seq(None, Some("hit value")))
      val rows = eng.query(GetStmt("h")).collect()
      assert(rows.map(r => (r.getString(0), r.getString(1))).toSeq === Seq(("h", "hit value")))
      assert(eng.query(GetStmt("gone")).collect().isEmpty)
    }
    assert(hitJobs === 0)
    // the counter does see work: a miss scans the checkpointed base
    val missJobs = jobsDuring(assert(eng.lookup("b1") === Some("y")))
    assert(missJobs >= 1)
  }

  test("a miss's plan has no Join at any depth below compactEvery") {
    val every = 8
    val eng = new KvEngine(spark,
      Seq.tabulate(100)(i => (s"k$i", s"v$i")).toDF("key", "value"), every)
    for (d <- 0 until 3 * every) {
      val miss = eng.query(GetStmt(s"k${50 + d}"))
      assert(joins(miss) === 0, miss.queryExecution.logical.treeString)
      assert(miss.collect().map(_.getString(1)).toSeq === Seq(s"v${50 + d}"))
      assert(eng.lookup(s"k${50 + d}") === Some(s"v${50 + d}"))
      // and the full state never stacks more than one merge
      assert(joins(eng.state) <= 1, eng.state.queryExecution.logical.treeString)
      eng.execute(Seq(SetStmt(s"k$d", s"w$d")))
    }
  }

  test("a DELETE of a base key hides it before and after compaction") {
    val eng = new KvEngine(spark,
      Seq(("a", "1"), ("b", "2")).toDF("key", "value"), compactEvery = 2)
    eng.execute(Seq(DeleteStmt("a")))
    assert(eng.lookup("a") === None)
    assert(eng.query(GetStmt("a")).count() === 0)
    assert(kvMap(eng.state) === Map("b" -> "2"))
    eng.execute(Seq(SetStmt("c", "3"))) // second batch: compacts
    assert(joins(eng.state) === 0, eng.state.queryExecution.logical.treeString)
    assert(eng.lookup("a") === None)
    assert(eng.query(GetStmt("a")).count() === 0)
    assert(eng.lookupAll(Seq("a", "b", "c")) === Seq(None, Some("2"), Some("3")))
    assert(kvMap(eng.state) === Map("b" -> "2", "c" -> "3"))
  }

  test("state is the same before and after compaction") {
    val eng = new KvEngine(spark,
      Seq.tabulate(20)(i => (s"k$i", s"v$i")).toDF("key", "value"), compactEvery = 32)
    eng.execute(Seq(SetStmt("k1", "x"), DeleteStmt("k2"), SetStmt("n", "")))
    eng.execute(Seq(SetStmt("k1", "y"), DeleteStmt("k3"), SetStmt("k2", "back")))
    val before = eng.state.collect().map(r => (r.getString(0), r.getString(1))).sorted.toSeq
    assert(joins(eng.state) === 1)
    eng.execute(Nil, compact = true)
    assert(joins(eng.state) === 0, eng.state.queryExecution.logical.treeString)
    val after = eng.state.collect().map(r => (r.getString(0), r.getString(1))).sorted.toSeq
    assert(after === before)
    assert(before.toMap.get("k1") === Some("y") && before.toMap.get("k2") === Some("back"))
    assert(!before.toMap.contains("k3") && before.toMap.get("n") === Some(""))
  }

  test("the engine is safe from concurrent readers while writers compact") {
    val eng = new KvEngine(spark, Seq(("r", "0")).toDF("key", "value"), compactEvery = 3)
    @volatile var writing = true
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val reader = new Thread(() => {
      var last = 0
      while (writing) {
        // values only move forward: a read never sees an older write
        val v = eng.lookup("r").get.toInt
        if (v < last) errors.add(s"read $v after $last")
        last = v
        eng.state
      }
    })
    reader.start()
    try for (i <- 1 to 12) eng.execute(Seq(SetStmt("r", i.toString)))
    finally { writing = false; reader.join() }
    assert(errors.isEmpty, errors)
    assert(eng.lookup("r") === Some("12"))
    assert(kvMap(eng.state) === Map("r" -> "12"))
  }
}
