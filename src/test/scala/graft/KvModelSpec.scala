package graft

import org.scalacheck.{Gen, rng}

import graft.kv._

/** Property-based model check of the KV plane: the distributed
  * broadcast-merge engine must agree with the obvious sequential
  * `mutable.Map` model on ANY statement sequence — last-write-wins
  * within a batch, order across batches, deletes idempotent, values
  * with internal spaces preserved (the reference's space-joined
  * remainder, `store.go:1633-1766`). Generation is SEEDED so the
  * property is deterministic in CI; the generator biases keys into a
  * small alphabet so same-key collisions (the interesting case) are
  * frequent. */
class KvModelSpec extends SparkTestBase {

  private val keyGen = Gen.oneOf("a", "b", "c", "d", "e", "k1", "k2")
  private val wordGen = Gen.oneOf("x", "yy", "zzz", "hello", "42", "v")
  private val valueGen = Gen.chooseNum(0, 3)
    .flatMap(n => Gen.listOfN(n, wordGen)).map(_.mkString(" "))

  private val stmtGen: Gen[Statement] = Gen.frequency(
    6 -> Gen.zip(keyGen, valueGen).map { case (k, v) => SetStmt(k, v) },
    3 -> keyGen.map(DeleteStmt.apply),
    1 -> keyGen.map(GetStmt.apply))

  private def sample[T](g: Gen[T], seed: Long): T =
    g.pureApply(Gen.Parameters.default, rng.Seed(seed))

  private def render(s: Statement): String = s match {
    // mixed-case verbs: the parser uppercases (store semantics)
    case SetStmt(k, v)  => if (v.isEmpty) s"set $k" else s"SET $k $v"
    case DeleteStmt(k)  => s"Delete $k"
    case GetStmt(k)     => s"GET $k"
  }

  test("StatementParser round-trips every generated statement") {
    (1L to 200L).foreach { seed =>
      val s = sample(stmtGen, seed)
      assert(StatementParser.parse(render(s)) === Right(s),
        s"round-trip failed for ${render(s)}")
    }
  }

  test("KvEngine agrees with the sequential Map model on random batch sequences") {
    // compactEvery 1 and 3 cross compactions mid-sequence; 32 never
    // compacts, so every read goes through the memtable
    for (compactEvery <- Seq(1, 3, 32); run <- 1L to 3L) {
      val kv = new KvEngine(spark, KvEngine.empty(spark).state, compactEvery)
      val model = scala.collection.mutable.Map.empty[String, String]
      (0 until 7).foreach { batchNo =>
        val n = 1 + ((run * 31 + batchNo * 7) % 8).toInt
        val batch = (0 until n).map(i =>
          sample(stmtGen, run * 10000 + batchNo * 100 + i))
        // engine applies the writes as ONE distributed merge
        kv.execute(batch)
        // model applies them sequentially (the semantics being claimed)
        batch.foreach {
          case SetStmt(k, v) => model(k) = v
          case DeleteStmt(k) => model.remove(k)
          case _: GetStmt    => ()
        }
        val engineState = kv.state.collect()
          .map(r => r.getString(0) -> r.getString(1)).toMap
        assert(engineState === model.toMap, s"compactEvery $compactEvery run $run " +
          s"batch $batchNo diverged (stmts: ${batch.map(render)})")
        // point reads agree on hits AND misses
        val probe = sample(keyGen, run * 7777 + batchNo)
        val got = kv.query(GetStmt(probe)).collect().map(_.getString(1)).headOption
        assert(got === model.get(probe))
        val keys = Seq("a", "b", "c", "d", "e", "k1", "k2", "zz")
        assert(kv.lookupAll(keys) === keys.map(model.get))
      }
    }
  }
}
