package graft

import graft.queries.MemoTrack

/** The memo-readership ledger Bench derives `amortized`/`fit_deps`
  * from (the registry side of that derivation is in ArtifactSpec). */
class MemoTrackSpec extends SparkTestBase {

  test("within/record/readsOf: attribution is per-scope, nesting restores, unscoped reads ignored") {
    MemoTrack.clear()
    MemoTrack.record("orphan") // no scope: dropped
    MemoTrack.within("q1") {
      MemoTrack.record("a")
      MemoTrack.within("q2") { MemoTrack.record("b") }
      MemoTrack.record("c") // nesting restored to q1
    }
    MemoTrack.record("orphan2")
    assert(MemoTrack.readsOf("q1") === Seq("a", "c"))
    assert(MemoTrack.readsOf("q2") === Seq("b"))
    assert(MemoTrack.readsOf("nope") === Seq.empty)
    MemoTrack.clear()
    assert(MemoTrack.readsOf("q1") === Seq.empty)
  }

  test("no __GRAFT_ placeholder survives substituteOraclePaths in any oracle SQL") {
    // a token used in SQL but missing from the substitution chain
    // would reach DuckDB verbatim and fail the driver gate as an
    // unreadable path — catch the registration gap here instead
    SparkEntry.oracleSql.foreach { case (name, sql) =>
      val sub = graft.queries.Batch13.substituteOraclePaths(sql, "/tmp/x")
      assert(!sub.contains("__GRAFT_"),
        s"$name: unsubstituted placeholder in oracle SQL: " +
          sub.split("\n").find(_.contains("__GRAFT_")).getOrElse(""))
    }
    // and the substitution is actually dir-sensitive (two dirs must
    // never share an artifact path — the r13 advice bug)
    val tok = graft.queries.Batch13.BpeOraclePathToken
    assert(graft.queries.Batch13.substituteOraclePaths(tok, "/a")
      !== graft.queries.Batch13.substituteOraclePaths(tok, "/b"))
  }
}
