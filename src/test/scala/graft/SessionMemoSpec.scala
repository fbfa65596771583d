package graft

import java.nio.file.{Files, Paths}

import graft.queries.{Artifact, Batch12, SessionMemo}

/** SessionMemo staleness: same data → one build; rewritten data under
  * the same dir → fresh build (the r4 advice item — stale checkpointed
  * subtrees must not survive an in-session data rewrite). */
class SessionMemoSpec extends SparkTestBase {

  // the fingerprint TTL cache (ADVICE r5) would otherwise hide a
  // rewrite that lands inside its window — this spec rewrites
  // immediately, so force a re-walk on every access
  sys.props("graft.memo.fp.ttl.ms") = "0"

  test("memo rebuilds after the dir's data is rewritten, not before") {
    val dir = Files.createTempDirectory("graftmemo").toString
    Files.write(Paths.get(dir, "part-0.parquet"), "v1-bytes".getBytes)

    var builds = 0
    val memo = new SessionMemo[Int]((_, _) => { builds += 1; builds })

    assert(memo(spark, dir) === 1)
    assert(memo(spark, dir) === 1) // unchanged data: cached
    assert(builds === 1)

    // rewrite the data under the SAME dir (size change guarantees a
    // fingerprint delta even within mtime granularity)
    Files.write(Paths.get(dir, "part-0.parquet"), "v2-bytes-longer".getBytes)
    assert(memo(spark, dir) === 2) // fresh mining
    assert(memo(spark, dir) === 2)
    assert(builds === 2)

    // adding a file also invalidates
    Files.write(Paths.get(dir, "part-1.parquet"), "more".getBytes)
    assert(memo(spark, dir) === 3)
    assert(builds === 3)
  }

  test("Artifact.evict makes the next access a genuinely cold rebuild") {
    SparkEntry.queries // loading the catalog registers every artifact
    val dir = sf("sf0.001")
    val model = Batch12.bpeModel
    val first = model(spark, dir)
    assert(model(spark, dir) eq first) // cached
    // the bench fit-retry path: evicting by artifact name makes the
    // next access rebuild
    assert(Artifact.evict(model.name))
    assert(!(model(spark, dir) eq first))
    // unknown name: nothing to evict — the caller must not fake a retry
    assert(!Artifact.evict("no_such_artifact"))
  }

  test("bpe_model refits after its corpus dir is rewritten") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graftbpe").toString
    def corpus(texts: String*) = texts.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    def write(df: org.apache.spark.sql.DataFrame): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val a = corpus("lower lowest newer newest", "low lower wider")
    val b = corpus("banana bandana cabana", "anna banana")
    write(a)
    val fitA = Batch12.bpeModel(spark, dir)
    assert(fitA.merges === graft.ops.Bpe.train(a, "text", 160).merges)
    write(b)
    val fitB = Batch12.bpeModel(spark, dir)
    assert(fitB.merges === graft.ops.Bpe.train(b, "text", 160).merges)
    assert(fitA.merges !== fitB.merges)
  }

  test("distinct dirs memoize independently") {
    val d1 = Files.createTempDirectory("graftmemo1").toString
    val d2 = Files.createTempDirectory("graftmemo2").toString
    Files.write(Paths.get(d1, "f"), "a".getBytes)
    Files.write(Paths.get(d2, "f"), "b".getBytes)
    var builds = 0
    val memo = new SessionMemo[Int]((_, _) => { builds += 1; builds })
    assert(memo(spark, d1) === 1)
    assert(memo(spark, d2) === 2)
    assert(memo(spark, d1) === 1) // d1 entry undisturbed by d2's build
    assert(builds === 2)
  }
}
