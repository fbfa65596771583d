package graft

import graft.queries.{Artifact, MemoTrack}

/** The artifact registry Bench's fit phase, fit-retry eviction and memo
  * pre-touch iterate, and the shuffle scope each artifact's build runs
  * under. */
class ArtifactSpec extends SparkTestBase {

  SparkEntry.queries // loading the catalog registers every artifact

  private def named(name: String): Artifact[_] =
    Artifact.named(name).getOrElse(fail(s"no artifact $name"))

  private def coldAll(): Unit = {
    spark.sharedState.cacheManager.clearCache()
    Artifact.clearAll()
  }

  // fit lines equal BASELINE.md's fit_* floor rows; registration order
  // is a dependency order; a cold build reads only itself and its deps
  test("registry: fit lines, dependency order, cold-build reads") {
    val all = Artifact.all
    // a fit line without a floor row would silently lose its rescue gate
    assert(all.map(_.fitLine).toSet ===
      Bench.parseFloors("BASELINE.md").keySet.filter(_.startsWith("fit_")))
    assert(all.map(_.name).distinct.size === all.size, "duplicate artifact names")
    for ((a, i) <- all.zipWithIndex; d <- a.deps)
      assert(all.indexOf(d) >= 0 && all.indexOf(d) < i,
        s"${a.name} registered before its dep ${d.name}")
    val dir = sf("sf0.001")
    all.foreach { a =>
      coldAll()
      MemoTrack.clear()
      MemoTrack.within(s"spec-${a.name}")(a.fit(spark, dir))
      assert(MemoTrack.readsOf(s"spec-${a.name}").toSet === a.deps.map(_.name).toSet + a.name,
        s"${a.name}: a cold build must read only itself and its declared deps")
    }
    MemoTrack.clear()
  }

  // sample-bounded builds run at min(8, defaultParallelism) shuffle
  // partitions, corpus-scale ones at the session width, and the session
  // width comes back after a build that throws
  test("scope: bounded width, session width, restored after a throw") {
    val key = "spark.sql.shuffle.partitions"
    val bounded = math.min(8, spark.sparkContext.defaultParallelism).toString
    val session = "13" // any width the bounded scope would not pick
    assert(session !== bounded)
    val prev = spark.conf.get(key)
    spark.conf.set(key, session)
    // SQL executions copy the session's SQL confs into each job's local
    // properties, so the width a job was planned under is observable
    def widths(body: => Unit): Set[String] =
      jobPropertiesDuring(body).flatMap(p => Option(p.getProperty(key))).toSet
    try {
      val dir = sf("sf0.001")
      val (pairs, ivf) = (named("pair_counts"), named("ivf_index"))
      coldAll()
      assert(pairs.scope === Artifact.CorpusScale)
      assert(widths(pairs.fit(spark, dir)) === Set(session))
      assert(spark.conf.get(key) === session)
      assert(ivf.scope === Artifact.SampleBounded)
      assert(widths(ivf.fit(spark, dir)) === Set(bounded))
      assert(spark.conf.get(key) === session)
      intercept[Exception](named("hier_index")(spark, "/nonexistent/graft-scope-probe"))
      assert(spark.conf.get(key) === session)
    } finally {
      spark.conf.set(key, prev)
      coldAll() // nothing built at the probe width outlives this test
    }
  }
}
