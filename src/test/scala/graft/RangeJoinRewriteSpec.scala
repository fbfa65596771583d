package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.plans.GraftOptimizations

/** RangeJoinRewrite: a pure band join (`l.t >= r.t - w AND l.t < r.t`,
  * no equi key) becomes a bucketized equi-join — result-identical on
  * every boundary case, never a nested-loop, and guarded off every
  * unsafe shape. */
class RangeJoinRewriteSpec extends SparkTestBase {

  // second session sharing the context, with the optimizer rules
  // injected
  private lazy val opt: SparkSession = {
    val prev = SparkSession.getDefaultSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-range-join-rewrite")
      .withExtensions(new GraftOptimizations())
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    prev.foreach { p =>
      SparkSession.setDefaultSession(p); SparkSession.setActiveSession(p)
    }
    s
  }

  /** Values dense around bucket boundaries of every plausible width,
    * plus negatives (floor-division territory) and nulls. */
  private def side(s: SparkSession, name: String, vs: Seq[java.lang.Long]): DataFrame = {
    import s.implicits._
    vs.zipWithIndex.map { case (v, i) => (s"$name$i", v) }.toDF(s"${name}_id", s"${name}_t")
  }

  private val lVals: Seq[java.lang.Long] =
    Seq[java.lang.Long](-21L, -20L, -19L, -11L, -10L, -1L, 0L, 1L, 9L, 10L,
      11L, 19L, 20L, 21L, 99L, 100L, null)
  private val rVals: Seq[java.lang.Long] =
    Seq[java.lang.Long](-20L, -10L, -5L, 0L, 5L, 10L, 15L, 20L, 25L, 100L,
      105L, null)

  private def pairs(df: DataFrame): Set[(String, String)] =
    df.select("l_id", "r_id").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet

  test("rewrite fires and is result-identical to the nested-loop plan") {
    for ((lowIncl, hiIncl) <- Seq((true, false), (false, true), (true, true), (false, false))) {
      val l = side(opt, "l", lVals); val r = side(opt, "r", rVals)
      val loC = if (lowIncl) col("l_t") >= col("r_t") - 10L else col("l_t") > col("r_t") - 10L
      val hiC = if (hiIncl) col("l_t") <= col("r_t") else col("l_t") < col("r_t")
      val joined = l.join(r, loC && hiC)
      val plan = joined.queryExecution.optimizedPlan.toString
      assert(plan.contains("__graft_rbucket"), s"rule did not fire:\n$plan")
      assert(joined.queryExecution.executedPlan.toString
        .contains("BroadcastNestedLoopJoin") === false)
      // ground truth from the session WITHOUT the rule
      val lp = side(spark, "l", lVals); val rp = side(spark, "r", rVals)
      val loP = if (lowIncl) col("l_t") >= col("r_t") - 10L else col("l_t") > col("r_t") - 10L
      val hiP = if (hiIncl) col("l_t") <= col("r_t") else col("l_t") < col("r_t")
      val expected = lp.join(rp, loP && hiP)
      assert(pairs(joined) === pairs(expected), s"incl=($lowIncl,$hiIncl)")
    }
  }

  test("band expressed as additions on either side rewrites too") {
    val l = side(opt, "l", lVals); val r = side(opt, "r", rVals)
    // r_t <= l_t + 10 AND r_t > l_t  ==  l_t >= r_t - 10 AND l_t < r_t
    val joined = l.join(r, col("r_t") <= col("l_t") + 10L && col("r_t") > col("l_t"))
    assert(joined.queryExecution.optimizedPlan.toString.contains("__graft_rbucket"))
    val lp = side(spark, "l", lVals); val rp = side(spark, "r", rVals)
    val expected = lp.join(rp, col("r_t") <= col("l_t") + 10L && col("r_t") > col("l_t"))
    assert(pairs(joined) === pairs(expected))
  }

  test("extra non-band conjuncts survive as residuals") {
    val l = side(opt, "l", lVals); val r = side(opt, "r", rVals)
    val joined = l.join(r,
      col("l_t") >= col("r_t") - 10L && col("l_t") < col("r_t") &&
        col("l_id") =!= col("r_id"))
    assert(joined.queryExecution.optimizedPlan.toString.contains("__graft_rbucket"))
    val lp = side(spark, "l", lVals); val rp = side(spark, "r", rVals)
    val expected = lp.join(rp,
      col("l_t") >= col("r_t") - 10L && col("l_t") < col("r_t") &&
        col("l_id") =!= col("r_id"))
    assert(pairs(joined) === pairs(expected))
  }

  test("guard: a cross-side equi key means no rewrite (hash join already works)") {
    val l = side(opt, "l", lVals).withColumn("k", col("l_t") % 3)
    val r = side(opt, "r", rVals).withColumn("k2", col("r_t") % 3)
    val joined = l.join(r,
      col("k") === col("k2") &&
        col("l_t") >= col("r_t") - 10L && col("l_t") < col("r_t"))
    assert(!joined.queryExecution.optimizedPlan.toString.contains("__graft_rbucket"))
  }

  test("guard: one-sided bound (no band) means no rewrite") {
    val l = side(opt, "l", lVals); val r = side(opt, "r", rVals)
    val joined = l.join(r, col("l_t") < col("r_t"))
    assert(!joined.queryExecution.optimizedPlan.toString.contains("__graft_rbucket"))
  }

  test("guard: a CAST-wrapped cross-side equi key also means no rewrite") {
    // int-vs-long key: the analyzer plants EqualTo(Cast(k), k2), which
    // ExtractEquiJoinKeys still plans as a hash key — firing here
    // would only add the 2x explode on an already-equi-keyed join
    val l = side(opt, "l", lVals).withColumn("k", (col("l_t") % 3).cast("int"))
    val r = side(opt, "r", rVals).withColumn("k2", col("r_t") % 3)
    val joined = l.join(r,
      col("k") === col("k2") &&
        col("l_t") >= col("r_t") - 10L && col("l_t") < col("r_t"))
    assert(!joined.queryExecution.optimizedPlan.toString.contains("__graft_rbucket"))
  }

  test("a one-sided inequality on an UNRELATED pair doesn't mask the complete band") {
    // conjunct order puts (l_x < r_y) first: the old bounds.head
    // canonicalization locked onto that incomplete pair and abandoned
    // the rewrite — whether a 100-TB join bucketized depended on
    // predicate order. The complete (l_t, r_t) band must be found.
    val l = side(opt, "l", lVals).withColumn("l_x", col("l_t") + 1000L)
    val r = side(opt, "r", rVals).withColumn("r_y", col("r_t") + 2000L)
    val joined = l.join(r,
      col("l_x") < col("r_y") &&
        col("l_t") >= col("r_t") - 10L && col("l_t") < col("r_t"))
    val plan = joined.queryExecution.optimizedPlan.toString
    assert(plan.contains("__graft_rbucket"), s"band masked by unrelated pair:\n${plan.take(2000)}")
    // and result-identical to the naive plan (the unrelated conjunct
    // rides along as a residual)
    val naiveL = side(spark, "l", lVals).withColumn("l_x", col("l_t") + 1000L)
    val naiveR = side(spark, "r", rVals).withColumn("r_y", col("r_t") + 2000L)
    val naive = naiveL.join(naiveR,
      col("l_x") < col("r_y") &&
        col("l_t") >= col("r_t") - 10L && col("l_t") < col("r_t"))
    assert(pairs(joined) === pairs(naive) && pairs(naive).nonEmpty)
  }

  test("guard: outer joins are untouched") {
    val l = side(opt, "l", lVals); val r = side(opt, "r", rVals)
    val joined = l.join(r,
      col("l_t") >= col("r_t") - 10L && col("l_t") < col("r_t"), "left_outer")
    assert(!joined.queryExecution.optimizedPlan.toString.contains("__graft_rbucket"))
  }

  test("range_join_pure catalog entry bucketizes and matches the naive plan") {
    val dir = sf("sf0.001")
    val df = graft.queries.Catalog.queries("range_join_pure")(opt, dir)
    val plan = df.queryExecution.optimizedPlan.toString
    assert(plan.contains("__graft_rbucket"), s"rule did not fire:\n$plan")
    df.collect()
    val phys = df.queryExecution.executedPlan.toString
    assert(!phys.contains("BroadcastNestedLoopJoin") && !phys.contains("CartesianProduct"),
      s"nested-loop survived:\n$phys")
    // identical rows from the un-rewritten session
    val naive = graft.queries.Catalog.queries("range_join_pure")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val rewritten = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(rewritten === naive) // both orderBy'd: sequence equality
  }

  test("randomized: rewrite equals naive over random values and widths") {
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 3) {
      val w = 1L + rnd.nextInt(40)
      val lv: Seq[java.lang.Long] =
        Seq.fill(150)(Long.box(rnd.nextLong() % 300)) :+ (null: java.lang.Long)
      val rv: Seq[java.lang.Long] =
        Seq.fill(150)(Long.box(rnd.nextLong() % 300)) :+ (null: java.lang.Long)
      val l = side(opt, "l", lv); val r = side(opt, "r", rv)
      val joined = l.join(r,
        col("l_t") >= col("r_t") - w && col("l_t") < col("r_t"))
      assert(joined.queryExecution.optimizedPlan.toString.contains("__graft_rbucket"))
      val lp = side(spark, "l", lv); val rp = side(spark, "r", rv)
      val expected = lp.join(rp,
        col("l_t") >= col("r_t") - w && col("l_t") < col("r_t"))
      assert(pairs(joined) === pairs(expected), s"trial $trial w=$w")
    }
  }

  test("timestamp band with INTERVAL bound rewrites and matches the naive plan") {
    def tsSide(s: SparkSession, name: String, base: Long, offs: Seq[Long]): DataFrame = {
      import s.implicits._
      offs.zipWithIndex.map { case (o, i) =>
        (s"$name$i", new java.sql.Timestamp(base + o)) }
        .toDF(s"${name}_id", s"${name}_t")
    }
    val base = java.sql.Timestamp.valueOf("2024-03-01 12:00:00").getTime
    // offsets in ms, dense around the 10-minute (600 s) boundary
    val lOffs = Seq(-601000L, -600000L, -599999L, -300000L, -1L, 0L, 1L, 5L)
    val rOffs = Seq(-600000L, -1000L, 0L, 1000L, 599999L, 600000L, 601000L)
    val l = tsSide(opt, "l", base, lOffs); val r = tsSide(opt, "r", base, rOffs)
    val joined = l.join(r,
      col("l_t") >= col("r_t") - expr("INTERVAL 600 SECONDS") &&
        col("l_t") < col("r_t"))
    val plan = joined.queryExecution.optimizedPlan.toString
    assert(plan.contains("__graft_rbucket"), s"timestamp rule did not fire:\n$plan")
    assert(!joined.queryExecution.executedPlan.toString.contains("BroadcastNestedLoopJoin"))
    val lp = tsSide(spark, "l", base, lOffs); val rp = tsSide(spark, "r", base, rOffs)
    val expected = lp.join(rp,
      col("l_t") >= col("r_t") - expr("INTERVAL 600 SECONDS") &&
        col("l_t") < col("r_t"))
    assert(pairs(joined) === pairs(expected))
  }

  test("date band with date_sub bound rewrites and matches the naive plan") {
    def dateSide(s: SparkSession, name: String, offs: Seq[Int]): DataFrame = {
      import s.implicits._
      offs.zipWithIndex.map { case (o, i) =>
        (s"$name$i", java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 15).plusDays(o))) }
        .toDF(s"${name}_id", s"${name}_t")
    }
    val lOffs = Seq(-8, -7, -6, -1, 0, 1, 6, 7, 8, 30)
    val rOffs = Seq(-7, -3, 0, 3, 7, 14, 29, 31)
    val l = dateSide(opt, "l", lOffs); val r = dateSide(opt, "r", rOffs)
    val joined = l.join(r,
      col("l_t") >= date_sub(col("r_t"), 7) && col("l_t") < col("r_t"))
    val plan = joined.queryExecution.optimizedPlan.toString
    assert(plan.contains("__graft_rbucket"), s"date rule did not fire:\n$plan")
    val lp = dateSide(spark, "l", lOffs); val rp = dateSide(spark, "r", rOffs)
    val expected = lp.join(rp,
      col("l_t") >= date_sub(col("r_t"), 7) && col("l_t") < col("r_t"))
    assert(pairs(joined) === pairs(expected))
    assert(pairs(expected).nonEmpty)
  }

  test("values within w of Long.MIN/MAX bucket exactly (no silently dropped matches)") {
    // the old `el - pmod(el, w)` / `y + hi` arithmetic overflowed for
    // column values within ~w of the Long domain edges, producing wrong
    // buckets whose residual filters silently DROPPED genuine matches;
    // the floor-div + residue decomposition never touches the raw value
    val w = 10L
    val lv: Seq[java.lang.Long] = Seq(
      Long.MinValue, Long.MinValue + 1, Long.MinValue + 7, Long.MinValue + 15,
      Long.MaxValue - 15, Long.MaxValue - 7, Long.MaxValue - 1, Long.MaxValue,
      -5L, 0L, 5L)
    // r stays >= MIN+w so the ORIGINAL `r_t - 10` is itself well-defined
    // (ANSI would rightly raise on it otherwise, in both plans)
    val rv: Seq[java.lang.Long] = Seq(
      Long.MinValue + 10, Long.MinValue + 12, Long.MinValue + 20,
      Long.MaxValue - 12, Long.MaxValue - 4, Long.MaxValue,
      -3L, 0L, 7L)
    val l = side(opt, "l", lv); val r = side(opt, "r", rv)
    val joined = l.join(r, col("l_t") >= col("r_t") - w && col("l_t") < col("r_t"))
    assert(joined.queryExecution.optimizedPlan.toString.contains("__graft_rbucket"))
    val lp = side(spark, "l", lv); val rp = side(spark, "r", rv)
    val expected = lp.join(rp, col("l_t") >= col("r_t") - w && col("l_t") < col("r_t"))
    assert(pairs(joined) === pairs(expected))
    // sanity: the edge fixture really exercises matches near both edges
    assert(pairs(expected).nonEmpty)
  }

  test("range_join_ts catalog entry bucketizes on raw timestamps, no nested loop") {
    val dir = sf("sf0.001")
    val df = graft.queries.Catalog.queries("range_join_ts")(opt, dir)
    val plan = df.queryExecution.optimizedPlan.toString
    assert(plan.contains("__graft_rbucket"), s"rule did not fire:\n$plan")
    df.collect()
    val phys = df.queryExecution.executedPlan.toString
    assert(!phys.contains("BroadcastNestedLoopJoin") && !phys.contains("CartesianProduct"),
      s"nested-loop survived:\n$phys")
    // identical rows to the µs-pre-converted entry (same band, same data)
    val viaUs = graft.queries.Catalog.queries("range_join_pure")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val viaTs = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(viaTs === viaUs)
  }

  test("original-arithmetic overflow rows: emitted pairs still satisfy the true predicate") {
    // The one documented divergence (RangeJoinRewrite.scala): when the
    // ORIGINAL `r_t - w` itself overflows Long (r_t within w of
    // Long.MinValue), ANSI's naive plan raises, while the rewritten
    // plan may instead drop the row (error only if the garbage bucket
    // collides). This pins the SAFE side of that envelope: whatever
    // the rewritten plan emits, every pair satisfies the true
    // predicate under overflow-free (BigInt) arithmetic — the
    // divergence can lose a would-have-raised row, never fabricate a
    // match.
    val w = 10L
    val lv: Seq[java.lang.Long] = Seq(
      Long.MinValue, Long.MinValue + 3, Long.MinValue + 9, Long.MinValue + 11,
      -5L, 0L, 5L, Long.MaxValue - 5, Long.MaxValue)
    // r_t values BELOW MinValue + w: the original `r_t - 10` overflows
    val rv: Seq[java.lang.Long] = Seq(
      Long.MinValue + 2, Long.MinValue + 5, Long.MinValue + 9,
      -3L, 0L, 7L, Long.MaxValue)
    val l = side(opt, "l", lv); val r = side(opt, "r", rv)
    val joined = l.join(r, col("l_t") >= col("r_t") - w && col("l_t") < col("r_t"))
    assert(joined.queryExecution.optimizedPlan.toString.contains("__graft_rbucket"))
    scala.util.Try {
      joined.select("l_id", "r_id", "l_t", "r_t").collect()
    } match {
      case scala.util.Failure(_) =>
        // raised like the naive ANSI plan would — no divergence at all
        succeed
      case scala.util.Success(rows) =>
        val lMap = lv.zipWithIndex.collect { case (v, i) if v != null => s"l$i" -> v }.toMap
        val rMap = rv.zipWithIndex.collect { case (v, i) if v != null => s"r$i" -> v }.toMap
        rows.foreach { row =>
          val lt = BigInt(lMap(row.getString(0)))
          val rt = BigInt(rMap(row.getString(1)))
          assert(lt >= rt - w && lt < rt,
            s"rewrite fabricated a non-matching pair: ${row.getString(0)}=${lt} ${row.getString(1)}=${rt}")
        }
        // rows that DON'T overflow the original arithmetic must all be
        // present (the divergence is confined to overflow rows)
        val safe = for {
          (lid, lt) <- lMap.toSeq; (rid, rt) <- rMap.toSeq
          if rt >= Long.MinValue + w && lt >= rt - w && lt < rt
        } yield (lid, rid)
        val got = rows.map(row => (row.getString(0), row.getString(1))).toSet
        safe.foreach { p => assert(got.contains(p), s"safe pair $p missing") }
    }
  }

  test("empty-band and negative-width bounds are left alone") {
    val l = side(opt, "l", lVals); val r = side(opt, "r", rVals)
    // w = 0: l_t >= r_t AND l_t < r_t is unsatisfiable; rule must not divide by zero
    val joined = l.join(r, col("l_t") >= col("r_t") && col("l_t") < col("r_t"))
    assert(!joined.queryExecution.optimizedPlan.toString.contains("__graft_rbucket"))
    assert(joined.count() === 0)
  }

  test("a degenerate zero-width band on one pair doesn't mask a valid band on another") {
    // (l_x, r_y) forms a COMPLETE but zero-width band (l_x <= r_y AND
    // l_x >= r_y — satisfiable only at equality, so Catalyst can't
    // fold it away, and hi = lo = 0 gives w = 0) and its bounds come
    // first; the old code committed to the first both-bounded pair,
    // then bailed on w <= 0 — abandoning the valid (l_t, r_t) band
    // behind it (ADVICE r11). Validity is now part of the search, so
    // the iterator must advance and rewrite on (l_t, r_t).
    val l = side(opt, "l", lVals).withColumn("l_x", col("l_t") + 1000L)
    val r = side(opt, "r", rVals).withColumn("r_y", col("r_t") + 2000L)
    val joined = l.join(r,
      col("l_x") <= col("r_y") && col("l_x") >= col("r_y") &&
        col("l_t") >= col("r_t") - 10L && col("l_t") < col("r_t"))
    val plan = joined.queryExecution.optimizedPlan.toString
    assert(plan.contains("__graft_rbucket"),
      s"valid band masked by a degenerate pair listed first:\n${plan.take(2000)}")
    // the zero-width conjuncts ride along as residuals — result equals
    // the naive plan's
    val naiveL = side(spark, "l", lVals).withColumn("l_x", col("l_t") + 1000L)
    val naiveR = side(spark, "r", rVals).withColumn("r_y", col("r_t") + 2000L)
    val naive = naiveL.join(naiveR,
      col("l_x") <= col("r_y") && col("l_x") >= col("r_y") &&
        col("l_t") >= col("r_t") - 10L && col("l_t") < col("r_t"))
    assert(pairs(joined) === pairs(naive))
  }

  test("row_number top-k entries keep Spark's WindowGroupLimit under the graft rules") {
    // no graft rule may hide the Window from Spark's InferWindowGroupLimit
    for (name <- Seq("win_topk_per_day", "ann_knn_join")) {
      val q = graft.SparkEntry.queries(name)
      val df = q(opt, sf("sf0.001"))
      val rows = df.collect().map(_.toString).sorted.toSeq
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("WindowGroupLimit"), s"$name:\n$plan")
      assert(rows.nonEmpty)
      assert(rows === q(spark, sf("sf0.001")).collect().map(_.toString).sorted.toSeq, name)
    }
  }
}
