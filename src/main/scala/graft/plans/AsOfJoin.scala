package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan}
import org.apache.spark.sql.graftbridge.Bridge

/** Backward as-of join as a FIRST-CLASS physical operator — the
  * whole-operator extension layer (`LogicalPlan` + `Strategy` +
  * `SparkPlan`) the other graft operators never needed, used here for
  * semantics Spark genuinely lacks: "for each left row, the latest
  * right row with the same key and time <= left time".
  *
  * Without this operator the idiom costs either (a) a time-inequality
  * join + per-left-row `row_number` window — every candidate pair
  * materialized and shuffled, the as-of-join trap the round-4 verdict
  * calls out — or (b) a union-then-window trick (pandas-on-Spark's
  * approach) that carries both tables through one global window.
  * [[AsOfJoinExec]] instead REUSES Spark's join machinery contract:
  * it declares `ClusteredDistribution` on the keys and a
  * (key, time, tiebreak) sort for both children, and then streams the
  * two sorted sides in ONE forward pass per partition — zero
  * buffering beyond a single candidate row, no pair blowup, shuffle
  * identical to a plain sort-merge join's. At 100 TB it behaves
  * exactly like an SMJ: hash-partitioned on the key, sorted spill
  * handled by the child Sort, O(|L| + |R|) merge per partition.
  *
  * Tie semantics are explicit: among equal (key, time) right rows the
  * LAST in the (time, tieBreak) sort wins — callers pass a tiebreak
  * column to make that total, and the oracle expresses the same with
  * `ORDER BY time DESC, tiebreak DESC ... rn = 1`.
  *
  * Unmatched left rows join a null right side (left-outer as-of).
  */
final case class AsOfJoinPlan(
    left: LogicalPlan, right: LogicalPlan,
    leftKeys: Seq[Attribute], rightKeys: Seq[Attribute],
    leftTime: Attribute, rightTime: Attribute,
    rightTies: Seq[Attribute],
    tolerance: Option[Long] = None,
    nearest: Boolean = false) extends BinaryNode {
  require(leftKeys.map(_.dataType) == rightKeys.map(_.dataType),
    "as-of join key types must match pairwise")
  require(leftTime.dataType == rightTime.dataType,
    "as-of join time column types must match")
  require((tolerance.isEmpty && !nearest) ||
      leftTime.dataType == org.apache.spark.sql.types.LongType,
    "as-of tolerance/nearest requires a long (epoch-offset) time column")
  require(tolerance.forall(_ >= 0), "as-of tolerance must be >= 0")
  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinPlan =
    copy(left = newLeft, right = newRight)
}

object AsOfJoinStrategy extends org.apache.spark.sql.execution.SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinPlan(l, r, lk, rk, lt, rt, ties, tol, near) =>
      AsOfJoinExec(planLater(l), planLater(r), lk, rk, lt, rt, ties, tol, near) :: Nil
    case _ => Nil
  }
}

final case class AsOfJoinExec(
    left: SparkPlan, right: SparkPlan,
    leftKeys: Seq[Attribute], rightKeys: Seq[Attribute],
    leftTime: Attribute, rightTime: Attribute,
    rightTies: Seq[Attribute],
    tolerance: Option[Long] = None,
    nearest: Boolean = false) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  // the SMJ contract: co-partition on keys, sort (key, time[, ties])
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    (leftKeys :+ leftTime).map(SortOrder(_, Ascending)),
    (rightKeys ++ (rightTime +: rightTies)).map(SortOrder(_, Ascending)))
  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] =
    (leftKeys :+ leftTime).map(SortOrder(_, Ascending))

  override protected def doExecute(): RDD[InternalRow] = {
    val lOut = left.output
    val rOut = right.output
    val lk = leftKeys; val rk = rightKeys
    val lt = leftTime; val rt = rightTime
    val keyTypes = lk.map(_.dataType)
    val timeType = lt.dataType
    val out = output
    val near = nearest
    val tol = tolerance
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lKeyProj = UnsafeProjection.create(lk, lOut)
      val rKeyProj = UnsafeProjection.create(rk, rOut)
      val lTimeProj = UnsafeProjection.create(Seq(lt), lOut)
      val rTimeProj = UnsafeProjection.create(Seq(rt), rOut)
      val keyOrd = RowOrdering.createNaturalAscendingOrdering(keyTypes)
      val timeOrd = RowOrdering.createNaturalAscendingOrdering(Seq(timeType))
      val resultProj = UnsafeProjection.create(out, out)
      val joined = new JoinedRow
      val nullRight = new GenericInternalRow(rOut.size)

      new Iterator[InternalRow] {
        // the right cursor: one row lookahead, copied because Unsafe
        // rows are reused by the underlying iterator. SQL join
        // semantics: a null key or null time can never match
        // (`k = k2` and `t2 <= t` are both null-rejecting), so such
        // right rows are skipped here — they sort nulls-first, so
        // skipping preserves the merge invariant.
        private var rRow: UnsafeRow = null
        private var rKey: UnsafeRow = null
        advanceRight()
        // latest qualifying right row for the current left key
        private var candidate: UnsafeRow = null
        private var candidateKey: UnsafeRow = null

        private def advanceRight(): Unit = {
          var valid = false
          while (!valid) {
            rRow = if (rIter.hasNext) rIter.next().asInstanceOf[UnsafeRow].copy() else null
            rKey = if (rRow != null) rKeyProj(rRow).copy() else null
            valid = rRow == null ||
              (!rKey.anyNull && !rTimeProj(rRow).isNullAt(0))
          }
        }

        override def hasNext: Boolean = lIter.hasNext

        override def next(): InternalRow = {
          val lRow = lIter.next()
          val lKey = lKeyProj(lRow)
          val lTimeRow = lTimeProj(lRow)
          // a null left key or time matches nothing (same
          // null-rejecting comparisons); emit the null right side
          // without touching the cursor — null keys sort first, so
          // the merge state is untouched by skipping them
          if (lKey.anyNull || lTimeRow.isNullAt(0))
            return resultProj(joined(lRow, nullRight))
          // a candidate held from a previous, smaller key is stale
          if (candidate != null && keyOrd.compare(candidateKey, lKey) != 0)
            candidate = null
          val lTime = lTimeRow.copy()
          var scan = true
          while (scan && rRow != null) {
            val c = keyOrd.compare(rKey, lKey)
            if (c < 0) advanceRight() // behind: skip (never a candidate)
            else if (c == 0 && timeOrd.compare(rTimeProj(rRow), lTime) <= 0) {
              // qualifying: LAST one in (time, tiebreak) order wins,
              // so keep overwriting until the scan stops
              candidate = rRow; candidateKey = rKey
              advanceRight()
            } else scan = false // right is ahead of this left row
          }
          // tolerance: the candidate is the LATEST qualifying right
          // row, so if IT is out of tolerance every earlier one is
          // further away — a single output-time check is exact
          val chosen: InternalRow =
            if (!near) {
              // same overflow saturation as the nearest branch: the
              // candidate QUALIFIES (rt <= lt), so the true distance
              // is >= 0 — a negative difference is a Long wrap
              // (adversarial time spread > 2^63) and must read as
              // "maximally far", not as within-tolerance
              if (candidate != null && tol.forall { t =>
                val d = lTime.getLong(0) - rTimeProj(candidate).getLong(0)
                (if (d < 0) Long.MaxValue - 1 else d) <= t
              }) candidate else null
            } else {
              // nearest: when the backward scan stops, the cursor IS
              // the key's earliest future row — the forward candidate
              // costs nothing (read, never consumed: later left rows
              // still need it). Distances saturate on (adversarial)
              // overflow rather than wrapping; backward wins ties.
              val lT = lTime.getLong(0)
              val bDist =
                if (candidate == null) Long.MaxValue
                else {
                  val d = lT - rTimeProj(candidate).getLong(0)
                  if (d < 0) Long.MaxValue - 1 else d
                }
              val fOk = rRow != null && keyOrd.compare(rKey, lKey) == 0
              val fDist =
                if (!fOk) Long.MaxValue
                else {
                  val d = rTimeProj(rRow).getLong(0) - lT
                  if (d < 0) Long.MaxValue - 1 else d
                }
              val (row, dist) =
                if (bDist <= fDist) (candidate, bDist) else (rRow, fDist)
              if (row != null && dist != Long.MaxValue && tol.forall(dist <= _))
                row
              else null
            }
          resultProj(joined(lRow, if (chosen != null) chosen else nullRight))
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}

/** Public API: backward as-of join by column names. Self-enabling — it
  * registers [[AsOfJoinStrategy]] on the session's experimental
  * strategies, so it works on any SparkSession (GraftOptimizations
  * sessions get it injected too).
  *
  * `tolerance` (long time columns only): a match further than
  * `tolerance` behind the left time becomes a null instead — pandas
  * `merge_asof(tolerance=...)`. Forward as-of = backward as-of over
  * NEGATED time columns (and a negated tiebreak for last-wins ties);
  * nearest = coalesce of the two by smaller distance. */
object AsOf {
  /** The sharded/forward/nearest compositions manipulate the time
    * column arithmetically (`div` windowing, negation), so they demand
    * LongType up front — without this, a date/timestamp time column
    * only fails deep inside analysis with an opaque `div` error. */
  private def requireLongTime(df: DataFrame, name: String, op: String): Unit = {
    val dt = df.columns.find(_ == name)
      .map(_ => df.schema(name).dataType)
      .getOrElse(throw new IllegalArgumentException(
        s"$op: no column '$name' in [${df.columns.mkString(",")}]"))
    require(dt == org.apache.spark.sql.types.LongType,
      s"$op: time column '$name' must be LONG (epoch offset), got $dt — " +
        "convert with unix_micros()/unix_millis() first")
  }

  def asofJoin(leftDf: DataFrame, rightDf: DataFrame, leftKeys: Seq[String],
      rightKeys: Seq[String], leftTime: String, rightTime: String,
      rightTies: Seq[String] = Nil, tolerance: Option[Long] = None,
      nearest: Boolean = false): DataFrame = {
    val spark: SparkSession = leftDf.sparkSession
    if (!spark.experimental.extraStrategies.contains(AsOfJoinStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ AsOfJoinStrategy
    val lPlan = leftDf.queryExecution.analyzed
    // self-join hygiene (Dataset.join does this via DeduplicateRelations;
    // splicing raw analyzed plans must do it by hand): shared exprIds
    // across sides would make the join output ambiguous, so re-instance
    // every right attribute behind an aliasing Project when the sides
    // overlap — names are preserved, so resolution below is unchanged.
    val rPlan0 = rightDf.queryExecution.analyzed
    val rPlan =
      if (lPlan.outputSet.intersect(rPlan0.outputSet).isEmpty) rPlan0
      else org.apache.spark.sql.catalyst.plans.logical.Project(
        rPlan0.output.map(a => Alias(a, a.name)()), rPlan0)
    def resolve(p: LogicalPlan, n: String): Attribute =
      p.output.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(
          s"as-of join: no column '$n' in [${p.output.map(_.name).mkString(",")}]"))
    Bridge.ofRows(spark, AsOfJoinPlan(lPlan, rPlan,
      leftKeys.map(resolve(lPlan, _)), rightKeys.map(resolve(rPlan, _)),
      resolve(lPlan, leftTime), resolve(rPlan, rightTime),
      rightTies.map(resolve(rPlan, _)), tolerance, nearest))
  }

  /** Skew-resistant backward as-of: the documented mitigation for a
    * hot key (AQE's skew split covers only SMJ/SHJ, not this custom
    * node). Both sides shard by (key, wb = time div windowSize), and
    * each left window w additionally sees the CARRY — the latest right
    * row from any window before w — so the within-shard backward as-of
    * over keys (key, wb) returns exactly the global answer while the
    * hot key's rows spread over its time windows.
    *
    * Construction (all composition of tested pieces, long times only):
    *  1. per (rightKeys, wb) keep the last (time, ties) row — one row
    *     per window (Spark's window group limit keeps one row per
    *     window before the shuffle);
    *  2. as-of join the left's DISTINCT (key, wb) set against those
    *     per-window lasts at time wb-1 — the carry per left window;
    *     both inputs hold one row per (key, window), so this inner
    *     as-of is tiny regardless of row counts;
    *  3. union carries (re-tagged to their target window) with the
    *     right side and run the ordinary as-of with (key, wb) keys.
    * A window with no earlier right rows carries nothing; tolerance
    * still applies to the REAL time at step 3, so a stale carry nulls
    * out exactly like the unsharded operator. Window assignment uses
    * truncating `div` — any monotone time partition preserves
    * semantics; alignment only affects balance. */
  /** The negation columns [[asofJoinForward]] (and the sharded forward
    * composition) add and drop internally — reserved across the whole
    * as-of family: an input column with either name would be silently
    * overwritten and removed from the output. */
  private val negCols = Seq("__graft_neg_lt", "__graft_neg_rt")

  private def requireNoNegCols(leftDf: DataFrame, rightDf: DataFrame,
      op: String): Unit =
    require(!(leftDf.columns ++ rightDf.columns).exists(negCols.contains),
      s"$op: input columns collide with reserved names $negCols")

  def asofJoinSharded(leftDf: DataFrame, rightDf: DataFrame,
      leftKeys: Seq[String], rightKeys: Seq[String], leftTime: String,
      rightTime: String, rightTies: Seq[String] = Nil, windowSize: Long,
      tolerance: Option[Long] = None): DataFrame = {
    // the public entry reserves the negation names too (the forward
    // wrapper composes through the impl, where they are legitimate
    // time columns, so the check lives here, not in the impl)
    requireNoNegCols(leftDf, rightDf, "asofJoinSharded")
    asofJoinShardedImpl(leftDf, rightDf, leftKeys, rightKeys, leftTime,
      rightTime, rightTies, windowSize, tolerance)
  }

  private def asofJoinShardedImpl(leftDf: DataFrame, rightDf: DataFrame,
      leftKeys: Seq[String], rightKeys: Seq[String], leftTime: String,
      rightTime: String, rightTies: Seq[String], windowSize: Long,
      tolerance: Option[Long]): DataFrame = {
    require(windowSize > 0, "asofJoinSharded: windowSize must be > 0")
    requireLongTime(leftDf, leftTime, "asofJoinSharded")
    requireLongTime(rightDf, rightTime, "asofJoinSharded")
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val lwb = "__graft_lwb"; val rwb = "__graft_rwb"
    val reserved = Seq(lwb, rwb, "__graft_rn", "__graft_prev")
    require(!(leftDf.columns ++ rightDf.columns).exists(reserved.contains),
      s"asofJoinSharded: input columns collide with reserved names $reserved")
    val rCols = rightDf.columns.toSeq
    val l = leftDf.withColumn(lwb, expr(s"`$leftTime` div ${windowSize}L"))
    val r = rightDf.withColumn(rwb, expr(s"`$rightTime` div ${windowSize}L"))
    // 1: each (key, window)'s last (time, ties) row
    val wr = Window.partitionBy((rightKeys :+ rwb).map(col): _*)
      .orderBy(col(rightTime).desc +: rightTies.map(c => col(c).desc): _*)
    val rLast = r.withColumn("__graft_rn", row_number().over(wr))
      .filter(col("__graft_rn") === 1).drop("__graft_rn")
    // 2: carry per left window = latest per-window last with wb < w
    val lWins = l.select((leftKeys :+ lwb).map(col): _*).distinct()
      .withColumn("__graft_prev", col(lwb) - 1)
    val joined = asofJoin(lWins, rLast, leftKeys, rightKeys,
      "__graft_prev", rwb, Nil, None)
    // positional rename sidesteps duplicate names from the self-ish join
    val names = lWins.columns.map("w_" + _) ++ rLast.columns.map("c_" + _)
    val carries = joined.toDF(names.toIndexedSeq: _*)
      .filter(col("c_" + rightTime).isNotNull)
      .select(rCols.map(c => col("c_" + c).as(c)) :+ col("w_" + lwb).as(rwb): _*)
    // 3: within-shard as-of over (key, window)
    val rAll = r.select((rCols :+ rwb).map(col): _*).unionByName(carries)
    asofJoin(l, rAll, leftKeys :+ lwb, rightKeys :+ rwb, leftTime, rightTime,
        rightTies, tolerance)
      .drop(lwb, rwb)
  }

  /** Skew-resistant FORWARD as-of: the sharded composition over
    * negated time columns — negation turns "earliest at-or-after"
    * into "latest at-or-before", `div` stays a monotone partition of
    * the negated domain (truncating division is order-preserving),
    * and the backward carries become carries from the FOLLOWING real
    * window. Tie rules match [[asofJoinForward]] exactly (equal times
    * keep the highest tiebreak); tolerance bounds the forward
    * distance. Same 3-exchange budget as [[asofJoinSharded]]. */
  def asofJoinShardedForward(leftDf: DataFrame, rightDf: DataFrame,
      leftKeys: Seq[String], rightKeys: Seq[String], leftTime: String,
      rightTime: String, rightTies: Seq[String] = Nil, windowSize: Long,
      tolerance: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.functions.col
    requireLongTime(leftDf, leftTime, "asofJoinShardedForward")
    requireLongTime(rightDf, rightTime, "asofJoinShardedForward")
    requireNoNegCols(leftDf, rightDf, "asofJoinShardedForward")
    val Seq(nlt, nrt) = negCols
    val l = leftDf.withColumn(nlt, -col(leftTime))
    val r = rightDf.withColumn(nrt, -col(rightTime))
    asofJoinShardedImpl(l, r, leftKeys, rightKeys, nlt, nrt, rightTies,
        windowSize, tolerance)
      .drop(nlt, nrt)
  }

  /** Skew-resistant NEAREST as-of: the sharded composition with
    * carries from BOTH directions. Each (key, window) shard sees its
    * own right rows plus (a) the latest right row from any earlier
    * window and (b) the earliest right row from any later window, so
    * the within-shard nearest merge reconstructs the global
    * backward/forward candidates exactly:
    *  - backward carry = as-of over one-row-per-window "lasts"
    *    (the [[asofJoinSharded]] step 2, verbatim);
    *  - forward carry = FORWARD as-of over one-row-per-window
    *    "firsts" ((time, ties) ASC per window — nearest resolves
    *    forward ties to the LOWEST tiebreak, so the carry must too);
    *  - windows are monotone in time, so a carry can never outrank an
    *    own-window row on the wrong side.
    * Tie rules therefore match [[asofJoinNearest]] exactly (backward
    * wins equal distances; equal backward times keep the highest
    * tiebreak, equal forward times the lowest); `tolerance` bounds
    * the chosen REAL distance inside the merge. Exchange budget: one
    * extra bounded aggregate + tiny as-of versus [[asofJoinSharded]]
    * (the "firsts" plane), still nothing keyed on the bare hot key. */
  def asofJoinShardedNearest(leftDf: DataFrame, rightDf: DataFrame,
      leftKeys: Seq[String], rightKeys: Seq[String], leftTime: String,
      rightTime: String, rightTies: Seq[String] = Nil, windowSize: Long,
      tolerance: Option[Long] = None): DataFrame = {
    require(windowSize > 0, "asofJoinShardedNearest: windowSize must be > 0")
    requireLongTime(leftDf, leftTime, "asofJoinShardedNearest")
    requireLongTime(rightDf, rightTime, "asofJoinShardedNearest")
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val lwb = "__graft_lwb"; val rwb = "__graft_rwb"
    // negCols included: the forward-carry step composes through
    // asofJoinForward, whose negation would overwrite them
    val reserved =
      Seq(lwb, rwb, "__graft_rn", "__graft_prev", "__graft_next") ++ negCols
    require(!(leftDf.columns ++ rightDf.columns).exists(reserved.contains),
      s"asofJoinShardedNearest: input columns collide with reserved names $reserved")
    val rCols = rightDf.columns.toSeq
    val l = leftDf.withColumn(lwb, expr(s"`$leftTime` div ${windowSize}L"))
    val r = rightDf.withColumn(rwb, expr(s"`$rightTime` div ${windowSize}L"))
    // each (key, window)'s LAST (time, ties) row — backward carry source
    val wLast = Window.partitionBy((rightKeys :+ rwb).map(col): _*)
      .orderBy(col(rightTime).desc +: rightTies.map(c => col(c).desc): _*)
    val rLast = r.withColumn("__graft_rn", row_number().over(wLast))
      .filter(col("__graft_rn") === 1).drop("__graft_rn")
    // each (key, window)'s FIRST (time, ties) row — forward carry source
    val wFirst = Window.partitionBy((rightKeys :+ rwb).map(col): _*)
      .orderBy(col(rightTime).asc +: rightTies.map(c => col(c).asc): _*)
    val rFirst = r.withColumn("__graft_rn", row_number().over(wFirst))
      .filter(col("__graft_rn") === 1).drop("__graft_rn")
    val lWins = l.select((leftKeys :+ lwb).map(col): _*).distinct()
    // backward carry per left window = latest per-window last with wb < w
    val lPrev = lWins.withColumn("__graft_prev", col(lwb) - 1)
    val bJoined = asofJoin(lPrev, rLast, leftKeys, rightKeys,
      "__graft_prev", rwb, Nil, None)
    val bNames = lPrev.columns.map("w_" + _) ++ rLast.columns.map("c_" + _)
    val bCarries = bJoined.toDF(bNames.toIndexedSeq: _*)
      .filter(col("c_" + rightTime).isNotNull)
      .select(rCols.map(c => col("c_" + c).as(c)) :+ col("w_" + lwb).as(rwb): _*)
    // forward carry per left window = earliest per-window first with wb > w
    val lNext = lWins.withColumn("__graft_next", col(lwb) + 1)
    val fJoined = asofJoinForward(lNext, rFirst, leftKeys, rightKeys,
      "__graft_next", rwb, Nil, None)
    val fNames = lNext.columns.map("w_" + _) ++ rFirst.columns.map("c_" + _)
    val fCarries = fJoined.toDF(fNames.toIndexedSeq: _*)
      .filter(col("c_" + rightTime).isNotNull)
      .select(rCols.map(c => col("c_" + c).as(c)) :+ col("w_" + lwb).as(rwb): _*)
    // within-shard NEAREST over (key, window), carries from both sides
    val rAll = r.select((rCols :+ rwb).map(col): _*)
      .unionByName(bCarries).unionByName(fCarries)
    asofJoin(l, rAll, leftKeys :+ lwb, rightKeys :+ rwb, leftTime, rightTime,
        rightTies, tolerance, nearest = true)
      .drop(lwb, rwb)
  }

  /** Nearest as-of (pandas merge_asof direction='nearest'): the closer
    * of the backward and forward matches per left row, backward
    * winning distance ties. Long (epoch-offset) time columns only —
    * distances must be computable. Costs exactly the backward pass:
    * when the merge's scan stops, the right cursor is already the
    * key's earliest future row. Tie detail: among equal FUTURE times
    * the cursor holds the first row in (time, ties) order, so forward
    * ties resolve to the LOWEST tiebreak, while backward ties keep the
    * highest (the backward candidate overwrites) — both directions'
    * rules are fixed and oracle-checked. `tolerance` bounds the chosen
    * distance in either direction. */
  def asofJoinNearest(leftDf: DataFrame, rightDf: DataFrame,
      leftKeys: Seq[String], rightKeys: Seq[String], leftTime: String,
      rightTime: String, rightTies: Seq[String] = Nil,
      tolerance: Option[Long] = None): DataFrame =
    asofJoin(leftDf, rightDf, leftKeys, rightKeys, leftTime, rightTime,
      rightTies, tolerance, nearest = true)

  /** Forward as-of: EARLIEST right row with time >= left time — the
    * documented negation of the backward pass (long time columns
    * only). Tiebreaks pass through UN-negated: the merge keeps the
    * LAST qualifying row in (time, tie) ascending order, which for
    * equal times is already the HIGHEST tiebreak in either direction.
    * The negation columns never escape: the result schema equals
    * `leftDf ++ rightDf` exactly. */
  def asofJoinForward(leftDf: DataFrame, rightDf: DataFrame,
      leftKeys: Seq[String], rightKeys: Seq[String], leftTime: String,
      rightTime: String, rightTies: Seq[String] = Nil,
      tolerance: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.functions.col
    requireLongTime(leftDf, leftTime, "asofJoinForward")
    requireLongTime(rightDf, rightTime, "asofJoinForward")
    requireNoNegCols(leftDf, rightDf, "asofJoinForward")
    // negation is loud on the one unrepresentable value: -Long.MinValue
    // overflows, and under ANSI (the default) Spark raises rather than
    // wrapping — a time column at the domain edge cannot silently
    // produce a wrong join (AsOfJoinSpec pins both ANSI modes)
    val Seq(nlt, nrt) = negCols
    val l = leftDf.withColumn(nlt, -col(leftTime))
    val r = rightDf.withColumn(nrt, -col(rightTime))
    asofJoin(l, r, leftKeys, rightKeys, nlt, nrt, rightTies, tolerance)
      .drop(nlt, nrt)
  }
}
