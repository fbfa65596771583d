package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ArrayType, DateType, DayTimeIntervalType, IntegerType, LongType, TimestampType}

/** Optimizer rule: a PURE range join — an inner join whose only
  * cross-side condition bounds the difference of two integral columns
  * to a constant-width band (`l.ts >= r.ts - w AND l.ts < r.ts`) —
  * becomes a bucketized EQUI-join: both sides bucket their column to
  * band-width grains, the banded side duplicates each row into the two
  * buckets its band can touch (a band of width w spans at most 2
  * buckets of width w — and always exactly 2 distinct ones, since an
  * interval of length exactly w always straddles a bucket boundary, so
  * the explode never produces duplicate join keys), and the original
  * inequalities stay on as residual filters.
  *
  * Why: Spark plans a no-equi-key inner join as
  * BroadcastNestedLoopJoin (or a cartesian) — O(|L|·|R|) comparisons
  * and a broadcast of one ENTIRE side. At 100 TB that plan does not
  * finish. The rewrite is the standard interval-bucketing shape
  * ([[graft.queries.Batch8]] hand-writes it for `interval_join`):
  * shuffle keys become (bucket), the join hash-partitions, and each
  * row meets only rows within one band-width of it. Work drops to
  * O(rows-per-bucket²) per bucket — proportional to the true output
  * for time-local data — and parallelism scales with the number of
  * buckets (= the time span / w), not 1.
  *
  * Fires only when provably safe:
  *  - Inner join, non-streaming, and NO cross-side equality conjunct
  *    (if an equi key exists Spark already plans a hash/sort-merge
  *    join; rewriting would only add the 2x explode);
  *  - exactly one band: one lower and one upper bound on the same
  *    ordered attribute pair, both int/long/timestamp/date (timestamps
  *    are µs longs internally — the natural `ts >= ts - INTERVAL ...`
  *    spelling buckets on `unix_micros`; dates are epoch-day ints, so
  *    `d >= date_sub(d2, n)` buckets on `unix_date`), band width
  *    0 < w <= 2^42;
  *  - every other conjunct is kept verbatim in the new join condition,
  *    and the band inequalities themselves are re-applied as residuals
  *    (bucket equality is a superset relaxation, never a replacement).
  *
  * Null semantics are preserved: a null band column fails the original
  * inequalities (excluded) and produces null buckets after the
  * rewrite, which fail the bucket equality (excluded).
  *
  * Overflow: bucket arithmetic never computes `col ± offset` directly —
  * floor division is a truncating `div` with a sign correction, and
  * `floor((y+k)/w)` decomposes as `floor(y/w) + floor((pmod(y,w)+k)/w)`
  * whose residue term is bounded by w + |k| << Long range — so for any
  * data on which the ORIGINAL condition is well-defined (no overflow of
  * its own `a + c` terms), the bucket cover is exact over the full Long
  * domain. Rows whose original condition itself overflows are the one
  * remaining caveat: ANSI mode would raise on them only if their bucket
  * pair collides (the residual re-evaluates the original conjuncts).
  */
object RangeJoinRewrite extends Rule[LogicalPlan] with PredicateHelper {

  /** Max band width / |endpoint offset| — bounds [[fdivAdd]]'s residue
    * term (pmod + k < w + |k| <= 2^43) and keeps the bucket count
    * meaningful. 2^42 µs ≈ 50 days of timestamp band. */
  private val maxW = 1L << 42

  /** A conjunct normalized to a one-sided bound on (a - b):
    * a - b <= hi (upper) or a - b >= lo (lower); strictness only
    * shrinks the band, which bucket coverage doesn't depend on. */
  private final case class Bound(a: Attribute, b: Attribute, k: Long,
      isUpper: Boolean)

  /** Parse `expr` as `attr + const` (const defaults 0; µs for
    * timestamps — `ts - INTERVAL '600' SECOND` optimizes to
    * `TimestampAddInterval(ts, Literal(-600000000, DayTimeInterval))`
    * and day-time interval values are stored as µs longs). */
  private def term(e: Expression): Option[(Attribute, Long)] = e match {
    case a: Attribute if integral(a)                  => Some((a, 0L))
    case Add(t, Literal(c, dt), _) =>
      term(t).collect { case (a, c0) if integral0(dt) => (a, c0 + toL(c)) }
    case Add(Literal(c, dt), t, _) =>
      term(t).collect { case (a, c0) if integral0(dt) => (a, c0 + toL(c)) }
    case Subtract(t, Literal(c, dt), _) =>
      term(t).collect { case (a, c0) if integral0(dt) => (a, c0 - toL(c)) }
    case TimestampAddInterval(t, Literal(us: Long, _: DayTimeIntervalType), _) =>
      term(t).map { case (a, c0) => (a, c0 + us) }
    // date ± int days (DateType is epoch-days internally)
    case DateAdd(t, Literal(d: Int, IntegerType)) =>
      term(t).map { case (a, c0) => (a, c0 + d) }
    case DateSub(t, Literal(d: Int, IntegerType)) =>
      term(t).map { case (a, c0) => (a, c0 - d) }
    case _ => None
  }
  private def integral(a: Expression) =
    a.dataType == LongType || a.dataType == IntegerType ||
      a.dataType == TimestampType || a.dataType == DateType
  private def integral0(dt: org.apache.spark.sql.types.DataType) =
    dt == LongType || dt == IntegerType
  private def toL(v: Any): Long = v match {
    case i: Int => i.toLong
    case l: Long => l
  }

  /** Normalize a comparison conjunct into a [[Bound]] on (a - b) for
    * SOME orientation of its two attribute terms. cmp(a+c1, b+c2)
    * becomes `a - b (cmp) c2 - c1`. */
  private def bound(e: Expression): Option[Bound] = {
    def mk(l: Expression, r: Expression, upper: Boolean): Option[Bound] =
      for { (a, c1) <- term(l); (b, c2) <- term(r) }
        yield Bound(a, b, c2 - c1, isUpper = upper)
    e match {
      case LessThan(l, r)           => mk(l, r, upper = true)
      case LessThanOrEqual(l, r)    => mk(l, r, upper = true)
      case GreaterThan(l, r)        => mk(l, r, upper = false)
      case GreaterThanOrEqual(l, r) => mk(l, r, upper = false)
      case _                        => None
    }
  }

  /** Re-orient a bound to the canonical (x, y) attribute pair:
    * a bound on (y - x) flips into one on (x - y). */
  private def orient(bd: Bound, x: Attribute, y: Attribute): Option[Bound] =
    if (bd.a.semanticEquals(x) && bd.b.semanticEquals(y)) Some(bd)
    else if (bd.a.semanticEquals(y) && bd.b.semanticEquals(x))
      Some(Bound(x, y, -bd.k, isUpper = !bd.isUpper))
    else None

  private def crossSide(a: Attribute, b: Attribute, j: Join): Boolean =
    (j.left.outputSet.contains(a) && j.right.outputSet.contains(b)) ||
      (j.left.outputSet.contains(b) && j.right.outputSet.contains(a))

  /** The band column as a long: timestamps via their internal µs view
    * (`Cast(ts, long)` would truncate to SECONDS — wrong unit). */
  private def asLong(e: Expression): Expression = e.dataType match {
    case LongType      => e
    case TimestampType => UnixMicros(e)   // µs view; Cast would give SECONDS
    case DateType      => Cast(UnixDate(e), LongType) // epoch days (int)
    case _             => Cast(e, LongType)
  }

  /** Overflow-free floor division of a long expression by w > 0:
    * truncating `div`, corrected down by one for a negative dividend
    * with a non-zero remainder. No add/subtract touches the column
    * value, so the full Long domain buckets exactly. */
  private def fdiv(el: Expression, w: Long): Expression = {
    val wl = Literal(w, LongType)
    val q = new IntegralDivide(el, wl)
    If(And(LessThan(el, Literal(0L, LongType)),
        Not(EqualTo(new Remainder(el, wl), Literal(0L, LongType)))),
      Add(q, Literal(-1L, LongType), EvalMode.LEGACY), q)
  }

  /** floor((e + k) / w) WITHOUT computing e + k (which can overflow):
    * e = w·floor(e/w) + pmod(e,w), so it equals
    * floor(e/w) + floor((pmod(e,w) + k)/w), whose residue term is
    * bounded by w + |k| <= 2^43 — far from Long range. The outer add is
    * LEGACY (wrapping) so rows for which even the ORIGINAL condition
    * overflows get a garbage-but-non-failing bucket; the residual
    * filters re-evaluate the original conjuncts on any collision. */
  private def fdivAdd(el: Expression, k: Long, w: Long): Expression = {
    val resid = Add(new Pmod(el, Literal(w, LongType)), Literal(k, LongType),
      EvalMode.LEGACY)
    Add(fdiv(el, w), fdiv(resid, w), EvalMode.LEGACY)
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case j @ Join(left, right, Inner, Some(cond), _)
        if !j.left.isStreaming && !j.right.isStreaming =>
      val conjuncts = splitConjunctivePredicates(cond)
      // casts count: the analyzer wraps type-mismatched equi-keys as
      // EqualTo(Cast(a), b), which ExtractEquiJoinKeys still plans as
      // a hash/SMJ key — firing the rewrite there would only add the
      // 2x explode on top of an already-equi-keyed join
      def stripCast(e: Expression): Expression = e match {
        case Cast(c, _, _, _) => stripCast(c)
        case other => other
      }
      val hasCrossEquality = conjuncts.exists {
        case EqualTo(l, r) => (stripCast(l), stripCast(r)) match {
          case (a: Attribute, b: Attribute) => crossSide(a, b, j)
          case _ => false
        }
        case EqualNullSafe(l, r) => (stripCast(l), stripCast(r)) match {
          case (a: Attribute, b: Attribute) => crossSide(a, b, j)
          case _ => false
        }
        case _ => false
      }
      val bounds = conjuncts.flatMap(c => bound(c).map(c -> _))
        .filter { case (_, bd) => crossSide(bd.a, bd.b, j) &&
          bd.a.deterministic && bd.b.deterministic }
      if (hasCrossEquality || bounds.isEmpty) j
      else {
        // try each candidate attribute pair (canonicalized x-on-left)
        // until one forms a COMPLETE band: fixing the pair to
        // bounds.head made whether a 100-TB join rewrote depend on
        // conjunct order when an unrelated one-sided inequality
        // happened to come first
        val pairs = bounds.map { case (_, bd) =>
          if (left.outputSet.contains(bd.a)) (bd.a, bd.b) else (bd.b, bd.a)
        }.distinct
        // a candidate pair only counts if its band is VALID (both
        // bounds AND sane width) — checking the width after committing
        // to the first both-bounded pair reintroduced conjunct-order
        // dependence (ADVICE r11: a degenerate zero-width band listed
        // first would mask a valid band on another pair), so validity
        // is folded into the search and the iterator advances past
        // rejects
        val complete = pairs.iterator.flatMap { case (x, y) =>
          val oriented = bounds.flatMap { case (c, bd) => orient(bd, x, y).map(c -> _) }
          val uppers = oriented.collect { case (_, bd) if bd.isUpper => bd.k }
          val lowers = oriented.collect { case (_, bd) if !bd.isUpper => bd.k }
          if (uppers.isEmpty || lowers.isEmpty) None
          else {
            val hi = uppers.min
            val lo = lowers.max
            val w = hi - lo
            if (w <= 0 || w > maxW || math.abs(hi) > maxW || math.abs(lo) > maxW) None
            else Some((x, y, hi, lo, w))
          }
        }.nextOption()
        complete match {
          case None => j
          case Some((x, y, hi, lo, w)) =>
            {
              // left: one bucket of x
              val bucketL = Alias(fdiv(asLong(x), w), "__graft_rbucket_l")()
              val leftProj = Project(left.output :+ bucketL, left)
              // right: the band [y+lo, y+hi] touches exactly these buckets
              val yl = asLong(y)
              val arr = CreateArray(Seq(
                fdivAdd(yl, lo, w),
                fdivAdd(yl, hi, w)))
              val bucketR = AttributeReference("__graft_rbucket_r", LongType,
                nullable = arr.dataType.asInstanceOf[ArrayType].containsNull)()
              val rightGen = Generate(Explode(arr), unrequiredChildIndex = Nil,
                outer = false, qualifier = None,
                generatorOutput = Seq(bucketR), right)
              val newCond = (conjuncts :+
                EqualTo(bucketL.toAttribute, bucketR)).reduce(And)
              // the caller's join hint survives the rewrite — a user's
              // /*+ BROADCAST */ on the band join still binds to the
              // same sides of the rebuilt equi-join
              Project(left.output ++ right.output,
                Join(leftProj, rightGen, Inner, Some(newCond), j.hint))
            }
        }
      }
  }
}

/** Opt-in Spark extension: `spark.sql.extensions=graft.plans.GraftOptimizations`
  * (composes with graft.GraftExtensions via a comma-separated list).
  * Top-k per group (`Filter(row_number() <= k)` over a Window) needs no
  * graft rule: Spark's own `InferWindowGroupLimit` adds a per-partition
  * `WindowGroupLimit` below the window's shuffle. */
class GraftOptimizations extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => RangeJoinRewrite)
    ext.injectPlannerStrategy(_ => AsOfJoinStrategy)
  }
}
