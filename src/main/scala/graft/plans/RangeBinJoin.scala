package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule

/** Optimizer rule: plan `JOIN ... ON p >= lo AND p <= hi` (the
  * point-in-interval / range theta join, including every `BETWEEN`
  * spelling) as a BINNED equi-join instead of the nested loop it
  * otherwise becomes — the fourth member of the declarative-scale rule
  * family beside [[FuzzyJoinBlocking]] (edit distance),
  * [[HammingBandJoin]] (Hamming radius), and [[OverlapJoinBlocking]]
  * (set overlap).
  *
  * A pure range predicate has no equi keys, so Spark's join selection
  * falls back to BroadcastNestedLoopJoin / CartesianProduct — every
  * point row tested against every interval. The fixed-width binning
  * identity is exact for FINITE values: with bucket(x) = floor(x / G),
  * lo ≤ p ≤ hi implies bucket(lo) ≤ bucket(p) ≤ bucket(hi) (division
  * by a positive constant and floor are monotone, and cast-to-double
  * is monotone). NaN/±Inf bounds break it (Spark orders NaN above
  * everything, so `p <= NaN` is TRUE yet NaN has no bucket; an
  * infinite bound has no bucket range at all), and a finite-but-huge
  * span (an SCD2 end-of-time sentinel against a narrow width) would
  * explode into a catastrophic — or impossible — sequence. So the
  * rule routes interval rows by the per-row [[Binning.safeSpan]]
  * predicate and rewrites
  *
  *   Join(L, R, Inner, p >= lo AND p <= hi [AND rest])
  *
  * into
  *
  *   Union(
  *     Project(L.out ++ R.out,
  *       Filter(originalCondition,
  *         Join(bucket(p) over POINT side,
  *              explode(sequence(bucket(lo), bucket(hi)))
  *                over Filter(safe, DIM side),
  *              Inner, pk = dk))),
  *     Project(L.out ++ R.out,
  *       Join(POINT side, Filter(NOT safe, DIM side) [hint: BROADCAST],
  *            Inner, originalCondition)))
  *
  * The residual branch evaluates the ORIGINAL predicate row-by-row
  * over only the unsafe interval rows — exact for every input — with
  * a BROADCAST hint on its filtered unsafe side. Crucially it is
  * emitted ONLY when the plan-time stats pass ([[Binning.sideStats]])
  * proves unsafe rows can exist: AQE does not propagate empty
  * relations through broadcast stages, so an always-on residual would
  * re-scan the point side per query even when empty. Clean data — a
  * literal band table, or any side whose one-pass stats show all
  * lengths finite and under the span cap — keeps exactly the lean
  * pre-guard plan. A NULL bound drops from both branches, which is
  * exact: it can never satisfy the original inequalities.
  *
  * The original condition re-applies in full on the binned branch
  * (bucket collisions are candidates, not answers; strict `<`/`>`
  * bounds and extra conjuncts ride along untouched). Unlike the other
  * blocking rules NO canonical filter is needed: the point side's
  * bucket is single-valued, so a qualifying (point, interval) pair
  * meets on exactly one key — multiplicity is preserved by
  * construction. An inverted interval (lo > hi) matches nothing
  * through the original predicate; Spark's sequence() walks it
  * backwards, which only creates candidates the verify then rejects —
  * harmless.
  *
  * Scope guards: [[Binning.Blockable]]'s (inner join, deterministic
  * condition, no cross-side equi key — q_interval_join's hand-binned
  * shape already has a bucket key, and wrapping it again would square
  * the fan-out — and no marker column: the residual join's condition
  * is still a range sandwich, so the marker is what stops a second
  * rewrite); both bound conjuncts must constrain the SAME point
  * expression (semantic equality) with both bounds from the single
  * opposite side; all three expressions numeric.
  *
  * Bin width tunes performance only, never correctness: narrow bins
  * replicate long intervals into more (bounded, broadcastable) dim
  * rows; wide bins admit more verify candidates. The width is
  * STATS-DERIVED at rule-fire time from the same one-pass stats: the
  * interval side's MEDIAN length (a driver-side evaluation for
  * LocalRelations, one column-pruned aggregate job otherwise, cached
  * per canonicalized plan) quantized to a power of two, falling back
  * to [[RangeBinJoin.BinWidth]] when the pass cannot run. Not the mean
  * [[IntervalOverlapJoin]] takes, because the median ignores a few
  * huge spans and the mean does not. In RangeRuleSpec's sentinel case
  * (40 bands of length 10 plus one [0, 2.53e17] band) the median gives
  * width 8: the sentinel spans past the bucket cap and goes to the
  * residual. The mean (≈ 6.2e15) would give width 2^52: the sentinel
  * would span ~56 buckets and stay binned, and every non-negative point
  * and every band would share bucket 0, so the binned join would verify
  * all of those point × band pairs.
  * q_range_join runs the naive spelling through this rule;
  * RangeRuleSpec pins brute-force equality, the NestedLoop-free plan
  * shape, NaN/Inf/sentinel exactness through the residual, and the
  * adaptive width.
  */
object RangeBinJoin extends Rule[LogicalPlan] with PredicateHelper {
  import Binning._

  private val BkName = "__graft_bk"
  private val BksName = "__graft_bks"

  /** Fallback bin width when the stats probe cannot run. */
  val BinWidth = 8.0

  /** `p >= lo` in its four spellings → (point, bound). */
  private def lowerBound(e: Expression): Option[(Expression, Expression)] =
    e match {
      case GreaterThanOrEqual(p, lo) => Some((p, lo))
      case GreaterThan(p, lo) => Some((p, lo))
      case LessThanOrEqual(lo, p) => Some((p, lo))
      case LessThan(lo, p) => Some((p, lo))
      case _ => None
    }

  /** `p <= hi` in its four spellings → (point, bound). */
  private def upperBound(e: Expression): Option[(Expression, Expression)] =
    e match {
      case LessThanOrEqual(p, hi) => Some((p, hi))
      case LessThan(p, hi) => Some((p, hi))
      case GreaterThanOrEqual(hi, p) => Some((p, hi))
      case GreaterThan(hi, p) => Some((p, hi))
      case _ => None
    }

  /** (point expr, lo, hi, pointSideIsLeft) when the condition holds a
    * complete cross-side range sandwich. */
  private def rangeSandwich(cond: Expression, left: LogicalPlan,
      right: LogicalPlan): Option[(Expression, Expression, Expression, Boolean)] = {
    val conjuncts = splitConjunctivePredicates(cond)
    val lowers = conjuncts.flatMap(lowerBound(_))
    val uppers = conjuncts.flatMap(upperBound(_))
    (for {
      (p1, lo) <- lowers.iterator
      (p2, hi) <- uppers.iterator
      if p1.semanticEquals(p2) && numeric(p1) && numeric(lo) && numeric(hi)
      side <- {
        val pLeft = p1.references.subsetOf(left.outputSet)
        val pRight = p1.references.subsetOf(right.outputSet)
        val bLeft = lo.references.subsetOf(left.outputSet) &&
          hi.references.subsetOf(left.outputSet)
        val bRight = lo.references.subsetOf(right.outputSet) &&
          hi.references.subsetOf(right.outputSet)
        if (pLeft && bRight) Iterator(true)
        else if (pRight && bLeft) Iterator(false)
        else Iterator.empty
      }
    } yield (p1, lo, hi, side)).nextOption()
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case j @ Blockable(left, right, cond) =>
      rangeSandwich(cond, left, right) match {
        case None => j
        case Some((p, lo, hi, pointIsLeft)) =>
          val (point, dim) = if (pointIsLeft) (left, right) else (right, left)
          val stats = sideStats(dim, lo, hi)
          val width = widthOf(stats.median, BinWidth)
          val needResidual = unsafePossible(stats, width)
          val safe = safeSpan(lo, hi, width)
          val pk = Alias(bucketOf(p, width), BkName)()
          val pointGen = withColumn(point, pk)
          val (dimGen, dk) = explodeBuckets(
            if (needResidual) Filter(safe, dim) else dim,
            lo, hi, width, BkName, BksName)
          val (lgen, rgen) =
            if (pointIsLeft) (pointGen, dimGen) else (dimGen, pointGen)
          val binned = assemble(j, lgen, rgen, EqualTo(pk.toAttribute, dk), cond)
          union(binned +: (if (!needResidual) Nil else Seq(residual(j, cond,
            dim, safe, point, sideIsLeft = !pointIsLeft, BkName))))
      }
  }
}
