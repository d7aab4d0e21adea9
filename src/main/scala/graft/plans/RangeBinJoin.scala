package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

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
  * Scope guards: inner joins only; deterministic condition; both
  * bound conjuncts must constrain the SAME point expression (semantic
  * equality) with both bounds from the single opposite side; all
  * three expressions numeric; no existing cross-side equi key (the
  * re-blocking trap: q_interval_join's hand-binned shape already has
  * a bucket key, and wrapping it again would square the fan-out);
  * never re-fires on its own or a sibling rule's output (the
  * [[Binning.MarkerPrefix]] blanket guard — the residual join's
  * condition is still a range sandwich, so the marker is what stops
  * a second rewrite).
  *
  * Bin width tunes performance only, never correctness: narrow bins
  * replicate long intervals into more (bounded, broadcastable) dim
  * rows; wide bins admit more verify candidates. The width is
  * STATS-DERIVED at rule-fire time from the same one-pass stats: the
  * interval side's median length (a driver-side evaluation for
  * LocalRelations, one column-pruned aggregate job otherwise, cached
  * per canonicalized plan) quantized to a power of two, falling back
  * to [[RangeBinJoin.BinWidth]] when the pass cannot run. q_range_join
  * runs the naive spelling through this rule; RangeRuleSpec pins
  * brute-force equality, the NestedLoop-free plan shape,
  * NaN/Inf/sentinel exactness through the residual, and the adaptive
  * width.
  */
object RangeBinJoin extends Rule[LogicalPlan] with PredicateHelper {

  private val BkName = "__graft_bk"
  private val BksName = "__graft_bks"

  /** Fallback bin width when the stats probe cannot run. */
  val BinWidth = 8.0

  /** Width chosen by the most recent rewrite (test observability). */
  @volatile var lastWidth: Double = BinWidth

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

  private def numeric(e: Expression): Boolean =
    e.dataType.isInstanceOf[NumericType]

  private def bucketOf(e: Expression, width: Double): Expression =
    Floor(Divide(Cast(e, DoubleType), Literal(width)))

  private def hasEquiKey(cond: Expression, left: LogicalPlan,
      right: LogicalPlan): Boolean =
    splitConjunctivePredicates(cond).exists {
      case EqualTo(x, y) =>
        (x.references.subsetOf(left.outputSet)
          && y.references.subsetOf(right.outputSet)) ||
          (y.references.subsetOf(left.outputSet)
            && x.references.subsetOf(right.outputSet))
      case _ => false
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
    } yield (p1, lo, hi, side)).take(1).toList.headOption
  }

  private def bucketPoint(child: LogicalPlan, p: Expression, width: Double)
      : (LogicalPlan, Attribute) = {
    val bk = Alias(bucketOf(p, width), BkName)()
    (Project(child.output :+ bk, child), bk.toAttribute)
  }

  private def explodeBuckets(child: LogicalPlan, lo: Expression,
      hi: Expression, width: Double): (LogicalPlan, Attribute) = {
    val seq = Alias(new Sequence(bucketOf(lo, width), bucketOf(hi, width),
      None, Some(SQLConf.get.sessionLocalTimeZone)), BksName)()
    val proj = Project(child.output :+ seq, child)
    val dk = AttributeReference(BkName, LongType, nullable = true)()
    val gen = Generate(Explode(seq.toAttribute),
      unrequiredChildIndex = Seq(child.output.size),
      outer = false, qualifier = None, generatorOutput = Seq(dk), child = proj)
    (gen, dk)
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case j @ Join(left, right, Inner, Some(cond), _)
        if cond.deterministic
          && !Binning.hasMarker(left) && !Binning.hasMarker(right)
          && !hasEquiKey(cond, left, right) =>
      rangeSandwich(cond, left, right) match {
        case None => j
        case Some((p, lo, hi, pointIsLeft)) =>
          val dim = if (pointIsLeft) right else left
          val stats = Binning.sideStats(dim, lo, hi)
          val width = Binning.widthOf(stats, BinWidth)
          lastWidth = width
          val needResidual = Binning.unsafePossible(stats, width)
          val safe = Binning.safeSpan(lo, hi, width)
          val binnedDim = if (needResidual) Filter(safe, dim) else dim
          val (newLeft, newRight, pk, dk) =
            if (pointIsLeft) {
              val (lp, pk) = bucketPoint(left, p, width)
              val (rp, dk) = explodeBuckets(binnedDim, lo, hi, width)
              (lp, rp, pk, dk)
            } else {
              val (lp, dk) = explodeBuckets(binnedDim, lo, hi, width)
              val (rp, pk) = bucketPoint(right, p, width)
              (lp, rp, pk, dk)
            }
          val blocked = Join(newLeft, newRight, Inner,
            Some(EqualTo(pk, dk)), JoinHint.NONE)
          val binned = Project(j.output, Filter(cond, blocked))
          if (!needResidual) binned
          else {
            val marked = Project(
              dim.output :+ Alias(Literal(true), BkName)(),
              Filter(Not(safe), dim))
            val bcast = Some(HintInfo(strategy = Some(BROADCAST)))
            val residual =
              if (pointIsLeft)
                Join(left, marked, Inner, Some(cond),
                  JoinHint(None, bcast))
              else
                Join(marked, right, Inner, Some(cond),
                  JoinHint(bcast, None))
            Union(binned, Project(j.output, residual))
          }
      }
  }
}
