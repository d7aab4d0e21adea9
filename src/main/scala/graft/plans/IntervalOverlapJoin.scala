package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule

/** Optimizer rule: plan `JOIN ... ON a.lo <= b.hi AND b.lo <= a.hi`
  * (the INTERVAL-OVERLAP theta join — session concurrency, ad
  * attribution windows, shift overlap) as a binned equi-join — the
  * fifth declarative-scale rule, completing [[RangeBinJoin]]'s
  * point-in-interval case with the interval×interval one.
  *
  * Both sides explode over their intervals' overlapped fixed-width
  * buckets and equi-join on the bucket; the original predicate
  * re-applies as the verify. Unlike the point case a qualifying pair
  * CAN meet in several shared buckets, so the [[FuzzyJoinBlocking]]
  * canonical-key trick returns: keep only the bucket equal to
  * `greatest(bucket(a.lo), bucket(b.lo))`. That bucket is always
  * inside BOTH exploded ranges when the predicate holds — each `lo`
  * is an endpoint of its own range, and the cross constraints
  * `lo_a ≤ hi_b` / `lo_b ≤ hi_a` put each `lo`'s bucket inside the
  * OTHER side's range (floor and division by a positive constant are
  * monotone) — and the argument never assumes lo ≤ hi, so rows with
  * inverted bounds (whose raw predicate can still be true) are
  * handled exactly: Spark's sequence() walks them backwards, covering
  * the same bucket set. Multiplicity is therefore preserved with no
  * distinct shuffle.
  *
  * The monotone-bucket argument needs FINITE values, and the explode
  * needs a bounded span, so each side routes its rows through
  * [[Binning.safeSpan]] exactly like [[RangeBinJoin]]: safe×safe
  * pairs take the binned equi-join; the residual pairs — unsafe-left
  * against everything, plus safe-left against unsafe-right, a clean
  * partition of what the binned branch cannot see — take exact
  * fallback joins that evaluate the ORIGINAL predicate row-by-row,
  * hint-BROADCAST on their filtered unsafe side. Each residual exists
  * ONLY when that side's plan-time stats pass ([[Binning.sideStats]])
  * proves unsafe rows can exist — AQE does not propagate empty
  * relations through broadcast stages, so an always-on residual would
  * re-scan the other side per query even when empty; a side whose
  * one-pass stats show every length finite and under the span cap
  * (or a provably-safe LocalRelation) skips its filter and residual,
  * keeping clean-data plans as lean as before the guard existed.
  * NULL bounds drop from every branch, which is exact: they cannot
  * satisfy the original inequalities of an inner join.
  *
  * Scope guards: [[Binning.Blockable]]'s (inner join, deterministic
  * condition, no cross-side equi key — which also keeps this rule off
  * [[RangeBinJoin]]'s blocked join — and no marker column: a residual
  * join's condition is still an overlap sandwich, so the marker is
  * what stops a second rewrite); the two cross-side `≤`/`<` conjuncts
  * must run in OPPOSITE directions (L→R and R→L) over numeric
  * expressions.
  *
  * Bin width is a performance knob only, never correctness. It is
  * STATS-DERIVED at rule-fire time from the same per-side one-pass
  * stats: each side's MEAN |hi − lo| quantized to a power of two. At
  * width G, with λ intervals per unit of time and mean length L̄, the
  * buckets hold about λ·(G + L̄) intervals each and there are T/G of
  * them, so the candidate pairs are ≈ N·λ·(G + L̄)²/G — smallest at
  * G = L̄. The median is the wrong statistic: sessions are mostly one
  * event long, so on the session data the median span is 0 (91,147 of
  * sf0.1's 95,465 sessions), which gives the 1800 fallback, while the
  * mean (~43 s) gives 32 and about an eighth of the candidates. The
  * mean comes from one `avg` beside the probe's other aggregates
  * (driver-side for LocalRelations, one column-pruned aggregate job
  * otherwise, cached per canonicalized side and data version — a
  * checkpointed side by its RDD id, and the two sides of a self-join
  * share one entry, so q_session_overlap probes once). The rule takes
  * the LARGER of the two sides' widths (bounding fan-out on both) and
  * falls back to [[IntervalOverlapJoin.BinWidth]] (1800 — epoch-second
  * session spans) when no pass can run or every length is 0.
  * q_session_overlap runs the naive spelling through this rule;
  * IntervalRuleSpec pins brute-force equality with multiplicity, the
  * binned plan shape, residual exactness for NaN/Inf/sentinel rows,
  * and the adaptive width.
  */
object IntervalOverlapJoin extends Rule[LogicalPlan] with PredicateHelper {
  import Binning._

  private val IkName = "__graft_ik"
  private val IksName = "__graft_iks"

  /** Fallback bin width when the stats probe cannot run. */
  val BinWidth = 1800.0

  /** `x <= y` (or strict) in both spellings → (smaller, larger). */
  private def le(e: Expression): Option[(Expression, Expression)] = e match {
    case LessThanOrEqual(x, y) => Some((x, y))
    case LessThan(x, y) => Some((x, y))
    case GreaterThanOrEqual(y, x) => Some((x, y))
    case GreaterThan(y, x) => Some((x, y))
    case _ => None
  }

  /** (loL, hiL, loR, hiR) when the condition holds the two opposite
    * cross-side inequalities `loL ≤ hiR` and `loR ≤ hiL`. */
  private def overlapSandwich(cond: Expression, left: LogicalPlan,
      right: LogicalPlan)
      : Option[(Expression, Expression, Expression, Expression)] = {
    val les = splitConjunctivePredicates(cond).flatMap(le(_))
    def crossing(from: LogicalPlan, to: LogicalPlan) = les.filter {
      case (x, y) =>
        x.references.subsetOf(from.outputSet) && x.references.nonEmpty &&
          y.references.subsetOf(to.outputSet) && y.references.nonEmpty &&
          numeric(x) && numeric(y)
    }
    (for {
      (loL, hiR) <- crossing(left, right).iterator
      (loR, hiL) <- crossing(right, left).iterator
    } yield (loL, hiL, loR, hiR)).nextOption()
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case j @ Blockable(left, right, cond) =>
      overlapSandwich(cond, left, right) match {
        case None => j
        case Some((loL, hiL, loR, hiR)) =>
          val statsL = sideStats(left, loL, hiL)
          val statsR = sideStats(right, loR, hiR)
          val width = math.max(widthOf(statsL.mean, BinWidth),
            widthOf(statsR.mean, BinWidth))
          val needL = unsafePossible(statsL, width)
          val needR = unsafePossible(statsR, width)
          val safeL = safeSpan(loL, hiL, width)
          val safeR = safeSpan(loR, hiR, width)
          val binnedL = if (needL) Filter(safeL, left) else left
          val binnedR = if (needR) Filter(safeR, right) else right
          val (lgen, lk) =
            explodeBuckets(binnedL, loL, hiL, width, IkName, IksName)
          val (rgen, rk) =
            explodeBuckets(binnedR, loR, hiR, width, IkName, IksName)
          val canonical = EqualTo(lk,
            Greatest(Seq(bucketOf(loL, width), bucketOf(loR, width))))
          // Residual pairs partition cleanly: (unsafe L × all R) and
          // (safe L × unsafe R) — together with safe×safe they cover
          // every pair exactly once.
          val unsafeL = if (!needL) Nil else Seq(residual(j, cond,
            left, safeL, right, sideIsLeft = true, IkName))
          val unsafeR = if (!needR) Nil else Seq(residual(j, cond,
            right, safeR, binnedL, sideIsLeft = false, IkName))
          union(assemble(j, lgen, rgen, EqualTo(lk, rk), And(cond, canonical))
            +: (unsafeL ++ unsafeR))
      }
  }
}
