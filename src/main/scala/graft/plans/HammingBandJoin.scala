package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{IntegerType, LongType}

/** Optimizer rule: plan `JOIN ... ON bit_count(a # b) <= r` (a Hamming
  * radius join over 64-bit signatures) as a PIGEONHOLE BANDED equi-join
  * instead of the quadratic nested loop it otherwise becomes.
  *
  * A join whose only condition is a Hamming predicate has no equi
  * keys, so join selection falls to BroadcastNestedLoopJoin /
  * CartesianProduct — O(|L|·|R|) popcounts that cannot hash-partition.
  * But the SimHash/phash blocking identity the dedup operators apply
  * BY HAND (q_dedup_simhash, q_phash_dup) is exact and general: split
  * the 64 bits into r+1 disjoint bands — at most r bits differ, so at
  * least one band is EQUAL. The rule rewrites
  *
  *   Join(L, R, Inner, bit_count(xor(a, b)) <= r [AND rest])
  *
  * into
  *
  *   Project(L.out ++ R.out,
  *     Filter(originalCondition AND lband.i = firstMatchingBand(a, b),
  *       Join(explode(bands(a)) over L, explode(bands(b)) over R,
  *            Inner, lband = rband)))
  *
  * where bands(s) = [(i, (s >>> i·w) & mask) for i in 0..r] with
  * w = ceil(64/(r+1)) ([[Binning.Bands]]); band structs join on
  * (index, value) equality in one key. The original condition re-applies in full (the popcount
  * verify prunes band-collision false positives; extra conjuncts ride
  * along), and the canonical-band filter keeps exactly ONE of the
  * possibly-many band matches per qualifying pair — firstMatchingBand
  * recomputes band equality from both signatures, so multiplicity is
  * preserved with no dedup or row-id bookkeeping.
  *
  * Scope guards: [[Binning.Blockable]]'s (inner join, deterministic
  * condition, no marker column, no cross-side equi key); radius 1..7
  * (r+1 uniform ceil-width bands must start below bit 64 — at r=8 the
  * ninth band's shift hits 64, which Java shifts treat mod 64); and
  * LongType signatures that split cleanly across the join.
  *
  * Cost: ×(r+1) map-side rows per input vs an |L|·|R| nested loop —
  * the same trade [[FuzzyJoinBlocking]] makes for edit distance.
  * q_hamming_join runs through this rule; HammingRuleSpec pins result
  * equality with the un-rewritten plan and the NestedLoop-free shape.
  */
object HammingBandJoin extends Rule[LogicalPlan] {
  import Binning._

  private val BandName = "__graft_hband"
  private val BandsName = "__graft_hbands"
  private val MaxRadius = 7

  /** bit_count(a ^ b) <= r in its literal spellings, radius capped. */
  private def hammingPredicate(e: Expression)
      : Option[(Expression, Expression, Int)] = e match {
    case LessThanOrEqual(BitwiseCount(BitwiseXor(a, b)),
        Literal(r: Int, IntegerType)) if r >= 1 && r <= MaxRadius =>
      Some((a, b, r))
    case LessThan(BitwiseCount(BitwiseXor(a, b)),
        Literal(rp: Int, IntegerType)) if rp >= 2 && rp <= MaxRadius + 1 =>
      Some((a, b, rp - 1))
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case j @ Blockable(left, right, cond) =>
      firstConjunct(cond)(hammingPredicate(_).flatMap { case (x, y, r) =>
        if (x.dataType != LongType || y.dataType != LongType) None
        else oriented(x, y, left, right).map { case (a, b) => (a, b, r) }
      }) match {
        case None => j
        case Some((a, b, r)) =>
          val bands = Bands.over(64, r + 1)
          val (lgen, lband) = bands.explode(left, a, BandName, BandsName)
          val (rgen, rband) = bands.explode(right, b, BandName, BandsName)
          assemble(j, lgen, rgen, EqualTo(lband, rband),
            And(cond, bands.canonical(lband, a, b)))
      }
  }
}
