package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

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
  * w = ceil(64/(r+1)); band structs join on (index, value) equality in
  * one key. The original condition re-applies in full (the popcount
  * verify prunes band-collision false positives; extra conjuncts ride
  * along), and the canonical-band filter keeps exactly ONE of the
  * possibly-many band matches per qualifying pair — firstMatchingBand
  * recomputes band equality from both signatures, so multiplicity is
  * preserved with no dedup or row-id bookkeeping.
  *
  * Scope guards: inner joins only; radius 1..7 (r+1 uniform ceil-width
  * bands must start below bit 64 — at r=8 the ninth band's shift hits
  * 64, which Java shifts treat mod 64); LongType signatures that split
  * cleanly across the join; joins that already have a cross-side equi
  * key are left alone (blocking would square an already-blocked
  * fan-out); and the rule never re-fires on its own output (the
  * `__graft_hband` marker), since it runs inside the fixpoint where
  * pushdown can fold the verify back into the join condition.
  *
  * Cost: ×(r+1) map-side rows per input vs an |L|·|R| nested loop —
  * the same trade [[FuzzyJoinBlocking]] makes for edit distance.
  * q_hamming_join runs through this rule; HammingRuleSpec pins result
  * equality with the un-rewritten plan and the NestedLoop-free shape.
  */
object HammingBandJoin extends Rule[LogicalPlan] with PredicateHelper {

  private val BandName = "__graft_hband"
  private val BandsName = "__graft_hbands"
  private val MaxRadius = 7

  /** (band width, band mask) for radius r: r+1 uniform ceil-width
    * bands cover bits 0..63; reads past bit 63 mask to zero on both
    * sides, so band equality is still a pure function of the sigs. */
  private def geometry(r: Int): (Int, Long) = {
    val w = (64 + r) / (r + 1)
    (w, (1L << w) - 1)
  }

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

  private def bandOf(sig: Expression, shift: Expression, mask: Long): Expression =
    BitwiseAnd(ShiftRightUnsigned(sig, shift), Literal(mask))

  private def explodeBands(child: LogicalPlan, sig: Expression, r: Int)
      : (LogicalPlan, Attribute) = {
    val (w, mask) = geometry(r)
    val structs = (0 to r).map { i =>
      CreateNamedStruct(Seq(Literal("i"), Literal(i),
        Literal("v"), bandOf(sig, Literal(i * w), mask)))
    }
    val ks = Alias(CreateArray(structs), BandsName)()
    val proj = Project(child.output :+ ks, child)
    val band = AttributeReference(BandName,
      StructType(Seq(StructField("i", IntegerType, nullable = false),
        StructField("v", LongType, nullable = true))),
      nullable = true)()
    val gen = Generate(Explode(ks.toAttribute), unrequiredChildIndex = Nil,
      outer = false, qualifier = None, generatorOutput = Seq(band),
      child = proj)
    (gen, band)
  }

  /** The smallest band index on which a and b agree — recomputed from
    * both signatures, so filtering the exploded join on it keeps
    * exactly one copy of each qualifying pair. */
  private def firstMatchingBand(a: Expression, b: Expression, r: Int)
      : Expression = {
    val (w, mask) = geometry(r)
    val i = NamedLambdaVariable("i", IntegerType, nullable = false)
    val eq = EqualTo(bandOf(a, Multiply(i, Literal(w)), mask),
      bandOf(b, Multiply(i, Literal(w)), mask))
    ArrayMin(ArrayFilter(
      new Sequence(Literal(0), Literal(r), None,
        Some(SQLConf.get.sessionLocalTimeZone)),
      LambdaFunction(eq, Seq(i))))
  }

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

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case j @ Join(left, right, Inner, Some(cond), _)
        if !left.output.exists(_.name == BandName)
          && !right.output.exists(_.name == BandName)
          && !hasEquiKey(cond, left, right) =>
      val hit: Option[(Expression, Expression, Int)] =
        splitConjunctivePredicates(cond).iterator.flatMap { p =>
          hammingPredicate(p).flatMap { case (x, y, r) =>
            if (x.dataType != LongType || y.dataType != LongType) None
            else if (x.references.subsetOf(left.outputSet)
                && y.references.subsetOf(right.outputSet)) Some((x, y, r))
            else if (y.references.subsetOf(left.outputSet)
                && x.references.subsetOf(right.outputSet)) Some((y, x, r))
            else None
          }
        }.take(1).toList.headOption
      hit match {
        case None => j
        case Some((a, b, r)) =>
          val (lgen, lband) = explodeBands(left, a, r)
          val (rgen, rband) = explodeBands(right, b, r)
          val blocked = Join(lgen, rgen, Inner, Some(EqualTo(lband, rband)),
            JoinHint.NONE)
          val canonical = EqualTo(
            GetStructField(lband, 0, Some("i")), firstMatchingBand(a, b, r))
          Project(j.output, Filter(And(cond, canonical), blocked))
      }
  }
}
