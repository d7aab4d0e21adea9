package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

/** Optimizer rule: plan `JOIN ... ON levenshtein(a, b) <= d` (d ∈
  * {1, 2}) as a SymSpell deletion-neighborhood EQUI-join instead of
  * the quadratic nested loop it otherwise becomes.
  *
  * A join whose only condition is an edit-distance predicate has no
  * equi keys, so Spark's join selection is stuck with
  * BroadcastNestedLoopJoin / CartesianProduct — O(|L|·|R|) comparisons
  * and, at scale, a plan that cannot hash-partition at all. But the
  * blocking identity behind [[graft.operators.DedupOps
  * .delNeighborhood]] generalizes exactly: if lev(a, b) ≤ d then a
  * and b share a key in their delete-≤d neighborhoods D_d(s) = {s
  * minus up to d chars}. (Fix an optimal alignment with ≤ d edits;
  * delete from `a` the chars an edit consumes on its side —
  * deletions and substitutions — and from `b` the chars consumed on
  * its — insertions and substitutions. Each side deletes ≤ d chars
  * and both land on the alignment's common subsequence, a shared
  * key.) So the rule rewrites
  *
  *   Join(L, R, Inner, lev(a,b) <= d [AND rest])
  *
  * into
  *
  *   Project(L.out ++ R.out,
  *     Filter(originalCondition AND lk = array_min(array_intersect(lks, rks)),
  *       Join(explode(delKeys(a, d)) over L, explode(delKeys(b, d)) over R,
  *            Inner, lk = rk)))
  *
  * The original condition re-applies in full (the levenshtein verify
  * prunes key-collision false positives; any extra conjuncts ride
  * along), and the canonical-key filter `lk = min(shared keys)` keeps
  * exactly ONE of the key matches per qualifying row pair — pair
  * multiplicity is preserved without any dedup or row-id bookkeeping,
  * because both key arrays travel with their rows.
  *
  * Null semantics are preserved for free: a null string produces a
  * null key array, Generate drops the row, and the original predicate
  * would have evaluated to UNKNOWN anyway.
  *
  * Scope guards: [[Binning.Blockable]]'s (inner join, deterministic
  * condition, no marker column, no cross-side equi key — the
  * re-blocking trap: predicate pushdown can fold a hand-blocked
  * join's levenshtein verify back into its key-equality condition),
  * threshold 1 or 2 (d ≥ 3 passes through — the neighborhood grows as
  * L^d and entity-resolution practice stops at 2), and plain string
  * sides split cleanly across the join.
  *
  * Cost: the key fan-out is ×(L+1) map-side rows per input at d=1 and
  * ×(1 + L + L(L−1)/2) ≈ L²/2 at d=2 — the keyed-join shape survives
  * unchanged, only the constant grows. Worth it whenever |L|·|R|
  * dwarfs the summed neighborhood sizes plus collisions — everywhere
  * the nested loop is the alternative for name/word-scale strings
  * (tens of chars). For document-scale strings the L² constant is the
  * wrong tool: that is the MinHash/SimHash family's territory
  * (DedupOps). q_fuzzy_pairs (d=1) and q_fuzzy_pairs2 (d=2) run
  * through this rule; FuzzyRuleSpec pins result equality with the
  * un-rewritten plan, an exhaustive small-universe recall proof at
  * both distances, and the NestedLoop-free shape.
  */
object FuzzyJoinBlocking extends Rule[LogicalPlan] {
  import Binning._

  private val LkName = "__graft_lk"
  private val LksName = "__graft_lks"

  /** {s} ∪ deletions of up to `d` chars of s, deduped — the
    * resolved-tree generalization of DedupOps.delNeighborhood (which
    * builds the unresolved Column form and cannot be spliced into an
    * optimizer rewrite). The two-deletion block walks ordered
    * position pairs (i < j), so each of the C(L,2) delete-2 strings
    * is built once; array_distinct collapses collisions (repeated
    * chars), and the If guard keeps length-0/1 strings off the
    * backwards-sequence path. */
  private def delKeys(s: Expression, d: Int): Expression = {
    val tz = Some(SQLConf.get.sessionLocalTimeZone)
    val i = NamedLambdaVariable("i", IntegerType, nullable = false)
    val deleteAt = Concat(Seq(
      Substring(s, Literal(1), Subtract(i, Literal(1))),
      Substring(s, Add(i, Literal(1)), Length(s))))
    val one = ArrayTransform(
      new Sequence(Literal(1), Length(s), None, tz),
      LambdaFunction(deleteAt, Seq(i)))
    val two = if (d < 2) Nil else {
      val i2 = NamedLambdaVariable("i", IntegerType, nullable = false)
      val j2 = NamedLambdaVariable("j", IntegerType, nullable = false)
      val deleteTwo = Concat(Seq(
        Substring(s, Literal(1), Subtract(i2, Literal(1))),
        Substring(s, Add(i2, Literal(1)),
          Subtract(Subtract(j2, i2), Literal(1))),
        Substring(s, Add(j2, Literal(1)), Length(s))))
      val inner = ArrayTransform(
        new Sequence(Add(i2, Literal(1)), Length(s), None, tz),
        LambdaFunction(deleteTwo, Seq(j2)))
      val pairs = ArrayTransform(
        new Sequence(Literal(1), Subtract(Length(s), Literal(1)), None, tz),
        LambdaFunction(inner, Seq(i2)))
      Seq(If(GreaterThanOrEqual(Length(s), Literal(2)),
        Flatten(pairs),
        Literal.create(Seq.empty[String], ArrayType(StringType, false))))
    }
    ArrayDistinct(Concat(Seq(CreateArray(Seq(s)), one) ++ two))
  }

  /** lev(a, b) <= d in its literal spellings, d ∈ {1, 2} → (a, b, d).
    * `= d` also blocks at d (candidates ⊇ the equality set; the
    * re-applied original predicate restores exactness). */
  private def edPredicate(e: Expression)
      : Option[(Expression, Expression, Int)] = e match {
    case LessThanOrEqual(Levenshtein(a, b, None), Literal(t: Int, IntegerType))
        if t == 1 || t == 2 => Some((a, b, t))
    case LessThan(Levenshtein(a, b, None), Literal(t: Int, IntegerType))
        if t == 2 || t == 3 => Some((a, b, t - 1))
    case EqualTo(Levenshtein(a, b, None), Literal(t: Int, IntegerType))
        if t == 1 || t == 2 => Some((a, b, t))
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case j @ Blockable(left, right, cond) =>
      firstConjunct(cond)(edPredicate(_).flatMap { case (x, y, d) =>
        if (x.dataType != StringType || y.dataType != StringType) None
        else oriented(x, y, left, right).map { case (a, b) => (a, b, d) }
      }) match {
        case None => j
        case Some((a, b, d)) =>
          val lks = Alias(delKeys(a, d), LksName)()
          val rks = Alias(delKeys(b, d), LksName)()
          val (lgen, lk) = explodeKey(left, lks, LkName, StringType)
          val (rgen, rk) = explodeKey(right, rks, LkName, StringType)
          assemble(j, lgen, rgen, EqualTo(lk, rk), And(cond,
            EqualTo(lk, ArrayMin(ArrayIntersect(lks.toAttribute, rks.toAttribute)))))
      }
  }
}
