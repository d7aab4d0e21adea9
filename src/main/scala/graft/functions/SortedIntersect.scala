package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, QuaternaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}

/** Internal verify kernels for [[graft.plans.OverlapJoinBlocking]]'s
  * size-only mode: set-intersection COUNT and FIRST element over two
  * arrays that the rule has already SORTED ascending and DEDUPLICATED
  * (the same `sort_array(array_distinct(s))` it slices prefixes
  * from). A two-pointer merge walk replaces `array_intersect`'s
  * per-evaluation hash-set build — no allocation, byte-order
  * compares only — which matters because the walk runs once per
  * CANDIDATE pair, the hot loop of the whole blocked join (measured
  * 42 s → see BENCH.md on q_jaccard_join's dense corpus).
  *
  * CONTRACT (callers are the optimizer rule, never user code): both
  * children are sorted-ascending, element-distinct, null-free
  * `array<string>`. On that contract,
  * `SortedIntersectCount(a, b) ≡ size(array_intersect(a, b))` and
  * `SortedIntersectFirst(a, b) ≡ array_min(array_intersect(a, b))`
  * (first common element of sorted inputs IS the minimum; null when
  * the intersection is empty). SortedIntersectSpec pins both
  * equivalences property-style, and the rule's own brute-equality
  * specs cover the planted end-to-end paths. UTF8String.compareTo is
  * the same binary ordering sort_array uses for strings, so the walk
  * and the slice agree on one total order.
  */
abstract class SortedIntersectBase extends BinaryExpression {
  private def ok(dt: DataType): Boolean = dt match {
    case ArrayType(StringType, _) => true
    case _ => false
  }
  override def checkInputDataTypes(): TypeCheckResult =
    if (ok(left.dataType) && ok(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<string>, array<string>), got " +
        s"(${left.dataType}, ${right.dataType})")
  override def nullable: Boolean = true
}

case class SortedIntersectCount(left: Expression, right: Expression)
    extends SortedIntersectBase {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "sorted_intersect_count"

  override def nullSafeEval(a: Any, b: Any): Any =
    SortedIntersect.count(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.SortedIntersect.count($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersectCount =
    copy(left = newLeft, right = newRight)
}

case class SortedIntersectFirst(left: Expression, right: Expression)
    extends SortedIntersectBase {
  override def dataType: DataType = StringType
  override def prettyName: String = "sorted_intersect_first"

  override def nullSafeEval(a: Any, b: Any): Any =
    SortedIntersect.first(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  // Boxed temp via ctx.freshName (the CosSim/CentAssign discipline:
  // names derived from ev.value fail Janino in the unsafe-projection
  // path, silently dropping to interpreted mode).
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val r = ctx.freshName("sif")
      s"""
         |org.apache.spark.unsafe.types.UTF8String $r =
         |  graft.functions.SortedIntersect.first($a, $b);
         |if ($r == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $r;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersectFirst =
    copy(left = newLeft, right = newRight)
}

/** PPJoin+'s SUFFIX filter (Xiao et al. 2008 §3.3) as a verify-side
  * kernel for [[graft.plans.OverlapJoinBlocking]]'s Jaccard face: a
  * LOWER bound on the Hamming (symmetric-difference) distance between
  * the two SUFFIX sets `a[fromA..)` and `b[fromB..)` — the tokens
  * after each side's canonical-copy position — by recursive
  * partitioning. Pick the midpoint token of one suffix, binary-search
  * it in the other: because both arrays are sorted-distinct under ONE
  * total order, elements below the pivot can only match below and
  * above only above, so |Δ(a,b)| = |Δ(a<,b<)| + |Δ(a>,b>)| +
  * (pivot unmatched ? 1 : 0) and each part is bounded below by its
  * size imbalance ||x|−|y||. Recursion depth [[SortedIntersect.SuffixMaxDepth]]
  * (= 2, the paper's own tuning) keeps the cost at a handful of
  * binary searches — strictly cheaper than the O(|a|+|b|) merge walk
  * it guards.
  *
  * The caller's prune is sound because at the canonical copy the
  * matched token IS min(A∩B) for every pair that can qualify (the
  * prefix lemma), so the WHOLE intersection beyond that token lives
  * in the two suffixes: |A∩B| = 1 + (|as|+|bs| − H(as,bs))/2, and a
  * lower bound on H gives an upper bound on |A∩B|. Same children
  * contract as the siblings (sorted ascending, distinct, null-free),
  * plus two int offsets produced by the rule itself (never user
  * code). SortedIntersectSpec pins the lower-bound property against
  * the exact symmetric difference on a random corpus, through both
  * eval paths; CodegenOnlySpec gates the codegen.
  */
case class SortedSuffixHammingLB(first: Expression, second: Expression,
    third: Expression, fourth: Expression) extends QuaternaryExpression {

  private def arr(dt: DataType): Boolean = dt match {
    case ArrayType(StringType, _) => true
    case _ => false
  }
  override def checkInputDataTypes(): TypeCheckResult =
    if (arr(first.dataType) && arr(second.dataType)
        && third.dataType == IntegerType && fourth.dataType == IntegerType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<string>, array<string>, int, int), " +
        s"got (${first.dataType}, ${second.dataType}, ${third.dataType}, " +
        s"${fourth.dataType})")

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true
  override def prettyName: String = "sorted_suffix_hamming_lb"

  override def nullSafeEval(a: Any, b: Any, fa: Any, fb: Any): Any =
    SortedIntersect.suffixHammingLB(a.asInstanceOf[ArrayData],
      b.asInstanceOf[ArrayData], fa.asInstanceOf[Int], fb.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, fa, fb) =>
      s"graft.functions.SortedIntersect.suffixHammingLB($a, $b, $fa, $fb)")

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression,
      newFourth: Expression): SortedSuffixHammingLB =
    copy(first = newFirst, second = newSecond, third = newThird,
      fourth = newFourth)
}

object SortedIntersect {

  /** Suffix-filter recursion depth — 2 per Xiao et al.'s own tuning:
    * deeper probes cost more binary searches than they prune on
    * realistic token-set sizes. */
  val SuffixMaxDepth = 2

  /** Lower bound on |Δ(a[fromA..), b[fromB..))|; see
    * [[SortedSuffixHammingLB]]. Offsets past the end give an empty
    * window (the rule's ∅–∅ sentinel rows never reach this — their
    * length-filter escape short-circuits first). */
  def suffixHammingLB(a: ArrayData, b: ArrayData, fromA: Int, fromB: Int): Int =
    lbRec(a, math.max(0, fromA), a.numElements(),
      b, math.max(0, fromB), b.numElements(), 1)

  /** Windows are [al, ar) over a and [bl, br) over b. */
  private def lbRec(a: ArrayData, al: Int, ar: Int,
      b: ArrayData, bl: Int, br: Int, depth: Int): Int = {
    val na = math.max(0, ar - al)
    val nb = math.max(0, br - bl)
    if (na == 0 || nb == 0 || depth > SuffixMaxDepth)
      return math.abs(na - nb)
    // Pivot = midpoint of b's window, binary-searched in a's window.
    val mid = bl + nb / 2
    val w = b.getUTF8String(mid)
    var lo = al
    var hi = ar
    while (lo < hi) {
      val m = (lo + hi) >>> 1
      if (a.getUTF8String(m).compareTo(w) < 0) lo = m + 1 else hi = m
    }
    val found = lo < ar && a.getUTF8String(lo).compareTo(w) == 0
    val center = if (found) 0 else 1
    center +
      lbRec(a, al, lo, b, bl, mid, depth + 1) +
      lbRec(a, if (found) lo + 1 else lo, ar, b, mid + 1, br, depth + 1)
  }

  /** |a ∩ b| by two-pointer merge; see the contract above. */
  def count(a: ArrayData, b: ArrayData): Int = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var c = 0
    while (i < na && j < nb) {
      val cmp = a.getUTF8String(i).compareTo(b.getUTF8String(j))
      if (cmp == 0) { c += 1; i += 1; j += 1 }
      else if (cmp < 0) i += 1
      else j += 1
    }
    c
  }

  /** min(a ∩ b) (the first merge match), or null when disjoint. */
  def first(a: ArrayData, b: ArrayData)
      : org.apache.spark.unsafe.types.UTF8String = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    while (i < na && j < nb) {
      val x = a.getUTF8String(i)
      val cmp = x.compareTo(b.getUTF8String(j))
      if (cmp == 0) return x
      else if (cmp < 0) i += 1
      else j += 1
    }
    null
  }
}
