package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

/** Optimizer rule: plan `JOIN ... ON size(array_intersect(a, b)) >= T`
  * as a PREFIX-FILTERED token equi-join (AllPairs / PPJoin family,
  * Bayardo et al. 2007) instead of the quadratic nested loop it
  * otherwise becomes — the third member of the declarative-scale rule
  * family beside [[FuzzyJoinBlocking]] (edit distance) and
  * [[HammingBandJoin]] (Hamming radius).
  *
  * A set-overlap predicate has no equi keys, so Spark's join selection
  * is stuck with BroadcastNestedLoopJoin / CartesianProduct — every
  * executor evaluating every |L|·|R| pair, a shape that cannot
  * hash-partition at all. The prefix-filter theorem fixes that
  * declaratively: order each (deduplicated) token set by ANY global
  * total order and keep its first |s| − T + 1 tokens; if |A∩B| ≥ T,
  * the two prefixes MUST share a token (otherwise ≥ T distinct tokens
  * of each set rank after its whole prefix — impossible). So the rule
  * rewrites
  *
  *   Join(L, R, Inner, size(array_intersect(a, b)) >= T [AND rest])
  *
  * into
  *
  *   Project(L.out ++ R.out,
  *     Filter(verify(__shared),
  *       Project(out :+ __shared,   -- the intersect COUNT in
  *                                  -- size-only mode, the array else
  *         Join(explode(prefix(a)) over L+sorted(a),
  *              explode(prefix(b)) over R+sorted(b),
  *              Inner, ok_l = ok_r
  *                AND ok_l = first_common(pfx_l, pfx_r) AND rest))))
  *
  * The expensive intersect happens EXACTLY ONCE per candidate PAIR,
  * in the `__shared` projection below the verify Filter — and in the
  * common case it is not a set build at all: when every use of the
  * matched intersect (verify + direct parent) sits under `size(...)`,
  * the rewrite enters SIZE-ONLY mode and `__shared` is
  * [[graft.functions.SortedIntersectCount]] — a codegen'd two-pointer
  * merge over the sorted-distinct arrays both sides already compute
  * to slice their prefixes from — instead of `array_intersect`'s
  * per-evaluation hash set (r14; q_jaccard_join measured 42 → 15 s,
  * q_overlap_join 10 → 3 s at sf0.1). The original overlap conjunct
  * re-applies with its intersect subtree swapped for the alias, and
  * the canonical-copy dedup runs INSIDE the join condition on the
  * prefix arrays themselves, as the merge's FIRST match
  * ([[graft.functions.SortedIntersectFirst]] ≡ array_min of the
  * intersect on sorted inputs). That placement is exact for EVERY
  * candidate, not just qualifying ones: a pair's candidate copies
  * are precisely the tokens of pfx(A) ∩ pfx(B) (both sides explode
  * their prefixes onto the join key), so exactly one copy — the one
  * whose token is the prefix-intersect minimum — ever reaches the
  * verify. Pre-r13 the canonical filter read the min of the full
  * shared intersect ABOVE the projection, so every duplicate copy of
  * a near-duplicate pair paid the full intersect before being
  * dropped; on dense corpora (prefix overlap multiplicity ~4-5) that
  * multiplied the dominant verify cost by the multiplicity
  * (q_jaccard_join measured 155 s → 43 s under the move). Cheap
  * residual conjuncts that do not mention the intersect
  * (`doc_a < doc_b` and friends) also sit in the blocked join's own
  * condition, pruning candidates BEFORE the set build is paid. When the join's direct parent is a Project
  * or Aggregate that recomputes the same `array_intersect` (the
  * `n_shared` output column shape), the rule substitutes the alias
  * there too — zero re-evaluations anywhere in the operator.
  *
  * The canonical join conjunct keeps exactly ONE of the
  * up-to-|prefix| matches per candidate pair — multiplicity preserved
  * with no distinct shuffle, the [[FuzzyJoinBlocking]] trick. Rows with fewer
  * than T distinct tokens get an empty prefix and are dropped by
  * Generate (they cannot satisfy the predicate anyway).
  *
  * == The global token order ==
  *
  * ANY total order is CORRECT (the theorem only needs consistency
  * across sides); the order tunes PRUNING. The default is
  * LEXICOGRAPHIC — prefix, intersect and array_min consistent with
  * zero extra machinery. On SKEWED vocabularies the rule upgrades to
  * ASCENDING-DOCUMENT-FREQUENCY order (rare tokens first — the
  * AllPairs paper's own tuning: a prefix that avoids hot tokens
  * shrinks candidate lists by orders of magnitude on Zipfian data),
  * fed by a [[Binning]]-style one-pass token-df probe at rule-fire
  * time: explode+count both sides' distinct tokens, take the
  * [[HotK]] most frequent, and fire only when the top df clears
  * [[SkewGate]]× the hot-set floor AND the floor itself is ≤
  * [[MaxRareDf]] (a rare tail must EXIST, not just a hot head — a
  * dense vocabulary whose rarest token still lands in hundreds of
  * docs gains nothing from rare-first and pays the encoding on every
  * row). A near-uniform or dense vocabulary keeps the zero-overhead
  * lexicographic plan, measured unchanged. The order is REALIZED as an injective
  * encoding: token → zero-padded hot-rank ∥ SEP ∥ token, where every
  * token outside the hot set shares rank 0 (rare-first) and hot
  * tokens rank by ascending df — so the ordinary lexicographic
  * machinery (array_sort, array_min, string-equality join keys) now
  * compares BY the df order, and the canonical conjunct reads
  * array_min of the intersect of the ENCODED prefixes. Probe results are
  * cached per canonicalized (left, la, right, ra); staleness here is
  * PERF-ONLY (unlike Binning's residual decision — any total order
  * stays correct on any data), so no data-version fingerprint is
  * needed. Probe failure, a streaming side, or an over-budget side
  * (sampled first, [[Binning.MaxProbeBytes]]) degrade to
  * lexicographic. OverlapDfOrderSpec pins the planted-Zipfian
  * candidate-count drop, result equality on both paths, and the
  * gate staying off on uniform vocabularies.
  *
  * Scope guards: [[Binning.Blockable]]'s (inner join, deterministic
  * condition, no marker column, no cross-side equi key); both sides
  * `array<string>` with containsNull = false (array_intersect treats
  * null elements as equal, the blocking equi-join would not —
  * split()-produced arrays are null-free, which is the shape this
  * rule targets). The threshold literal matches both INT and BIGINT
  * spellings, with or without the implicit cast analysis wraps
  * around `size(...)` when the literal is long.
  *
  * Cost: fan-out is the prefix length per input row, map-side; the
  * one shuffle is token-keyed and AQE-skew-splittable. Worth it
  * whenever |L|·|R| dwarfs Σ_token df_prefix(token)² — everywhere the
  * nested loop is the alternative. q_overlap_join runs through this
  * rule; OverlapRuleSpec pins result equality with the un-rewritten
  * plan and the NestedLoop-free shape.
  *
  * == The relative-Jaccard face ==
  *
  * The rule also plans `size(array_intersect(a,b)) >= t *
  * size(array_union(a,b))` and the division spelling
  * `size(∩)/size(∪) >= t` (PPJoin proper, Xiao et al. 2008) — the
  * threshold real dedup pipelines actually write — through the same
  * machinery with PER-ROW prefix lengths n − ⌈t·n⌉ + 1, the exact
  * LENGTH filter |distinct(B)| ≥ ⌈t·|distinct(A)|⌉, and PPJoin's
  * POSITIONAL filter (§3.2 of the paper) pruning candidates inside
  * the blocked join; q_jaccard_join runs through it. The positional
  * filter rides the same exploded prefix index, upgraded to
  * PosExplode: the canonical copy's matched token is min(A∩B), so
  * |A∩B| ≤ min(la − pos_a, lb − pos_b), and any qualifying pair needs
  * |A∩B| ≥ α₂(la, lb) = ⌈t·(la+lb)/(1+t)⌉ — the PAIRWISE bound,
  * strictly tighter than the per-side α whenever t < 1 (at t = 0.875
  * and la = lb = 28 it demands the first shared token within the
  * first TWO positions of both sides, where the per-side prefix
  * alone allows four). Candidates whose first shared token sits too
  * deep die on four long compares before the prefix intersect is
  * ever built. α₂ is computed by the predicate's own arithmetic
  * (exact rational for decimal and dyadic-double t — the algebra
  * O·(den+num) ≥ num·(la+lb) is EQUIVALENT to the predicate, no
  * rounding slack lost; per-side Greatest fallback otherwise). The
  * verify itself drops its second set build via the exact identity
  * |A∪B| = |distinct A| + |distinct B| − |A∩B| ([[substUnionSize]]):
  * the distinct counts already ride the join for the length filter,
  * so union-size reads become arithmetic over the shared intersect
  * alias — measured together with the positional filter,
  * q_jaccard_join went 107 s → 42 s at sf0.1. The
  * rounding-soundness contract (α computed by the predicate's own
  * arithmetic — exact integer form for decimal t, the identical
  * correctly-rounded double product for double t, one token of slack
  * for the division spelling's extra rounding) and the ∅-∅ sentinel
  * for the inclusive multiply spelling are documented at the matcher
  * below. One caveat is inherited from Catalyst's own contract: under
  * ANSI mode the unrewritten division spelling would raise
  * DIVIDE_BY_ZERO on an ∅-∅ pair the blocked plan never materializes
  * — the same class of error-visibility change Spark's own predicate
  * pushdown permits.
  *
  * == Why NOT the indexing-prefix (mid-prefix) split ==
  *
  * PPJoin's other published candidate lever — index the SMALLER side
  * of each pair with the shorter 2t/(1+t)-prefix — does not transfer
  * to this symmetric shuffle formulation, so the rule deliberately
  * omits it. In the paper's streaming-index algorithm each pair is
  * generated in ONE direction (the probe scans the index), so
  * shortening the indexed prefix halves the candidate sum
  * Σ df_probe·df_index. Declaratively the equivalent is a UNION of
  * two role-joins keyed by the length relation (la < lb → L short /
  * R standard; la ≥ lb → mirrored), and the sort-merge buckets then
  * emit Σ df_std·df_short TWICE — exactly the single join's Σ df_std²
  * on corpora where prefix token frequencies scale with prefix
  * length. The emission volume, which is what dominates, is
  * unchanged; only the plan triples. The levers that DO transfer —
  * the positional filter (kills copies before the prefix merge) and
  * the size-only merge-walk verify (kills the per-candidate hash
  * set) — are implemented here and measured at 7× combined on the
  * dense-corpus worst case.
  */
object OverlapJoinBlocking extends Rule[LogicalPlan] with PredicateHelper {
  import Binning._

  private val OkName = "__graft_ok"
  private val PosName = "__graft_pos"
  private val SortedName = "__graft_sorted"
  private val SharedName = "__graft_shared"

  /** Hot-set size for the df probe: only the most frequent tokens
    * need individual ranks — the candidate blowup IS the hot tokens;
    * the rare tail can share one rank and still sort first. */
  val SkewGate = 8.0
  val HotK = 1024

  /** Rare-tail existence certificate: the df order fires only when
    * the probed floor df (≥ every tail token's df) is at most this —
    * prefixes can then land on tokens shared by few docs. Counts are
    * post-sampling ([[Binning.MaxProbeBytes]] caps the probe), so
    * the threshold is stable in absolute terms at any corpus size. */
  val MaxRareDf = 32.0

  /** Size gate for the PPJoin+ suffix filter (conf, combined token
    * count): the partition-based Hamming bound only pays when the
    * token sets are LONG — short sets reach the merge walk in fewer
    * compares than the bound costs, and on dense vocabularies the
    * shallow bound cannot prove enough distance to prune. Even a
    * per-row short-circuit gate is not free: the conjunct's
    * per-candidate-copy arithmetic measured q_jaccard_join 14.4 →
    * 16.5 s on the deliberately dense sf0.1 corpus (28-token sets).
    * So the decision is made at PLAN time from a sampled
    * median-distinct-token probe over both sides (the tokenDfOrder
    * discipline): when the probed median combined size is below this
    * gate the conjunct is NOT EMITTED and the plan is byte-identical
    * to the ungated one; above it the filter fires, with a per-row
    * size guard as the exactness belt. Conf: 0 forces the conjunct
    * on every pair (the spec's soundness lever), an oversized value
    * disables it; probe failure or a streaming side omits the
    * conjunct (a pure optimization — omission is always correct). */
  val SuffixMinTokensKey = "spark.graft.overlap_join.suffix_min_tokens"
  val SuffixMinTokensDefault = 64

  private def suffixMinTokens: Int =
    try {
      val v = SQLConf.get.getConfString(SuffixMinTokensKey,
        SuffixMinTokensDefault.toString).toInt
      if (v >= 0) v else SuffixMinTokensDefault
    } catch { case _: Throwable => SuffixMinTokensDefault }

  // Median distinct-token-count probe cache, canonicalized (side,
  // arr) → median. Perf-only staleness (the emitted conjunct is sound
  // on any data), so no data-version fingerprint — the orderCache
  // precedent.
  private val lenCache =
    new java.util.concurrent.ConcurrentHashMap[
      (LogicalPlan, Expression), Option[Double]]()

  /** Sampled plan-time median of `size(array_distinct(arr))` over
    * `side`; None on streaming sides or probe failure. */
  private def medianDistinctTokens(side: LogicalPlan,
      arr: Expression): Option[Double] = {
    if (side.isStreaming) return None
    val key = (side.canonicalized, arr.canonicalized)
    val hit = lenCache.get(key)
    if (hit != null) return hit
    val computed: Option[Double] =
      try {
        val spark = SparkSession.active
        val bytes = side.stats.sizeInBytes
        val probeSide =
          if (bytes <= Binning.MaxProbeBytes) side
          else Sample(0.0,
            (BigDecimal(Binning.MaxProbeBytes) / BigDecimal(bytes)).toDouble,
            withReplacement = false, 42L, side)
        import org.apache.spark.sql.functions.{col => c, lit, percentile_approx}
        val row = Binning.dataFrameOf(spark,
          Project(Seq(Alias(Size(ArrayDistinct(arr)), "__graft_n")()),
            probeSide))
          .agg(percentile_approx(c("__graft_n"), lit(0.5), lit(1000)))
          .head()
        val med =
          if (row.isNullAt(0)) None
          else row.get(0) match {
            case n: java.lang.Number => Some(n.doubleValue())
            case _ => None
          }
        probeLog.info(s"graft overlap set-size probe: median=$med")
        med
      } catch {
        case scala.util.control.NonFatal(e) =>
          probeLog.warn(s"graft overlap set-size probe failed, " +
            s"omitting the suffix filter: $e")
          None
      }
    if (lenCache.size() > 64) lenCache.clear()
    lenCache.put(key, computed)
    computed
  }

  /** Whether to emit the suffix-filter conjunct for this join (see
    * [[SuffixMinTokensKey]]): conf 0 = always, oversized = never,
    * else probe the median combined set size. */
  private def emitSuffixFilter(left: LogicalPlan, la: Expression,
      right: LogicalPlan, ra: Expression): Boolean = {
    val gate = suffixMinTokens
    if (gate == 0) true
    else (medianDistinctTokens(left, la), medianDistinctTokens(right, ra)) match {
      case (Some(ml), Some(mr)) => ml + mr >= gate
      case _ => false
    }
  }
  private val ZeroRank = "000000"
  private val Sep = "\u0001"

  /** token → rank∥SEP∥token under a hot-rank map literal. Injective
    * (fixed-width rank, token appended verbatim), and UTF8String's
    * byte-wise compare makes lexicographic-on-encodings ≡ (rank,
    * token) order — shared by the prefix sort, the join keys, and
    * the canonical array_min. */
  private def encodeExpr(mapLit: Expression, x: Expression): Expression =
    Concat(Seq(
      Coalesce(Seq(GetMapValue(mapLit, x), Literal(ZeroRank))),
      Literal(Sep), x))

  private def encodeArray(mapLit: Expression, arr: Expression): Expression = {
    val lv = NamedLambdaVariable("t", StringType, nullable = false)
    ArrayTransform(arr, LambdaFunction(encodeExpr(mapLit, lv), Seq(lv)))
  }

  // Probe cache — canonicalized (left, la, right, ra) → hot-rank map
  // (None = stay lexicographic). Perf-only staleness, see scaladoc.
  private val orderCache =
    new java.util.concurrent.ConcurrentHashMap[
      (LogicalPlan, Expression, LogicalPlan, Expression),
      Option[Literal]]()

  private val probeLog =
    org.slf4j.LoggerFactory.getLogger("graft.plans.OverlapJoinBlocking")

  /** The token-df probe (see scaladoc): Some(hot-rank map literal)
    * when the vocabulary is skewed enough for the df order to pay,
    * None for lexicographic. Conservative on every failure path. */
  private def tokenDfOrder(left: LogicalPlan, la: Expression,
      right: LogicalPlan, ra: Expression): Option[Literal] = {
    if (left.isStreaming || right.isStreaming) return None
    val key = (left.canonicalized, la.canonicalized,
      right.canonicalized, ra.canonicalized)
    val hit = orderCache.get(key)
    if (hit != null) return hit
    val computed: Option[Literal] =
      try {
        val spark = SparkSession.active
        def toks(side: LogicalPlan, arr: Expression)
            : org.apache.spark.sql.DataFrame = {
          val bytes = side.stats.sizeInBytes
          val probeSide =
            if (bytes <= Binning.MaxProbeBytes) side
            else Sample(0.0,
              (BigDecimal(Binning.MaxProbeBytes) / BigDecimal(bytes)).toDouble,
              withReplacement = false, 42L, side)
          Binning.dataFrameOf(spark,
            Project(Seq(Alias(arr, "__graft_toks")()), probeSide))
            .select(org.apache.spark.sql.functions.explode(
              org.apache.spark.sql.functions.array_distinct(
                org.apache.spark.sql.functions.col("__graft_toks"))).as("tok"))
        }
        import org.apache.spark.sql.functions.{col => c, count, lit}
        val hot = toks(left, la).unionAll(toks(right, ra))
          .groupBy("tok").agg(count(lit(1)).as("df"))
          .orderBy(c("df").desc, c("tok"))
          .limit(HotK + 1)
          .collect().map(r => (r.getString(0), r.getLong(1)))
        if (hot.length < 2) None
        else {
          val top = hot.head._2.toDouble
          // With vocab > HotK this is the (K+1)-th df — an upper
          // bound on every tail df; with vocab <= HotK it is the
          // global minimum. Either way top/floor understates no skew.
          val floor = math.max(hot.last._2.toDouble, 1.0)
          if (top < SkewGate * floor || floor > MaxRareDf) {
            // Two ways the reorder cannot pay: a near-uniform
            // vocabulary (no skew to exploit), or a DENSE one whose
            // "rarest" token still lands in hundreds of docs — the
            // rare-first prefix then concentrates candidates into
            // buckets of size floor-df while the encoding taxes
            // every row (the sf0.1 synthetic corpus: 31 hot tokens,
            // floor 500 → 3× slower df-ordered). AllPairs' win needs
            // a genuinely rare tail; floor bounds every tail df from
            // above (exactly for vocab ≤ HotK, as the (K+1)-th df
            // otherwise), so floor ≤ MaxRareDf is the existence
            // certificate.
            probeLog.info(s"graft overlap df probe: no rare tail " +
              s"(top=$top floor=$floor), keeping lexicographic order")
            None
          } else {
            val ranks = hot.take(HotK)
              .sortBy { case (tok, d) => (d, tok) }.zipWithIndex
              .map { case ((tok, _), i) => tok -> f"${i + 1}%06d" }.toMap
            probeLog.info(s"graft overlap df probe: skewed " +
              s"(top=$top floor=$floor), df-ordering ${ranks.size} " +
              "hot tokens rare-first")
            Some(Literal.create(ranks,
              MapType(StringType, StringType, valueContainsNull = false)))
          }
        }
      } catch {
        case scala.util.control.NonFatal(e) =>
          probeLog.warn(s"graft overlap df probe failed, keeping " +
            s"lexicographic order: $e")
          None
      }
    if (orderCache.size() > 64) orderCache.clear()
    orderCache.put(key, computed)
    computed
  }

  /** `size(array_intersect(..))`, bare or under the LONG cast the
    * analyzer inserts when the threshold literal is BIGINT. */
  private object SizeOfIntersect {
    def unapply(e: Expression): Option[ArrayIntersect] = e match {
      case Size(ai: ArrayIntersect, _) => Some(ai)
      case Cast(Size(ai: ArrayIntersect, _), LongType, _, _) => Some(ai)
      case _ => None
    }
  }

  // ---------------------------------------------------------------------
  // RELATIVE-JACCARD face (PPJoin proper, Xiao et al. 2008): plan
  //   JOIN ... ON size(array_intersect(a,b)) >= t * size(array_union(a,b))
  // (and the division spelling intersect/union >= t) through the same
  // prefix machinery, with PER-ROW prefix lengths and the exact LENGTH
  // filter. The soundness chain, per side A with n = |distinct(A)|:
  // J(A,B) >= t  ⇒  |A∩B| >= t·|A∪B| >= t·n  ⇒  |A∩B| >= ⌈t·n⌉ =: α(n),
  // so the sorted (n − α + 1)-prefix of EACH side must contain a shared
  // token (the asymmetric prefix lemma: min(A∩B) sits within both
  // prefixes — which is also why the canonical array_min dedup carries
  // over unchanged), and |distinct(B)| >= α(|distinct(A)|) is the exact
  // length filter pruning candidates before the set build.
  //
  // α is computed BY THE SAME ARITHMETIC the predicate itself uses, so
  // rounding can never make the prefix too short: a DECIMAL t (the SQL
  // literal spelling) takes the exact integer form ⌈T·n/10^s⌉ =
  // (T·n + 10^s − 1) div 10^s; a DOUBLE t (the DataFrame lit() spelling)
  // takes ceil over the same correctly-rounded double product the
  // predicate compares against — monotone in n, so |A∩B| >= t ⊗ |A∪B|
  // >= t ⊗ n implies the integer |A∩B| clears ceil(t ⊗ n). The DIVISION
  // spelling's extra float rounding gets one token of slack (α − 1).
  // Any qualifying pair shares >= 1 token (t > 0), so α clamps at 1 —
  // EXCEPT the inclusive multiply spelling's ∅-∅ pair (0 >= t·0 holds):
  // those rows block on a sentinel prefix token and the canonical
  // filter coalesces the empty shared-intersect min onto the sentinel.
  // t outside (0, 1] (or a decimal too wide for exact arithmetic)
  // passes through unrewritten.
  // ---------------------------------------------------------------------

  private val Sentinel = "\u0000"

  /** How the matched conjunct constrains a pair: a fixed absolute
    * overlap, or a relative Jaccard threshold (exact decimal or
    * double), with `slack` 1 for the division spelling and `strict`
    * marking `>`. */
  private sealed trait Req
  private case class AbsOverlap(t: Int) extends Req
  private case class RelJaccard(t: Either[(Long, Long), Double],
      slack: Int, strict: Boolean) extends Req {
    /** `0 >= t·0` holds only for the inclusive multiply spelling —
      * the one case where the ∅-∅ pair qualifies. */
    def inclusiveEmptyPair: Boolean = !strict && slack == 0
  }

  private def stripNumCast(e: Expression): Expression = e match {
    case c: Cast => stripNumCast(c.child)
    case co: CheckOverflow => stripNumCast(co.child)
    case _ => e
  }

  private object SizeIntersectAnyCast {
    def unapply(e: Expression): Option[ArrayIntersect] =
      stripNumCast(e) match {
        case Size(ai: ArrayIntersect, _) => Some(ai)
        case _ => None
      }
  }

  private object SizeUnionAnyCast {
    def unapply(e: Expression): Option[ArrayUnion] = stripNumCast(e) match {
      case Size(au: ArrayUnion, _) => Some(au)
      case _ => None
    }
  }

  private object FracLit {
    def unapply(e: Expression): Option[Literal] = stripNumCast(e) match {
      case l: Literal if l.value != null
          && (l.dataType == DoubleType || l.dataType == FloatType
            || l.dataType.isInstanceOf[DecimalType]) => Some(l)
      case _ => None
    }
  }

  private object TTimesUnion {
    def unapply(e: Expression): Option[(Literal, ArrayUnion)] =
      stripNumCast(e) match {
        case Multiply(FracLit(t), SizeUnionAnyCast(au), _) => Some((t, au))
        case Multiply(SizeUnionAnyCast(au), FracLit(t), _) => Some((t, au))
        case _ => None
      }
  }

  private object IntersectOverUnion {
    def unapply(e: Expression): Option[(ArrayIntersect, ArrayUnion)] =
      stripNumCast(e) match {
        case Divide(SizeIntersectAnyCast(ai), SizeUnionAnyCast(au), _) =>
          Some((ai, au))
        case _ => None
      }
  }

  /** t ∈ (0, 1] as exact-decimal Left((unscaled, 10^scale)) or double
    * Right(t); None rejects the rewrite (range or precision). */
  private def fracInfo(l: Literal): Option[Either[(Long, Long), Double]] =
    l.dataType match {
      case _: DecimalType =>
        val bd = l.value.asInstanceOf[org.apache.spark.sql.types.Decimal]
          .toJavaBigDecimal
        if (bd.scale < 0 || bd.scale > 9) None
        else {
          val pow = math.pow(10, bd.scale).toLong
          try {
            val uns = bd.unscaledValue.longValueExact()
            if (uns <= 0 || uns > pow) None else Some(scala.util.Left((uns, pow)))
          } catch { case _: ArithmeticException => None }
        }
      case DoubleType =>
        val t = l.value.asInstanceOf[Double]
        if (t > 0 && t <= 1) Some(scala.util.Right(t)) else None
      case FloatType =>
        val t = l.value.asInstanceOf[Float].toDouble
        if (t > 0 && t <= 1) Some(scala.util.Right(t)) else None
      case _ => None
    }

  /** The Jaccard conjunct in its literal spellings; returns
    * (intersect, union, t-literal, slack, strict). */
  private def jaccardPredicate(e: Expression)
      : Option[(ArrayIntersect, ArrayUnion, Literal, Int, Boolean)] =
    e match {
      case GreaterThanOrEqual(SizeIntersectAnyCast(ai), TTimesUnion(t, au)) =>
        Some((ai, au, t, 0, false))
      case GreaterThan(SizeIntersectAnyCast(ai), TTimesUnion(t, au)) =>
        Some((ai, au, t, 0, true))
      case LessThanOrEqual(TTimesUnion(t, au), SizeIntersectAnyCast(ai)) =>
        Some((ai, au, t, 0, false))
      case LessThan(TTimesUnion(t, au), SizeIntersectAnyCast(ai)) =>
        Some((ai, au, t, 0, true))
      case GreaterThanOrEqual(IntersectOverUnion(ai, au), FracLit(t)) =>
        Some((ai, au, t, 1, false))
      case GreaterThan(IntersectOverUnion(ai, au), FracLit(t)) =>
        Some((ai, au, t, 1, true))
      case LessThanOrEqual(FracLit(t), IntersectOverUnion(ai, au)) =>
        Some((ai, au, t, 1, false))
      case LessThan(FracLit(t), IntersectOverUnion(ai, au)) =>
        Some((ai, au, t, 1, true))
      case _ => None
    }

  /** α(n) = the minimum overlap any qualifying pair must share with a
    * side of n distinct tokens (LONG; see the soundness chain above). */
  private def alphaExpr(rj: RelJaccard, n: Expression): Expression = {
    val raw: Expression = rj.t match {
      case scala.util.Left((uns, pow)) =>
        IntegralDivide(
          Add(Multiply(Cast(n, LongType), Literal(uns)), Literal(pow - 1L)),
          Literal(pow))
      case scala.util.Right(td) =>
        Ceil(Multiply(Literal(td), Cast(n, DoubleType)))
    }
    Greatest(Seq(Subtract(raw, Literal(rj.slack.toLong)), Literal(1L)))
  }

  /** t as an exact rational (num, den) when the predicate's OWN
    * arithmetic is exact rational arithmetic: decimal literals always
    * (Spark evaluates the multiply spelling in exact decimal), and
    * DOUBLE literals when t is dyadic with ≤ 9 fractional decimal
    * digits — `new BigDecimal(double)` expands the exact binary value,
    * so a short scale certifies t = uns/pow EXACTLY, and every product
    * t·n the predicate computes (n < 2³¹, uns < 2³⁰) stays under 2⁵³,
    * i.e. correctly-rounded double arithmetic IS exact rational
    * arithmetic (0.875 = 7/8, the threshold real pipelines write).
    * Non-dyadic doubles (0.8, 0.9, …) expand to scale ~50+ and return
    * None — callers fall back to per-side bounds that stay sound
    * under rounding. */
  private def exactFrac(rj: RelJaccard): Option[(Long, Long)] = rj.t match {
    case scala.util.Left((uns, pow)) => Some((uns, pow))
    case scala.util.Right(td) =>
      val bd = new java.math.BigDecimal(td)
      if (bd.scale < 0 || bd.scale > 9) None
      else try {
        val pow = math.pow(10, bd.scale.toDouble).toLong
        val uns = bd.unscaledValue.longValueExact()
        if (uns <= 0 || uns > pow) None else Some((uns, pow))
      } catch { case _: ArithmeticException => None }
  }

  /** α₂(la, lb): the minimum overlap ANY qualifying pair with these
    * two distinct-token counts must share — the PAIRWISE requirement
    * the positional filter prunes against. From |A∩B| ≥ t·|A∪B| and
    * |A∪B| = la + lb − |A∩B|: O·(pow + uns) ≥ uns·(la + lb), i.e.
    * α₂ = ⌈uns·(la+lb)/(pow+uns)⌉ in the exact rational form — the
    * algebra is EQUIVALENT to the predicate itself (no inequality
    * weakening), so no rounding slack is lost, and α₂ is STRICTLY
    * tighter than the per-side max(α(la), α(lb)) whenever t < 1
    * (2t/(1+t) > t). When t has no exact rational form (non-dyadic
    * double) fall back to Greatest of the per-side α's — sound under
    * correctly-rounded monotone multiply because |A∪B| ≥ max(la, lb).
    * Division-spelling slack and the ≥ 1 clamp mirror [[alphaExpr]]. */
  private def pairAlphaExpr(rj: RelJaccard, ll: Expression,
      rl: Expression): Expression = {
    val sum = Add(Cast(ll, LongType), Cast(rl, LongType))
    exactFrac(rj) match {
      case Some((num, den)) =>
        val raw = IntegralDivide(
          Add(Multiply(sum, Literal(num)), Literal(den + num - 1L)),
          Literal(den + num))
        Greatest(Seq(Subtract(raw, Literal(rj.slack.toLong)), Literal(1L)))
      case None =>
        Greatest(Seq(alphaExpr(rj, ll), alphaExpr(rj, rl)))
    }
  }

  /** An INT-range integral literal, either type. */
  private object IntLit {
    def unapply(e: Expression): Option[Int] = e match {
      case Literal(t: Int, IntegerType) => Some(t)
      case Literal(t: Long, LongType)
          if t >= Int.MinValue && t <= Int.MaxValue => Some(t.toInt)
      case _ => None
    }
  }

  /** overlap ≥ T in its literal spellings; returns (intersect, T ≥ 1). */
  private def overlapPredicate(e: Expression)
      : Option[(ArrayIntersect, Int)] = e match {
    case GreaterThanOrEqual(SizeOfIntersect(ai), IntLit(t)) if t >= 1 =>
      Some((ai, t))
    case GreaterThan(SizeOfIntersect(ai), IntLit(t)) if t >= 0 =>
      Some((ai, t + 1))
    case LessThanOrEqual(IntLit(t), SizeOfIntersect(ai)) if t >= 1 =>
      Some((ai, t))
    case LessThan(IntLit(t), SizeOfIntersect(ai)) if t >= 0 =>
      Some((ai, t + 1))
    case _ => None
  }

  /** The per-row prefix: first n − α + 1 tokens of the sorted distinct
    * set, where α is the requirement's minimum overlap (fixed T for
    * the absolute face — slice length clamps to 0 below T distinct
    * tokens; per-row α(n) for the Jaccard face) — sorted by the df
    * ENCODING when `ord` carries a hot-rank map, plain lexicographic
    * otherwise. The inclusive-Jaccard ∅ row gets the sentinel prefix
    * so ∅-∅ pairs (which qualify: 0 ≥ t·0) still block. */
  /** The sorted-distinct (and, under a df order, encoded) token
    * array — computed ONCE per row and carried through the join: the
    * prefix slices from it, and the size-only verify merge-walks it
    * ([[graft.functions.SortedIntersectCount]]). */
  private def sortedExpr(s: Expression, ord: Option[Literal]): Expression = {
    val base = ArrayDistinct(s)
    val keyed = ord.fold(base: Expression)(m => encodeArray(m, base))
    SortArray(keyed, Literal(true))
  }

  private def prefixFromSorted(sorted: Expression, req: Req): Expression =
    req match {
      case AbsOverlap(t) =>
        Slice(sorted, Literal(1),
          Greatest(Seq(Subtract(Size(sorted), Literal(t - 1)), Literal(0))))
      case rj: RelJaccard =>
        val len = Greatest(Seq(
          Cast(Subtract(Add(Cast(Size(sorted), LongType), Literal(1L)),
            alphaExpr(rj, Size(sorted))), IntegerType),
          Literal(0)))
        val sliced = Slice(sorted, Literal(1), len)
        if (rj.inclusiveEmptyPair)
          If(EqualTo(Size(sorted), Literal(0)),
            CreateArray(Seq(Literal(Sentinel))), sliced)
        else sliced
    }

  /** Explode the prefix over `child`. The prefix array itself STAYS
    * in the Generate output: canonical-copy dedup runs INSIDE the
    * join condition as `ok = first_common(pfx_l, pfx_r)` (the
    * sorted-merge twin of array_min of the intersect) — a candidate
    * pair's copies are exactly the tokens its prefixes share, so
    * exactly one copy survives, on the (1−t)-fraction-sized prefix
    * arrays, BEFORE the full per-candidate verify is ever paid
    * (pre-r13 the canonical filter read the min of the full shared
    * intersect, so every duplicate copy paid the whole verify; on
    * near-duplicate-dense corpora that multiplied the dominant cost
    * by the average prefix-overlap multiplicity). The sorted-distinct
    * array rides along for the size-only verify; the extra shuffle
    * payload per row is the prefix ((1−t)·n tokens) plus that sorted
    * copy. */
  private def explodePrefix(child: LogicalPlan, s: Expression, req: Req,
      ord: Option[Literal]): (LogicalPlan, Attribute, Attribute, Attribute,
      Option[Attribute], Option[Attribute]) = {
    val sorted = Alias(sortedExpr(s, ord), SortedName)()
    val proj1 = withColumn(child, sorted)
    val pfx = Alias(prefixFromSorted(sorted.toAttribute, req), "__graft_pfx")()
    req match {
      case _: RelJaccard =>
        // The Jaccard face explodes POSITIONALLY: the copy's position
        // within the prefix (= within the whole sorted distinct array,
        // a prefix being an initial segment) feeds the positional
        // filter in the join condition.
        val len = Alias(Size(sorted.toAttribute), "__graft_len")()
        val pos = AttributeReference(PosName, IntegerType, nullable = false)()
        val (gen, ok) = explodeKey(proj1, pfx, OkName, StringType,
          carry = Seq(len), pos = Some(pos))
        (gen, ok, pfx.toAttribute, sorted.toAttribute,
          Some(len.toAttribute), Some(pos))
      case _ =>
        val (gen, ok) = explodeKey(proj1, pfx, OkName, StringType)
        (gen, ok, pfx.toAttribute, sorted.toAttribute, None, None)
    }
  }

  private def nullFreeStringArray(e: Expression): Boolean = e.dataType match {
    case ArrayType(StringType, false) => true
    case _ => false
  }

  private def subst(e: Expression, ai: ArrayIntersect,
      shared: Attribute): Expression = e.transform {
    case x: ArrayIntersect if x.semanticEquals(ai) => shared
  }

  /** size(ai) under any numeric-cast wrapper → the carried count. */
  private def substIntersectSize(e: Expression, ai: ArrayIntersect,
      nShared: Attribute): Expression = e.transform {
    case Size(x: ArrayIntersect, _) if x.semanticEquals(ai) => nShared
  }

  private def unionOfSamePair(au: ArrayUnion, ai: ArrayIntersect): Boolean =
    (au.left.semanticEquals(ai.left) && au.right.semanticEquals(ai.right)) ||
      (au.left.semanticEquals(ai.right) && au.right.semanticEquals(ai.left))

  /** Union-size arithmetic: |A∪B| = |distinct(A)| + |distinct(B)| −
    * |A∩B| exactly (array_union and array_intersect both dedup), and
    * the Jaccard face already carries both distinct counts through
    * the join — so every `size(array_union(a, b))` over the matched
    * pair becomes two column reads and a subtract instead of an O(n)
    * hash-set build PER CANDIDATE. `sharedSize` is the |A∩B| column
    * read (the merge-walk count in size-only mode, size(shared
    * array) otherwise). */
  private def substUnionSize(e: Expression, ai: ArrayIntersect,
      ll: Attribute, rl: Attribute, sharedSize: => Expression): Expression =
    e.transform {
      case Size(au: ArrayUnion, _) if unionOfSamePair(au, ai) =>
        Subtract(Add(ll, rl), sharedSize)
    }

  /** Rewrite `j` if it is in scope; returns the verify Filter (its
    * output = L.out ++ ok ++ R.out ++ ok ++ __shared — callers strip
    * or substitute) and the parent-level substitution function
    * (matched intersect → the shared alias; on the Jaccard face also
    * matched union-size → length arithmetic). `parentExprs` are the
    * direct parent's expressions (empty for a bare join): when every
    * use of the matched intersect there AND in the verify sits under
    * `size(...)`, the rewrite enters SIZE-ONLY mode — the intersect
    * array never materializes; a [[SortedIntersectCount]] merge walk
    * over the carried sorted arrays replaces the per-candidate
    * hash-set build (the dominant cost of the whole blocked join on
    * near-duplicate-dense corpora: q_jaccard_join measured 42 s →
    * 23 s at sf0.1 under this mode). */
  private def tryRewrite(j: Join, parentExprs: Seq[Expression])
      : Option[(LogicalPlan, Expression => Expression)] = j match {
    case Blockable(left, right, cond) =>
      val conjuncts = splitConjunctivePredicates(cond)
      def sided(ai: ArrayIntersect): Option[(Expression, Expression)] =
        if (!nullFreeStringArray(ai.left) || !nullFreeStringArray(ai.right))
          None
        else oriented(ai.left, ai.right, left, right)
      val hit: Option[(ArrayIntersect, Expression, Expression, Req)] =
        firstConjunct(cond) { p =>
          val abs = overlapPredicate(p).flatMap { case (ai, t) =>
            sided(ai).map { case (la, ra) => (ai, la, ra, AbsOverlap(t): Req) }
          }
          abs.orElse(jaccardPredicate(p).flatMap {
            // The union must range over the SAME pair of arrays.
            case (ai, au, tLit, slack, strict) if unionOfSamePair(au, ai) =>
              for {
                t <- fracInfo(tLit)
                (la, ra) <- sided(ai)
              } yield (ai, la, ra, RelJaccard(t, slack, strict): Req)
            case _ => None
          })
        }
      hit.map { case (ai, la, ra, req) =>
        val ord = tokenDfOrder(left, la, right, ra)
        val (lgen, lk, lPfx, lSorted, lLen, lPos) =
          explodePrefix(left, la, req, ord)
        val (rgen, rk, rPfx, rSorted, rLen, rPos) =
          explodePrefix(right, ra, req, ord)
        // Conjuncts never touching the matched intersect prune inside
        // the join, BEFORE the per-candidate set build is paid; the
        // rest re-applies above, reading the shared alias.
        val (needShared, rest) = conjuncts.partition(_.exists {
          case x: ArrayIntersect => x.semanticEquals(ai)
          case _ => false
        })
        // The Jaccard face adds the exact length filter to the blocked
        // join: |distinct(B)| >= α(|distinct(A)|) and symmetric — with
        // the ∅-∅ escape for the inclusive spelling. `suffixConds`
        // comes back separately: it is ANDed in AFTER the canonical
        // conjunct (its soundness argument needs the canonical copy).
        val (lenConds, suffixConds): (Seq[Expression], Seq[Expression]) =
          (req, lLen, rLen) match {
          case (rj: RelJaccard, Some(ll), Some(rl)) =>
            val basic = And(
              GreaterThanOrEqual(Cast(ll, LongType), alphaExpr(rj, rl)),
              GreaterThanOrEqual(Cast(rl, LongType), alphaExpr(rj, ll)))
            // PPJoin POSITIONAL filter (Xiao et al. 2008 §3.2): at the
            // canonical copy the matched token is min(A∩B) under the
            // global order, so the ENTIRE intersection sits at
            // positions ≥ pos in BOTH sorted distinct arrays:
            // |A∩B| ≤ min(la − pos_a, lb − pos_b). Any qualifying pair
            // must reach α₂(la, lb), so candidates whose first shared
            // token sits too deep die on four long compares — BEFORE
            // the prefix intersect, and a fortiori before the full
            // set build. Sound per copy: a qualifying pair's canonical
            // copy always passes (its token IS min(A∩B)); every other
            // copy is discarded by the canonical conjunct anyway.
            // (The absolute face gains nothing from this filter: its
            // fixed-T prefix slice already pins la − pos_a ≥ T on each
            // side, and min of two values ≥ T is ≥ T — so it keeps the
            // plain Explode with no position column.)
            val positional = (lPos, rPos) match {
              case (Some(lp), Some(rp)) =>
                Seq(GreaterThanOrEqual(
                  Least(Seq(
                    Subtract(Cast(ll, LongType), Cast(lp, LongType)),
                    Subtract(Cast(rl, LongType), Cast(rp, LongType)))),
                  pairAlphaExpr(rj, ll, rl)))
              case _ => Seq.empty
            }
            // PPJoin+ SUFFIX filter (Xiao et al. 2008 §3.3): for any
            // pair that can still qualify, the canonical copy's token
            // is min(A∩B) (the prefix lemma — see the kernel scaladoc),
            // so the whole remaining intersection lives in the two
            // SUFFIXES beyond the matched positions:
            //   |A∩B| = 1 + (|as| + |bs| − H(as, bs)) / 2.
            // A cheap recursive-partition LOWER bound on H therefore
            // upper-bounds |A∩B|; candidates whose bound cannot reach
            // α₂ die on a handful of binary searches BEFORE the
            // O(la+lb) merge-walk verify. Keep iff
            //   H_lb ≤ |as| + |bs| − 2·(α₂ − 1).
            // Evaluated AFTER the canonical conjunct (condition order
            // = evaluation order), so it runs once per candidate PAIR
            // — and a non-canonical copy it would mis-bound is dropped
            // by the canonical filter before this conjunct is reached.
            //
            // SIZE-GATED AT PLAN TIME: the conjunct exists only when
            // [[emitSuffixFilter]] says the corpus' median combined
            // set size clears [[SuffixMinTokensKey]] — on SHORT token
            // sets the merge walk it guards is already a few dozen
            // byte compares, while the partition bound needs near-full
            // resolution to prove anything on a dense vocabulary
            // (q_jaccard_join's dense sf0.1 corpus measured 14.4 →
            // 16.5 s carrying even a per-row-gated version of this
            // conjunct — see BENCH.md). The per-row guard below is the
            // exactness belt for size-skewed rows; degenerate windows
            // (incl. the inclusive-multiply ∅-∅ sentinel pair, whose
            // windows are negative) fall through it to the verify.
            val suffix = (lPos, rPos) match {
              case (Some(lp), Some(rp))
                  if emitSuffixFilter(left, la, right, ra) =>
                val las = Subtract(
                  Subtract(Cast(ll, LongType), Cast(lp, LongType)),
                  Literal(1L))
                val rbs = Subtract(
                  Subtract(Cast(rl, LongType), Cast(rp, LongType)),
                  Literal(1L))
                val hlb = Cast(graft.functions.SortedSuffixHammingLB(
                  lSorted, rSorted,
                  Add(lp, Literal(1)), Add(rp, Literal(1))), LongType)
                val test = LessThanOrEqual(hlb,
                  Subtract(Add(las, rbs),
                    Multiply(Literal(2L),
                      Subtract(pairAlphaExpr(rj, ll, rl), Literal(1L)))))
                val gate = LessThan(Add(las, rbs),
                  Literal(suffixMinTokens.toLong))
                Seq(Or(gate, test))
              case _ => Seq.empty
            }
            val all = (basic +: positional).reduce(And)
            (Seq(if (rj.inclusiveEmptyPair)
              Or(all, And(EqualTo(ll, Literal(0)), EqualTo(rl, Literal(0))))
            else all), suffix)
          case _ => (Seq.empty, Seq.empty)
        }
        // Canonical-copy dedup INSIDE the join: a pair's candidate
        // copies are exactly the tokens its prefixes share (both
        // sides explode their prefixes onto the join key), so keeping
        // ok = array_min(pfx_l ∩ pfx_r) keeps exactly ONE copy of
        // EVERY candidate — decided on the (1−t)-fraction prefix
        // arrays, before the full shared-intersect verify is paid
        // even once for a duplicate copy. Prefixes are already
        // df-encoded when `ord` is set, so the min runs in the same
        // order they were built in; the inclusive-Jaccard ∅–∅ pair
        // joins on sentinel prefixes whose intersect min IS the
        // sentinel, so no coalesce is needed any more.
        // Canonical-copy dedup by merge walk: the prefixes are sorted
        // slices of the sorted-distinct arrays, so the FIRST common
        // element of the merge IS the minimum of the intersect — no
        // per-copy hash set, no array allocation.
        val canonical = EqualTo(lk,
          graft.functions.SortedIntersectFirst(lPfx, rPfx))
        // Conjunct order = evaluation order inside the join: cheap
        // residuals and the length + positional filters run BEFORE
        // the canonical prefix merge; the suffix filter runs AFTER it
        // (once per pair, and its bound is only meaningful at the
        // canonical copy) but still before the full-array merge walk
        // in the verify above.
        val blockedCond =
          ((EqualTo(lk, rk) +: (rest ++ lenConds) :+ canonical)
            ++ suffixConds).reduce(And)
        def bareUse(e: Expression): Boolean = {
          val stripped = e.transform {
            case Size(x: ArrayIntersect, _) if x.semanticEquals(ai) =>
              Literal(0)
          }
          stripped.exists {
            case x: ArrayIntersect => x.semanticEquals(ai)
            case _ => false
          }
        }
        val sizeOnly = !(needShared ++ parentExprs).exists(bareUse)
        val (sharedAlias, substFn): (Alias, Expression => Expression) =
          if (sizeOnly) {
            // SIZE-ONLY mode (see the method scaladoc): carry the
            // merge-walk count, never build the intersect array.
            val nShared = Alias(graft.functions.SortedIntersectCount(
              lSorted, rSorted), SharedName)()
            val fn: Expression => Expression = (req, lLen, rLen) match {
              case (_: RelJaccard, Some(ll), Some(rl)) => e =>
                substUnionSize(
                  substIntersectSize(e, ai, nShared.toAttribute),
                  ai, ll, rl, nShared.toAttribute)
              case _ => e => substIntersectSize(e, ai, nShared.toAttribute)
            }
            (nShared, fn)
          } else {
            val shared = Alias(ai, SharedName)()
            val fn: Expression => Expression = (req, lLen, rLen) match {
              case (_: RelJaccard, Some(ll), Some(rl)) => e =>
                substUnionSize(subst(e, ai, shared.toAttribute),
                  ai, ll, rl, Size(shared.toAttribute))
              case _ => e => subst(e, ai, shared.toAttribute)
            }
            (shared, fn)
          }
        val verify = needShared.map(substFn).reduce(And)
        // Project each exploded side down to the columns anything
        // above still reads (r16, guide §2.3 — project before the
        // exchange): the rewrite orphans the RAW token arrays (the
        // verify runs on the sorted-distinct copies), yet they rode
        // every exploded prefix copy through the join — including
        // the broadcast build side. Keep = join condition + verify +
        // the shared-count kernel + whatever the (substituted)
        // parent expressions still reference; a bare join's consumer
        // sees j.output, so everything stays. Session-level
        // ColumnPruning cannot do this (it runs before this batch,
        // and re-running it after was the r15 planning catastrophe —
        // see GraftSession).
        val keep = AttributeSet(Seq(blockedCond, verify,
          sharedAlias.child) ++ parentExprs.map(substFn)) ++
          (if (parentExprs.isEmpty) j.outputSet else AttributeSet.empty)
        def pruned(side: LogicalPlan): LogicalPlan =
          if (side.output.forall(keep.contains)) side
          else Project(side.output.filter(keep.contains), side)
        val blocked = Join(pruned(lgen), pruned(rgen), Inner,
          Some(blockedCond), JoinHint.NONE)
        val proj = Project(blocked.output :+ sharedAlias, blocked)
        (Filter(verify, proj), substFn)
      }
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    // A Project/Aggregate sitting directly on the join gets its own
    // copies of the intersect (the `n_shared` output shape) pointed at
    // the shared alias — the whole operator then builds the set once.
    case p @ Project(projList, j: Join) =>
      tryRewrite(j, projList) match {
        case None => p
        case Some((filtered, substFn)) =>
          Project(projList.map(e =>
            substFn(e).asInstanceOf[NamedExpression]), filtered)
      }
    case a: Aggregate if a.child.isInstanceOf[Join] =>
      tryRewrite(a.child.asInstanceOf[Join],
        a.groupingExpressions ++ a.aggregateExpressions) match {
        case None => a
        case Some((filtered, substFn)) =>
          a.copy(
            groupingExpressions = a.groupingExpressions.map(substFn),
            aggregateExpressions = a.aggregateExpressions.map(e =>
              substFn(e).asInstanceOf[NamedExpression]),
            child = filtered)
      }
    case j: Join =>
      // Bare join: consumers above see only j.output (the raw
      // arrays), never the internal columns — size-only is safe.
      tryRewrite(j, Nil) match {
        case None => j
        case Some((filtered, _)) => Project(j.output, filtered)
      }
  }
}
