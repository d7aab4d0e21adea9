package graft.plans

import graft.functions.{CosineSim, HyperSig, HyperplaneSignature}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

/** Optimizer rule: plan `JOIN ... ON cosine_sim(a, b) >= t` (the
  * embedding near-duplicate predicate) as a HYPERPLANE-SIGNATURE
  * banded equi-join instead of the quadratic nested loop it otherwise
  * becomes — the one lossy member of the declarative-scale rule
  * family ([[FuzzyJoinBlocking]] edit distance, [[HammingBandJoin]]
  * Hamming radius, [[OverlapJoinBlocking]] absolute/relative set
  * overlap, [[RangeBinJoin]]/[[IntervalOverlapJoin]] range/interval
  * theta).
  *
  * A cosine-threshold condition has no equi keys, so join selection
  * falls to BroadcastNestedLoopJoin — |L|·|R| 64-float dot products
  * that cannot hash-partition. The rewrite is the [[HammingBandJoin]]
  * treatment carried into embedding space, the same blocking the
  * imperative q_embed_dup operator applies by hand: quantize each
  * vector to the engine's random-hyperplane signature
  * ([[HyperplaneSignature]], one codegen'd pass over the 64 floats),
  * split the signature into disjoint bands ([[Binning.Bands]]),
  * equi-join on (band index, band value), re-apply the ORIGINAL
  * condition as the exact verify, and keep exactly one copy per pair
  * with the first-matching-band canonical filter (recomputed from
  * both signature columns — multiplicity preserved with no distinct
  * shuffle):
  *
  *   Project(L.out ++ R.out,
  *     Filter(originalCondition AND lband.i = firstMatchingBand(sa, sb),
  *       Join(explode(bands(sa)) over L+sa, explode(bands(sb)) over R+sb,
  *            Inner, lband = rband [AND rest])))
  *
  * Cheap residual conjuncts (`vec_a < vec_b` and friends) ride inside
  * the blocked join's condition, pruning before the verify.
  *
  * == Geometry: stats-derived ==
  *
  * The (planes, bands) pair trades the certified recall radius
  * (bands − 1 signature bits, see below) against band selectivity
  * (2^bandBits values per band). The rule sizes it from the plan's
  * own statistics at rule-fire time:
  *
  *  - small corpora (estimated rows ≤ [[ProbeRowThreshold]]) keep the
  *    16-plane / 4-band demo geometry — a generous 3-of-16-bit radius
  *    where 16-value bands still prune (2^4 ≥ the row count's scale);
  *  - past the threshold the probe picks 64 planes / 4 bands of 16
  *    bits — the PUBLISHED web-dedup operating point (Manku, Jain &
  *    Das Sarma, WWW 2007: 64-bit simhash fingerprints, Hamming
  *    radius 3, probed via 4 blocks of 16 bits): 2^16-value bands
  *    keep candidate volume ∝ collisions at corpus scale, and the
  *    certified radius narrows to the 3-of-64-bit near-duplicate
  *    regime that paper operates in.
  *
  * The row estimate is `stats.rowCount` when the plan carries one,
  * else `sizeInBytes` over the output schema's default row width —
  * both plan-time, no job. Probe failure keeps the demo geometry
  * (correctness is unaffected either way: the verify is exact, the
  * geometry only moves the radius/selectivity point). CosineRuleSpec
  * pins the chosen geometry at both scales via the plan's hypersig
  * plane count.
  *
  * == The recall contract (what "exact" means here) ==
  *
  * Unlike the five exact siblings, LSH banding is candidate-COMPLETE
  * only relative to the quantized signatures: the pigeonhole argument
  * guarantees every pair whose signatures differ in at most
  * bands − 1 bits shares an identical band — for THAT radius the
  * rewrite is exact, and the verify keeps precision exact
  * always (no false pairs, ever). A t-qualifying pair whose
  * signatures disagree in ≥ bands of the planes is outside the
  * blocking radius and is missed — the standard LSH near-duplicate
  * contract (the one every embedding-dedup pipeline that bands
  * signatures ships, and exactly the discipline q_dedup_simhash
  * documents for text): at angle θ a plane flips with probability
  * θ/π, so the contract degrades gracefully as t leaves the
  * near-duplicate regime. Hence the scope guard t ∈ (0, 1]: at t ≤ 0
  * the predicate admits near-orthogonal pairs whose signatures
  * disagree on ~half the planes — banding would be silently lossy
  * with no compensating regime, so the join passes through
  * unrewritten.
  *
  * BECAUSE the rewrite is lossy outside the radius, its scope is the
  * engine's fused `cosine_sim` ONLY — an engine-specific function
  * whose banded-join planning contract is documented here and on the
  * function family. A spelled-out ANSI dot/norm composition
  * (aggregate/zip_with/sqrt — a predicate a plain-SQL user writes
  * expecting exact semantics) always keeps the nested loop. Every
  * fire logs a planner WARNING naming the geometry and the radius, so
  * a user who did not expect the LSH contract finds the kill-switch
  * ([[EnabledKey]]) from the log rather than from missing rows.
  * CosineRuleSpec pins equality with the un-rewritten plan on a
  * planted perturbation corpus (signature distance verified ≤ the
  * radius), the NestedLoop-free shape, the passthrough guards
  * (including the spelled form), and the kill-switch.
  *
  * [[HyperplaneSignature]] fails loudly (a descriptive
  * IllegalArgumentException) on embeddings that are not 64-dim — the
  * engine's embedding layout contract — rather than degrading to a
  * silent wrong answer.
  *
  * Cost: ×bands map-side rows per input and one band-keyed shuffle
  * vs an |L|·|R| nested loop.
  */
object CosineBandJoin extends Rule[LogicalPlan] with PredicateHelper {
  import Binning._

  private val BandName = "__graft_cband"
  private val BandsName = "__graft_cbands"
  private val SigName = "__graft_csig"

  val NumPlanes = 16
  val NumBands = 4

  /** Session kill-switch: set to "false" to always keep the nested
    * loop's unconditional semantics. */
  val EnabledKey = "spark.graft.cosine_band_join.enabled"

  /** Estimated-row switch point for the stats-derived geometry: past
    * ~16M estimated rows the 4-bit demo bands stop pruning (2^4 ≪ n)
    * and the probe moves to the Manku et al. 2007 64-bit / radius-3
    * operating point. Row estimates from sizeInBytes over default
    * column widths overshoot for array payloads, so the threshold
    * sits well above every certified small-corpus workload. */
  val ProbeRowThreshold: BigInt = BigInt(1) << 24

  /** Plan-time row estimate: rowCount when the plan carries one, else
    * sizeInBytes over the schema's default row width. No job. */
  private def estRows(p: LogicalPlan): Option[BigInt] =
    try {
      val st = p.stats
      st.rowCount.orElse {
        val rowBytes =
          math.max(1, p.output.map(_.dataType.defaultSize).sum + 8)
        Some(st.sizeInBytes / rowBytes)
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Signature planes for this join: 64 past [[ProbeRowThreshold]]
    * estimated rows on either side, else [[NumPlanes]]. */
  private def planes(left: LogicalPlan, right: LogicalPlan): Int =
    (estRows(left).toSeq ++ estRows(right).toSeq).reduceOption(_ max _) match {
      case Some(r) if r > ProbeRowThreshold =>
        logInfo(s"graft cosine band probe: est rows $r > " +
          s"$ProbeRowThreshold, using the 64-plane / 4-band web-scale " +
          "geometry (Manku et al. 2007)")
        HyperSig.MaxPlanes
      case _ => NumPlanes
    }

  private def enabled: Boolean =
    try SQLConf.get.getConfString(EnabledKey, "true").toBoolean
    catch { case _: Throwable => true }

  /** t ∈ (0, 1] as a fractional literal (double, float or decimal —
    * the SQL spelling `0.9` parses as decimal and reaches the join
    * under a double cast when folding has not collapsed it yet). */
  private object ThresholdLit {
    def unapply(e: Expression): Option[Double] = e match {
      case Cast(inner, DoubleType, _, _) => unapply(inner)
      case Literal(v: Double, DoubleType) => Some(v)
      case Literal(v: Float, FloatType) => Some(v.toDouble)
      case l @ Literal(v, _: DecimalType) if v != null =>
        Some(l.value.asInstanceOf[org.apache.spark.sql.types.Decimal].toDouble)
      case _ => None
    }
  }

  /** Whether `p` holds a cosine — such conjuncts wait for the verify
    * above the canonical-band dedup. */
  private def touchesCosine(p: Expression): Boolean =
    p.exists(_.isInstanceOf[CosineSim])

  /** cosine_sim(a, b) >= t with t ∈ (0, 1] → (a, b). */
  private def cosineTrigger(e: Expression): Option[(Expression, Expression)] =
    e match {
      case GreaterThanOrEqual(c: CosineSim, ThresholdLit(t)) if t > 0 && t <= 1 =>
        Some((c.left, c.right))
      case GreaterThan(c: CosineSim, ThresholdLit(t)) if t > 0 && t <= 1 =>
        Some((c.left, c.right))
      case LessThanOrEqual(ThresholdLit(t), c: CosineSim) if t > 0 && t <= 1 =>
        Some((c.left, c.right))
      case LessThan(ThresholdLit(t), c: CosineSim) if t > 0 && t <= 1 =>
        Some((c.left, c.right))
      case _ => None
    }

  /** Project the signature once per row, then explode its bands. */
  private def explodeBands(bands: Bands, planes: Int, child: LogicalPlan,
      vec: Expression): (LogicalPlan, Attribute, Attribute) = {
    val sig = Alias(HyperplaneSignature(vec, planes), SigName)()
    val (gen, band) = bands.explode(withColumn(child, sig), sig.toAttribute,
      BandName, BandsName)
    (gen, band, sig.toAttribute)
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!enabled) plan
    else plan.transformUp {
      case j @ Blockable(left, right, cond) =>
        firstConjunct(cond)(cosineTrigger(_).flatMap { case (x, y) =>
          oriented(x, y, left, right)
        }) match {
          case None => j
          case Some((a, b)) =>
            val p = planes(left, right)
            val bands = Bands.over(p, NumBands)
            // The rewrite is lossy outside the banding radius — say
            // so where the user will look when rows seem to be
            // missing, and name the way out.
            logWarning("graft: planning cosine>=t join as an LSH " +
              s"banded join (planes=$p, bands=${bands.count}): " +
              s"candidate-complete for signature distance < ${bands.count}" +
              " bits; qualifying pairs outside that radius are not " +
              s"returned. Set $EnabledKey=false for the exact nested " +
              "loop.")
            val (lgen, lband, lsig) = explodeBands(bands, p, left, a)
            val (rgen, rband, rsig) = explodeBands(bands, p, right, b)
            // Conjuncts not touching a cosine prune inside the blocked
            // join, before the verify pays the dot product; cosine
            // conjuncts wait above the canonical-band dedup so each
            // pair pays them ONCE, not per band copy.
            val (needCos, rest) =
              splitConjunctivePredicates(cond).partition(touchesCosine)
            assemble(j, lgen, rgen, (EqualTo(lband, rband) +: rest).reduce(And),
              (needCos :+ bands.canonical(lband, lsig, rsig)).reduce(And))
        }
    }
}
