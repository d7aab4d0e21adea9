package graft.plans

import graft.functions.{CosineSim, HyperplaneSignature}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

/** Optimizer rule: plan `JOIN ... ON cosine_sim(a, b) >= t` (the
  * embedding near-duplicate predicate) as a HYPERPLANE-SIGNATURE
  * banded equi-join instead of the quadratic nested loop it otherwise
  * becomes — the seventh member of the declarative-scale rule family
  * ([[FuzzyJoinBlocking]] edit distance, [[HammingBandJoin]] Hamming
  * radius, [[OverlapJoinBlocking]] absolute/relative set overlap,
  * [[RangeBinJoin]]/[[IntervalOverlapJoin]] range/interval theta).
  *
  * A cosine-threshold condition has no equi keys, so join selection
  * falls to BroadcastNestedLoopJoin — |L|·|R| 64-float dot products
  * that cannot hash-partition. The rewrite is the [[HammingBandJoin]]
  * treatment carried into embedding space, the same blocking the
  * imperative q_embed_dup operator applies by hand: quantize each
  * vector to the engine's random-hyperplane signature
  * ([[HyperplaneSignature]], one codegen'd pass over the 64 floats),
  * split the signature into disjoint bands,
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
  * == Geometry: conf-pinned, else stats-derived ==
  *
  * The (planes, bands) pair trades the certified recall radius
  * (bands − 1 signature bits, see below) against band selectivity
  * (2^bandBits values per band). Explicit session confs [[PlanesKey]]
  * / [[BandsKey]] always win (up to
  * [[graft.functions.HyperSig.MaxPlanes]] = 64 planes in the Long
  * signature; a full-signature single band gets the mask special-case
  * rather than a wrapped shift). With NEITHER conf set the rule sizes
  * the geometry from the plan's own statistics at rule-fire time —
  * the [[Binning]] precedent [[RangeBinJoin]]/[[IntervalOverlapJoin]]
  * already use, making the "plane count sizes to the corpus" claim
  * self-executing instead of a manual knob:
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
  * Unlike the six exact siblings, LSH banding is candidate-COMPLETE
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
  * BECAUSE the rewrite is lossy outside the radius, its default scope
  * is the engine's fused `cosine_sim` ONLY — an engine-specific
  * function whose banded-join planning contract is documented here
  * and on the function family. The spelled-out ANSI dot/norm
  * composition (aggregate/zip_with/sqrt — a predicate a plain-SQL
  * user writes expecting exact semantics) is matched only under the
  * opt-in conf [[SpelledKey]]; without it those joins keep the nested
  * loop's unconditional semantics. Every fire logs a planner WARNING
  * naming the geometry and the radius, so a user who did not expect
  * the LSH contract finds the kill-switch ([[EnabledKey]]) from the
  * log rather than from missing rows. CosineRuleSpec pins equality
  * with the un-rewritten plan on a planted perturbation corpus
  * (signature distance verified ≤ the radius), the NestedLoop-free
  * shape, the passthrough guards (including the spelled form without
  * its opt-in), and the kill-switch.
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

  private val BandName = "__graft_cband"
  private val BandsName = "__graft_cbands"
  private val SigName = "__graft_csig"

  val NumPlanes = 16
  val NumBands = 4

  /** Session kill-switch: set to "false" to always keep the nested
    * loop's unconditional semantics. */
  val EnabledKey = "spark.graft.cosine_band_join.enabled"

  /** Opt-in (default FALSE) for rewriting the spelled-out ANSI
    * dot/norm cosine composition. The fused `cosine_sim` rewrites by
    * default because the LSH contract is part of that function's
    * documented planning; a plain-SQL dot/norm predicate carries no
    * such opt-in, so the rule leaves it exact unless the session
    * explicitly accepts the banded contract for it. */
  val SpelledKey = "spark.graft.cosine_band_join.spelled"

  /** Geometry confs — explicit overrides for the stats-derived
    * choice (see the scaladoc). Invalid or out-of-range values fall
    * back to the 16/4 demo defaults. */
  val PlanesKey = "spark.graft.cosine_band_join.planes"
  val BandsKey = "spark.graft.cosine_band_join.bands"

  /** Estimated-row switch point for the stats-derived geometry: past
    * ~16M estimated rows the 4-bit demo bands stop pruning (2^4 ≪ n)
    * and the probe moves to the Manku et al. 2007 64-bit / radius-3
    * operating point. Row estimates from sizeInBytes over default
    * column widths overshoot for array payloads, so the threshold
    * sits well above every certified small-corpus workload. */
  val ProbeRowThreshold: BigInt = BigInt(1) << 24

  private final case class Geometry(planes: Int, bands: Int) {
    val bandBits: Int = (planes + bands - 1) / bands
    // A full-Long band (planes = 64, bands = 1) needs the special
    // case: (1L << 64) wraps to 1, which would zero every band value
    // and silently degenerate the banded join into a cross product.
    val mask: Long = if (bandBits >= 64) -1L else (1L << bandBits) - 1
  }

  /** Mask arithmetic exposed for the spec (the 64-bit wrap pin). */
  private[graft] def maskFor(planes: Int, bands: Int): Long =
    Geometry(planes, bands).mask

  private def confSetInt(key: String): Option[Int] =
    try {
      val raw = SQLConf.get.getConfString(key, "")
      if (raw.isEmpty) None else Some(raw.toInt)
    } catch { case _: Throwable => Some(Int.MinValue) /* set but invalid */ }

  private def validated(g: Geometry): Geometry =
    // Scope: planes fit a Long signature, at least one band, and the
    // last band's shift stays below 64 (Java shifts are mod-64) — a
    // band window past the plane count reads guaranteed-zero bits,
    // which is complete (always-equal band) but must not WRAP.
    if (g.planes >= 1 && g.planes <= graft.functions.HyperSig.MaxPlanes
        && g.bands >= 1 && g.bands <= g.planes
        && (g.bands - 1) * g.bandBits <= 63) g
    else Geometry(NumPlanes, NumBands)

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

  private def geometry(left: LogicalPlan, right: LogicalPlan): Geometry = {
    val pOpt = confSetInt(PlanesKey)
    val bOpt = confSetInt(BandsKey)
    if (pOpt.isDefined || bOpt.isDefined)
      validated(Geometry(pOpt.getOrElse(NumPlanes), bOpt.getOrElse(NumBands)))
    else {
      val n = (estRows(left).toSeq ++ estRows(right).toSeq)
        .reduceOption(_ max _)
      n match {
        case Some(r) if r > ProbeRowThreshold =>
          logInfo(s"graft cosine band probe: est rows $r > " +
            s"$ProbeRowThreshold, using the 64-plane / 4-band web-scale " +
            "geometry (Manku et al. 2007)")
          Geometry(graft.functions.HyperSig.MaxPlanes, NumBands)
        case _ => Geometry(NumPlanes, NumBands)
      }
    }
  }

  private def enabled: Boolean =
    try SQLConf.get.getConfString(EnabledKey, "true").toBoolean
    catch { case _: Throwable => true }

  private def spelledEnabled: Boolean =
    try SQLConf.get.getConfString(SpelledKey, "false").toBoolean
    catch { case _: Throwable => false }

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

  // ---- the spelled-out dot/norm form ------------------------------
  // Users without the engine's cosine_sim write the composed HOF
  // cosine:   aggregate(zip_with(a, b, (x,y) -> x*y), 0d, +)
  //         / (sqrt(aggregate(transform(a, x -> x*x), 0d, +)) *
  //            sqrt(aggregate(transform(b, x -> x*x), 0d, +)))
  // (with or without per-element double casts). The matchers below
  // recognize exactly that shape — the verify always re-applies the
  // ORIGINAL predicate, so the match only needs to extract (a, b)
  // for blocking, never to re-derive the arithmetic. Matched as a
  // REWRITE TRIGGER only under [[SpelledKey]] (see the scaladoc).

  private def sameVar(e: Expression, v: NamedExpression): Boolean =
    (stripDoubleCast(e), v) match {
      case (x: NamedLambdaVariable, y: NamedLambdaVariable) =>
        x.exprId == y.exprId
      case _ => false
    }

  private def stripDoubleCast(e: Expression): Expression = e match {
    case Cast(c, DoubleType, _, _) => stripDoubleCast(c)
    case _ => e
  }

  /** merge = (acc, x) -> acc + x over its own two lambda vars. */
  private def isPlainSum(merge: Expression, finish: Expression): Boolean =
    (merge, finish) match {
      case (LambdaFunction(Add(l, r, _), Seq(acc, x), _),
          LambdaFunction(fb, Seq(facc), _)) =>
        ((sameVar(l, acc) && sameVar(r, x)) ||
          (sameVar(l, x) && sameVar(r, acc))) && sameVar(fb, facc)
      case _ => false
    }

  private object DotFold {
    def unapply(e: Expression): Option[(Expression, Expression)] = e match {
      case ArrayAggregate(
          ZipWith(a, b, LambdaFunction(Multiply(x, y, _), Seq(xv, yv), _)),
          Literal(0.0, DoubleType), merge, finish)
          if isPlainSum(merge, finish)
            && ((sameVar(x, xv) && sameVar(y, yv))
              || (sameVar(x, yv) && sameVar(y, xv))) =>
        Some((a, b))
      case _ => None
    }
  }

  private object NormOf {
    def unapply(e: Expression): Option[Expression] = e match {
      case Sqrt(ArrayAggregate(
          ArrayTransform(a, LambdaFunction(Multiply(x, y, _), Seq(v), _)),
          Literal(0.0, DoubleType), merge, finish))
          if isPlainSum(merge, finish) && sameVar(x, v) && sameVar(y, v) =>
        Some(a)
      case _ => None
    }
  }

  /** dot(a,b) / (norm(a) * norm(b)) — norms over the same pair,
    * either order. */
  private object SpelledCosine {
    def unapply(e: Expression): Option[(Expression, Expression)] = e match {
      case Divide(DotFold(a, b), Multiply(NormOf(x), NormOf(y), _), _)
          if (x.semanticEquals(a) && y.semanticEquals(b)) ||
            (x.semanticEquals(b) && y.semanticEquals(a)) =>
        Some((a, b))
      case _ => None
    }
  }

  /** Either cosine spelling — used for PLACEMENT (which conjuncts
    * must wait for the verify above the canonical-band dedup), never
    * as a rewrite trigger (the trigger is gated per spelling in
    * [[cosineTrigger]]). */
  private def touchesCosine(p: Expression): Boolean = p.exists {
    case _: CosineSim => true
    case SpelledCosine(_, _) => true
    case _ => false
  }

  /** cosine >= t with t ∈ (0, 1] as a REWRITE TRIGGER: the fused
    * cosine_sim always; the spelled dot/norm form only when
    * `spelledOk` (the [[SpelledKey]] opt-in). */
  private def cosineTrigger(e: Expression, spelledOk: Boolean)
      : Option[(Expression, Expression)] = {
    def ofExpr(x: Expression): Option[(Expression, Expression)] = x match {
      case c: CosineSim => Some((c.left, c.right))
      case SpelledCosine(a, b) if spelledOk => Some((a, b))
      case _ => None
    }
    e match {
      case GreaterThanOrEqual(x, ThresholdLit(t)) if t > 0 && t <= 1 =>
        ofExpr(x)
      case GreaterThan(x, ThresholdLit(t)) if t > 0 && t <= 1 => ofExpr(x)
      case LessThanOrEqual(ThresholdLit(t), x) if t > 0 && t <= 1 =>
        ofExpr(x)
      case LessThan(ThresholdLit(t), x) if t > 0 && t <= 1 => ofExpr(x)
      case _ => None
    }
  }

  private def bandOf(g: Geometry, sig: Expression,
      shift: Expression): Expression =
    BitwiseAnd(ShiftRightUnsigned(sig, shift), Literal(g.mask))

  /** Project the signature once per row, then explode its bands. */
  private def explodeBands(g: Geometry, child: LogicalPlan, vec: Expression)
      : (LogicalPlan, Attribute, Attribute) = {
    val sig = Alias(HyperplaneSignature(vec, g.planes), SigName)()
    val structs = (0 until g.bands).map { i =>
      CreateNamedStruct(Seq(Literal("i"), Literal(i),
        Literal("v"), bandOf(g, sig.toAttribute, Literal(i * g.bandBits))))
    }
    val proj1 = Project(child.output :+ sig, child)
    val ks = Alias(CreateArray(structs), BandsName)()
    val proj2 = Project(proj1.output :+ ks, proj1)
    val band = AttributeReference(BandName,
      StructType(Seq(StructField("i", IntegerType, nullable = false),
        StructField("v", LongType, nullable = true))),
      nullable = true)()
    val gen = Generate(Explode(ks.toAttribute), unrequiredChildIndex = Nil,
      outer = false, qualifier = None, generatorOutput = Seq(band),
      child = proj2)
    (gen, band, sig.toAttribute)
  }

  /** The smallest band index on which the two signatures agree —
    * recomputed from both signature columns, so filtering the
    * exploded join on it keeps exactly one copy of each pair. */
  private def firstMatchingBand(g: Geometry, sa: Expression,
      sb: Expression): Expression = {
    val i = NamedLambdaVariable("i", IntegerType, nullable = false)
    val eq = EqualTo(bandOf(g, sa, Multiply(i, Literal(g.bandBits))),
      bandOf(g, sb, Multiply(i, Literal(g.bandBits))))
    ArrayMin(ArrayFilter(
      new Sequence(Literal(0), Literal(g.bands - 1), None,
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

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!enabled) plan
    else plan.transformUp {
      case j @ Join(left, right, Inner, Some(cond), _)
          if cond.deterministic
            && !left.output.exists(_.name == BandName)
            && !right.output.exists(_.name == BandName)
            && !hasEquiKey(cond, left, right) =>
        val conjuncts = splitConjunctivePredicates(cond)
        val spelledOk = spelledEnabled
        def floatArray(e: Expression): Boolean = e.dataType match {
          case ArrayType(FloatType, _) => true
          case _ => false
        }
        val hit: Option[(Expression, Expression)] =
          conjuncts.iterator.flatMap { p =>
            cosineTrigger(p, spelledOk).flatMap { case (x, y) =>
              // The fused cosine_sim enforces array<float> itself;
              // the spelled dot/norm form needs the explicit guard
              // (hypersig's signature contract is float embeddings).
              if (!floatArray(x) || !floatArray(y)) None
              else if (x.references.subsetOf(left.outputSet)
                  && y.references.subsetOf(right.outputSet)) Some((x, y))
              else if (y.references.subsetOf(left.outputSet)
                  && x.references.subsetOf(right.outputSet)) Some((y, x))
              else None
            }
          }.take(1).toList.headOption
        hit match {
          case None => j
          case Some((a, b)) =>
            val g = geometry(left, right)
            // The rewrite is lossy outside the banding radius — say
            // so where the user will look when rows seem to be
            // missing, and name the way out.
            logWarning("graft: planning cosine>=t join as an LSH " +
              s"banded join (planes=${g.planes}, bands=${g.bands}): " +
              s"candidate-complete for signature distance < ${g.bands}" +
              " bits; qualifying pairs outside that radius are not " +
              s"returned. Set $EnabledKey=false for the exact nested " +
              "loop.")
            val (lgen, lband, lsig) = explodeBands(g, left, a)
            val (rgen, rband, rsig) = explodeBands(g, right, b)
            // Conjuncts not touching a cosine (either spelling) prune
            // inside the blocked join, before the verify pays the dot
            // product; cosine conjuncts wait above the canonical-band
            // dedup so each pair pays them ONCE, not per band copy.
            val (needCos, rest) = conjuncts.partition(touchesCosine)
            val blockedCond =
              (EqualTo(lband, rband) +: rest).reduce(And)
            val blocked = Join(lgen, rgen, Inner, Some(blockedCond),
              JoinHint.NONE)
            val canonical = EqualTo(
              GetStructField(lband, 0, Some("i")),
              firstMatchingBand(g, lsig, rsig))
            val verify = (needCos :+ canonical).reduce(And)
            Project(j.output, Filter(verify, blocked))
        }
    }
}
