package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.{Inner, QueryPlan}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation, PartitioningAwareFileIndex}
import org.apache.spark.sql.functions.{avg, col, count, lit, max, percentile_approx, sum, when}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType, LongType, NumericType, StructField, StructType}

import scala.util.control.NonFatal

/** The blocking-join skeleton the six join rewrites share, and the
  * bin machinery of the two bin-blocking rules.
  *
  * == The skeleton ==
  *
  * Every rule brings a join with no equi key back to the keyed shape
  * the same way: explode each side into block keys, equi-join on the
  * key, re-apply the original predicate as the verify, and keep one
  * canonical copy of each pair. The shared pieces live here:
  *
  *  - [[Blockable]], the join guard: inner join, deterministic
  *    condition (the verify re-evaluates it per candidate), no
  *    [[MarkerPrefix]] column on either side (the rule runs inside a
  *    fixpoint batch, where pushdown can fold the verify back into the
  *    blocked join's condition — the marker stops a second rewrite by
  *    the same rule or a sibling), and no cross-side equi key (the
  *    re-blocking trap: an already keyed join would only square its
  *    fan-out);
  *  - [[oriented]], which turns a matched predicate's operands into
  *    (left side, right side);
  *  - [[explodeKey]], which explodes a side into its key column;
  *  - [[assemble]], the final `Project(j.output, Filter(verify,
  *    Join(lgen, rgen, Inner, key)))`.
  *
  * Each rule keeps only its predicate matcher, its key expression and
  * its canonical filter. [[Bands]] is the banded-Long geometry of the
  * two signature rules ([[HammingBandJoin]], [[CosineBandJoin]]).
  *
  * == The bin rules ==
  *
  * [[RangeBinJoin]] and [[IntervalOverlapJoin]] share [[bucketOf]],
  * [[explodeBuckets]], the per-row SAFE predicate that routes
  * interval rows between the binned equi-join and the exact
  * [[residual]] join, and the plan-time statistics pass that both
  * derives the bin width from the data's own interval lengths and
  * decides whether the residual branch needs to exist at all.
  *
  * == The safe predicate ==
  *
  * `abs(hi/G − lo/G) <= MaxSpanBuckets`, evaluated in double. Every
  * pathological value fails it the right way under Spark's NaN-largest
  * comparison semantics: a NaN bound makes the subtraction NaN (NaN ≤
  * cap is FALSE), an infinite bound makes it ±Inf or NaN (FALSE), a
  * finite-but-enormous span (the SCD2 end-of-time sentinel, an
  * epoch-µs interval against a seconds-tuned width) exceeds the cap
  * (FALSE), and a NULL bound nulls the whole predicate — which is
  * CORRECT to drop from BOTH paths, because a null bound can never
  * satisfy the original inequality conjuncts of an inner join. Safe
  * rows explode into at most MaxSpanBuckets+1 bucket keys; unsafe rows
  * take the residual join, where the ORIGINAL predicate evaluates
  * row-by-row — exact for every input, including the NaN/Inf bounds
  * that the pre-r10 rewrite silently mishandled.
  *
  * == The stats pass ==
  *
  * At rule-fire time [[sideStats]] takes ONE pass over the interval
  * side — a driver-side evaluation for an in-plan [[LocalRelation]]
  * (VALUES lists, literal band tables), a single column-pruned
  * aggregate job for anything else — producing the median and the mean
  * |hi−lo|, the maximum FINITE |hi−lo|, and the count of non-finite
  * lengths. From those:
  *
  *  - the bin width is a typical length quantized to a power of two
  *    (so near-identical datasets get identical widths), falling back
  *    to the rule's static default when the sample is empty or the
  *    length is zero. Which typical length is the rule's cost model:
  *    [[IntervalOverlapJoin]] takes the MEAN, because at width G each
  *    interval meets about λ·(G + L̄) others per bucket and spans about
  *    1 + L/G buckets, so the candidates are ≈ N·λ·(G + L̄)²/G, smallest
  *    at G = L̄ (λ = intervals per unit of time, L̄ = mean length); a
  *    median would be blind to the tail that makes the candidates (on
  *    the session data most sessions are one event long, so the median
  *    is 0, which gives the fallback, while the mean is ~43).
  *    [[RangeBinJoin]] keeps the MEDIAN for its robustness to a few
  *    huge spans, which would drag a mean up until every point shares
  *    one bucket (its scaladoc works RangeRuleSpec's sentinel case
  *    through). Any positive width
  *    is CORRECT — the floor-division binning identity is monotone —
  *    the width only tunes candidate volume (a mean dragged up by a
  *    few huge spans costs candidates, never rows).
  *  - the residual branch is emitted ONLY when unsafe rows provably
  *    can exist (a non-finite length, or a max finite length within
  *    two buckets of the cap). Clean data — the overwhelmingly common
  *    case — gets a plan with no residual at all, because runtime
  *    can't prune it for us: AQE does not propagate empty relations
  *    through broadcast stages, so an always-emitted residual would
  *    cost a full scan of the big side per query even when empty.
  *
  * Any probe failure (no active session, a removed-in-future API)
  * degrades conservatively: fallback width, residual branch ON —
  * never a correctness change. A STREAMING interval side never runs
  * a probe job at all — it short-circuits to the same conservative
  * answer before touching the session (BinningProbeSpec pins the
  * no-job path). Interval sides too large to scan at plan time
  * ([[MaxProbeBytes]]) probe a SAMPLE for the width (any width is
  * correct — it only tunes candidate volume) while the residual
  * decision stays conservative (a sample cannot prove the absence of
  * unsafe rows), so plan latency is bounded on arbitrarily large
  * inputs. Every probe logs its outcome (rows scanned, median, mean,
  * and failure cause on the degradation path).
  *
  * Results are cached per canonicalized side, with lo and hi
  * normalized against the side's output (so both sides of a
  * self-join share one entry and one probe), PLUS a data-version
  * fingerprint, so re-planning the same query never re-scans — and a
  * side whose data changed (append, overwrite) misses the cache and
  * re-derives, because the residual decision is CORRECTNESS-bearing:
  * serving a stale nonFiniteOrUnknown = 0 for data that has since
  * gained a NaN/Inf bound would omit the residual branch and mis-bin
  * those rows. The fingerprint covers exactly the leaf shapes whose
  * data version is knowable: LocalRelation (its rows live inside the
  * canonicalized key itself), a checkpointed LogicalRDD (its blocks
  * never change, so the RDD id is the version — a fresh checkpoint is
  * a new RDD and misses), and file-source relations via root paths +
  * size + a per-file (name, length, mtime) digest, which an overwrite
  * always perturbs because part-file names are randomized per write;
  * anything else is never cached.
  */
private[plans] object Binning extends PredicateHelper {

  /** Marker-name prefix shared by every blocking rule's emitted
    * columns; a join touching ANY such column is rule output and must
    * never be re-blocked (by the same rule or a sibling — the
    * residual join's condition is still a textbook range sandwich). */
  val MarkerPrefix = "__graft_"

  /** Max exploded buckets per interval row on the binned path. */
  val MaxSpanBuckets = 256

  /** Row cap for the driver-side LocalRelation evaluation. */
  val LocalRows = 100000

  def hasMarker(plan: LogicalPlan): Boolean =
    plan.output.exists(_.name.startsWith(MarkerPrefix))

  // ---- the skeleton ------------------------------------------------

  /** The join guard (see the scaladoc) → (left, right, condition). */
  object Blockable {
    def unapply(plan: LogicalPlan)
        : Option[(LogicalPlan, LogicalPlan, Expression)] = plan match {
      case Join(left, right, Inner, Some(cond), _)
          if cond.deterministic
            && !hasMarker(left) && !hasMarker(right)
            && !hasEquiKey(cond, left, right) => Some((left, right, cond))
      case _ => None
    }
  }

  /** True when any conjunct is a plain cross-side equality. */
  def hasEquiKey(cond: Expression, left: LogicalPlan,
      right: LogicalPlan): Boolean =
    splitConjunctivePredicates(cond).exists {
      case EqualTo(x, y) => oriented(x, y, left, right).isDefined
      case _ => false
    }

  /** (x, y) as (left-side operand, right-side operand), when each
    * draws only from one side. */
  def oriented(x: Expression, y: Expression, left: LogicalPlan,
      right: LogicalPlan): Option[(Expression, Expression)] =
    if (x.references.subsetOf(left.outputSet)
        && y.references.subsetOf(right.outputSet)) Some((x, y))
    else if (y.references.subsetOf(left.outputSet)
        && x.references.subsetOf(right.outputSet)) Some((y, x))
    else None

  /** The first conjunct of `cond` that `m` matches. */
  def firstConjunct[A](cond: Expression)(m: Expression => Option[A])
      : Option[A] =
    splitConjunctivePredicates(cond).iterator.flatMap(m(_)).nextOption()

  /** `child` plus one computed column. */
  def withColumn(child: LogicalPlan, column: Alias): LogicalPlan =
    Project(child.output :+ column, child)

  /** Explode `child` into the key column `keyName`: project the key
    * array `arr` (then the `carry` columns) beside the child's output
    * and generate one row per element. The array stays in the output
    * (canonical filters read it) unless `dropArray`; a `pos`
    * attribute switches to PosExplode. */
  def explodeKey(child: LogicalPlan, arr: Alias, keyName: String,
      keyType: DataType, carry: Seq[Alias] = Nil,
      pos: Option[Attribute] = None,
      dropArray: Boolean = false): (LogicalPlan, Attribute) = {
    val key = AttributeReference(keyName, keyType, nullable = true)()
    val gen = Generate(
      if (pos.isDefined) PosExplode(arr.toAttribute)
      else Explode(arr.toAttribute),
      unrequiredChildIndex = if (dropArray) Seq(child.output.size) else Nil,
      outer = false, qualifier = None, generatorOutput = pos.toSeq :+ key,
      child = Project(child.output ++ (arr +: carry), child))
    (gen, key)
  }

  /** The blocked join on `key`, the `verify` above it, projected back
    * to the rewritten join's output. */
  def assemble(j: LogicalPlan, lgen: LogicalPlan, rgen: LogicalPlan,
      key: Expression, verify: Expression): LogicalPlan =
    Project(j.output,
      Filter(verify, Join(lgen, rgen, Inner, Some(key), JoinHint.NONE)))

  /** The branches as one plan: a Union when there is more than one. */
  def union(branches: Seq[LogicalPlan]): LogicalPlan =
    if (branches.size == 1) branches.head else Union(branches)

  private def seq(from: Expression, to: Expression): Expression =
    new Sequence(from, to, None, Some(SQLConf.get.sessionLocalTimeZone))

  /** Banded-Long geometry: `count` disjoint bands of `bits` bits cut
    * from a 64-bit signature, lowest bits first. Reads past bit 63
    * mask to zero on both sides, so band equality stays a pure
    * function of the signatures. Two signatures within `count − 1`
    * differing bits agree on at least one band (pigeonhole). */
  final case class Bands(count: Int, bits: Int) {
    private val mask = (1L << bits) - 1

    private def band(sig: Expression, shift: Expression): Expression =
      BitwiseAnd(ShiftRightUnsigned(sig, shift), Literal(mask))

    /** Explode `child` into one (i, band value) struct per band of
      * `sig`; the structs join on equality in one key. */
    def explode(child: LogicalPlan, sig: Expression, keyName: String,
        arrName: String): (LogicalPlan, Attribute) = {
      val structs = (0 until count).map { i =>
        CreateNamedStruct(Seq(Literal("i"), Literal(i),
          Literal("v"), band(sig, Literal(i * bits))))
      }
      explodeKey(child, Alias(CreateArray(structs), arrName)(), keyName,
        StructType(Seq(StructField("i", IntegerType, nullable = false),
          StructField("v", LongType, nullable = true))))
    }

    /** Keeps the copy whose band is the smallest band index on which
      * `a` and `b` agree — recomputed from both signatures, so the
      * exploded join keeps exactly one copy of each pair. */
    def canonical(key: Attribute, a: Expression, b: Expression)
        : Expression = {
      val i = NamedLambdaVariable("i", IntegerType, nullable = false)
      val eq = EqualTo(band(a, Multiply(i, Literal(bits))),
        band(b, Multiply(i, Literal(bits))))
      EqualTo(GetStructField(key, 0, Some("i")),
        ArrayMin(ArrayFilter(seq(Literal(0), Literal(count - 1)),
          LambdaFunction(eq, Seq(i)))))
    }
  }

  object Bands {
    /** `count` uniform ceil-width bands over `planes` signature bits. */
    def over(planes: Int, count: Int): Bands =
      Bands(count, (planes + count - 1) / count)
  }

  // ---- the bin rules -----------------------------------------------

  def numeric(e: Expression): Boolean = e.dataType.isInstanceOf[NumericType]

  def bucketOf(e: Expression, width: Double): Expression =
    Floor(Divide(Cast(e, DoubleType), Literal(width)))

  /** Explode `child` over the buckets its [lo, hi] interval covers. */
  def explodeBuckets(child: LogicalPlan, lo: Expression, hi: Expression,
      width: Double, keyName: String, arrName: String)
      : (LogicalPlan, Attribute) =
    explodeKey(child,
      Alias(seq(bucketOf(lo, width), bucketOf(hi, width)), arrName)(),
      keyName, LongType, dropArray = true)

  /** The exact fallback for `side`'s rows that fail `safe`: they are
    * marked with `marker` and join `other` on the ORIGINAL condition,
    * with a BROADCAST hint on the marked side. */
  def residual(j: LogicalPlan, cond: Expression, side: LogicalPlan,
      safe: Expression, other: LogicalPlan, sideIsLeft: Boolean,
      marker: String): LogicalPlan = {
    val marked = withColumn(Filter(Not(safe), side),
      Alias(Literal(true), marker)())
    val bcast = Some(HintInfo(strategy = Some(BROADCAST)))
    Project(j.output,
      if (sideIsLeft) Join(marked, other, Inner, Some(cond), JoinHint(bcast, None))
      else Join(other, marked, Inner, Some(cond), JoinHint(None, bcast)))
  }

  /** The per-row routing predicate (see scaladoc). */
  def safeSpan(lo: Expression, hi: Expression, width: Double): Expression = {
    val g = Literal(width)
    LessThanOrEqual(
      Abs(Subtract(Divide(Cast(hi, DoubleType), g),
        Divide(Cast(lo, DoubleType), g))),
      Literal(MaxSpanBuckets.toDouble))
  }

  /** One interval side's plan-time statistics over its finite lengths
    * (a `None` median or mean: no finite length was seen);
    * `nonFiniteOrUnknown` is conservative — any probe failure reports
    * it as positive. */
  final case class SideStats(median: Option[Double], mean: Option[Double],
      maxFinite: Option[Double], nonFiniteOrUnknown: Long)

  private val Unknown = SideStats(None, None, None, 1L)

  /** Width from a typical length (the rule picks the median or the
    * mean): quantized to a power of two, else the rule's fallback. */
  def widthOf(typical: Option[Double], fallback: Double): Double = typical match {
    case Some(len) if len > 0 && java.lang.Double.isFinite(len) =>
      math.pow(2.0, math.round(math.log(len) / math.log(2.0)).toDouble)
    case _ => fallback
  }

  /** Whether any row of the side could fail [[safeSpan]] at `width` —
    * if false, the residual branch is provably unnecessary (the two-
    * bucket margin absorbs IEEE rounding between |hi−lo|/G and
    * hi/G−lo/G). */
  def unsafePossible(stats: SideStats, width: Double): Boolean =
    stats.nonFiniteOrUnknown > 0 ||
      stats.maxFinite.exists(_ / width > (MaxSpanBuckets - 2).toDouble)

  private val probeLog = org.slf4j.LoggerFactory.getLogger("graft.plans.Binning")

  /** Byte budget for the plan-time probe job: a larger interval side
    * probes a deterministic SAMPLE sized to this budget instead (width
    * stays data-derived; the residual decision degrades to
    * conservative because a sample proves nothing about absence), so
    * planning latency is bounded however large the side is. */
  val MaxProbeBytes: Long = 32L << 30

  // Stats cache, keyed by the canonicalized side, its lo and hi
  // normalized against the side's output, PLUS a data-version
  // fingerprint (see the class doc: staleness of unsafePossible is
  // correctness-bearing, so a key must change whenever the data can
  // have). Leaves without a knowable version are never cached. The
  // size bound stops unbounded growth in long-lived sessions; losing
  // an entry only re-runs a probe.
  private val statsCache =
    new java.util.concurrent.ConcurrentHashMap[
      (LogicalPlan, Expression, Expression, String), SideStats]()

  /** A string that changes whenever `plan`'s underlying DATA can have
    * changed; `None` when a leaf's data version is unknowable (then
    * the caller must not cache). LocalRelation rows are part of the
    * canonicalized plan itself, so a constant suffices; a CHECKPOINTED
    * LogicalRDD's blocks never change, so its RDD id (with the owning
    * application's id, as ids restart per SparkContext) is its
    * version — a fresh checkpoint of the same rows is a new RDD and
    * misses; an unmaterialized RDD may recompute from changed inputs
    * and stays unversioned; file sources
    * fingerprint as root paths + total size + an order-insensitive
    * digest of every file's (name, length, mtime) (the listing is
    * already cached on the FileIndex — no extra I/O). Per-FILE names
    * and sizes matter, not just count + max mtime: an overwrite that
    * preserves total size and file count can land inside a coarse
    * filesystem's mtime granularity window, but part-file names are
    * freshly randomized per write, so the per-file digest still
    * changes — and staleness here is correctness-bearing (a stale
    * nonFiniteOrUnknown = 0 omits the residual branch). */
  private[plans] def dataFingerprint(plan: LogicalPlan): Option[String] = {
    val parts = plan.collectLeaves().map {
      case _: LocalRelation => Some("local")
      case r: LogicalRDD =>
        if (r.isStreaming || !r.rdd.isCheckpointed) None
        else Some(s"rdd:${r.rdd.sparkContext.applicationId}:${r.rdd.id}")
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation =>
          try {
            val loc = fs.location
            val files = loc match {
              case p: PartitioningAwareFileIndex =>
                val md = java.security.MessageDigest.getInstance("MD5")
                // XOR of per-file digests: order-insensitive without
                // sorting the (possibly large) listing.
                val acc = new Array[Byte](16)
                var n = 0
                p.allFiles().foreach { f =>
                  val d = md.digest(
                    s"${f.getPath}:${f.getLen}:${f.getModificationTime}"
                      .getBytes("UTF-8"))
                  var i = 0
                  while (i < 16) { acc(i) = (acc(i) ^ d(i)).toByte; i += 1 }
                  md.reset()
                  n += 1
                }
                s"$n:${acc.map("%02x".format(_)).mkString}"
              case _ =>
                // Digest the listing rather than embedding it: the
                // cache key must stay O(16 bytes) even for relations
                // with very large file listings.
                val md = java.security.MessageDigest.getInstance("MD5")
                val names = loc.inputFiles.sorted
                names.foreach(f => md.update(f.getBytes("UTF-8")))
                s"${names.length}:${md.digest().map("%02x".format(_)).mkString}"
            }
            Some(s"fs:${loc.rootPaths.mkString(",")}:${loc.sizeInBytes}:$files")
          } catch { case NonFatal(_) => None }
        case _ => None
      }
      case _ => None
    }
    if (parts.nonEmpty && parts.forall(_.isDefined))
      Some(parts.flatten.mkString("|"))
    else None
  }

  def sideStats(child: LogicalPlan, lo: Expression,
      hi: Expression): SideStats =
    dataFingerprint(child) match {
      case None =>
        // Unknown data version: never cache — recompute per rule fire
        // (streaming children short-circuit inside computeStats).
        computeStats(child, lo, hi)
      case Some(fp) =>
        // lo and hi by ordinal in the side's output, so the two sides
        // of a self-join (same plan, fresh exprIds) share one key; the
        // RDD leaves become empty relations of their output, so the
        // cache pins no checkpoint (the fingerprint holds their ids).
        val side = child.canonicalized.transform {
          case r: LogicalRDD => LocalRelation(r.output)
        }
        val key = (side, QueryPlan.normalizeExpressions(lo, child.output),
          QueryPlan.normalizeExpressions(hi, child.output), fp)
        val hit = statsCache.get(key)
        if (hit != null) hit
        else {
          val stats = computeStats(child, lo, hi)
          if (statsCache.size() > 64) statsCache.clear()
          statsCache.put(key, stats)
          stats
        }
    }

  private def computeStats(child: LogicalPlan, lo: Expression,
      hi: Expression): SideStats = {
    val len = Abs(Subtract(Cast(hi, DoubleType), Cast(lo, DoubleType)))
    child match {
      case lr: LocalRelation if lr.data.length <= LocalRows =>
        try {
          val bound = BindReferences.bindReference(len, lr.output)
          var nonFinite = 0L
          val finite = Array.newBuilder[Double]
          lr.data.foreach(r => bound.eval(r) match {
            case d: java.lang.Double =>
              if (java.lang.Double.isFinite(d.doubleValue()))
                finite += d.doubleValue()
              else nonFinite += 1
            case null => () // null bounds match nothing on either path
            case _ => nonFinite += 1
          })
          val vals = finite.result().sorted
          if (vals.isEmpty) SideStats(None, None, None, nonFinite)
          else SideStats(Some(vals(vals.length / 2)),
            Some(vals.sum / vals.length), Some(vals.last), nonFinite)
        } catch {
          case NonFatal(e) =>
            probeLog.warn(s"graft binning local probe failed, degrading to " +
              s"fallback width + residual: $e")
            Unknown
        }
      case s if s.isStreaming =>
        // A probe job over a streaming source is both impossible
        // (unbounded) and wrong to attempt at plan time; degrade
        // WITHOUT touching the session (BinningProbeSpec pins that no
        // job starts on this path).
        probeLog.info("graft binning probe skipped for streaming side: " +
          "fallback width, residual ON")
        Unknown
      case _ =>
        try {
          val spark = SparkSession.active
          // Bound plan-time work: past the byte budget, probe a
          // deterministic sample — the width stays data-derived, and
          // the forced nonFiniteOrUnknown keeps the residual decision
          // conservative (a sample cannot prove clean data).
          val bytes = child.stats.sizeInBytes
          val sampled = bytes > MaxProbeBytes
          val probeChild =
            if (!sampled) child
            else Sample(0.0,
              (BigDecimal(MaxProbeBytes) / BigDecimal(bytes)).toDouble,
              withReplacement = false, 42L, child)
          val lens = dataFrameOf(spark,
            Project(Seq(Alias(len, "__graft_len")()), probeChild))
          // `l <= MaxValue` is FALSE for NaN and +Inf under Spark's
          // NaN-greatest ordering, so `fin` nulls every non-finite
          // length and `nf` counts exactly those.
          val l = col("__graft_len")
          val fin = when(l >= lit(0.0) && l <= lit(Double.MaxValue), l)
          val nf = when(l.isNotNull
            && !(l >= lit(0.0) && l <= lit(Double.MaxValue)), lit(1L))
            .otherwise(lit(0L))
          val row = lens.agg(
            percentile_approx(fin, lit(0.5), lit(1000)), avg(fin),
            max(fin), sum(nf), count(lit(1))).head()
          def opt(i: Int) = if (row.isNullAt(i)) None else Some(row.getDouble(i))
          val nonFinite = (if (row.isNullAt(3)) 0L else row.getLong(3)) +
            (if (sampled) 1L else 0L)
          val st = SideStats(opt(0), opt(1), opt(2), nonFinite)
          probeLog.info(s"graft binning probe: rows=${row.getLong(4)} " +
            s"sampled=$sampled median=${st.median} mean=${st.mean} " +
            s"maxFinite=${st.maxFinite} " +
            s"nonFiniteOrUnknown=${st.nonFiniteOrUnknown}")
          st
        } catch {
          case NonFatal(e) =>
            probeLog.warn(s"graft binning probe failed, degrading to " +
              s"fallback width + residual: $e")
            Unknown
        }
    }
  }

  /** `Dataset.ofRows` is private[sql], so the stats pass reaches it
    * reflectively (the object is stable public API in practice — AQE,
    * connectors, and every execution path construct frames this way).
    * Any signature drift lands in the caller's try/catch and degrades
    * to the conservative fallback. Shared with
    * [[OverlapJoinBlocking]]'s token-df probe. */
  private[plans] def dataFrameOf(spark: SparkSession, plan: LogicalPlan): DataFrame = {
    val cls = Class.forName("org.apache.spark.sql.classic.Dataset$")
    val module = cls.getField("MODULE$").get(null)
    val m = cls.getMethods.find(m =>
      m.getName == "ofRows" && m.getParameterCount == 2).get
    m.invoke(module, spark, plan).asInstanceOf[DataFrame]
  }
}
