package graft

import graft.functions._
import graft.plans.{CosineBandJoin, FuzzyJoinBlocking, HammingBandJoin, IntervalOverlapJoin, OverlapJoinBlocking, RangeBinJoin}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule

import scala.reflect.ClassTag

/** The one registration table for graft's native SQL functions and
  * optimizer rules. [[GraftExtensions]] injects [[functions]] into a
  * session as it is built; [[GraftSession.install]] appends [[rules]].
  * Nothing else registers either, so every session that has the table
  * resolves the same names and plans with the same rules from its
  * first query on.
  */
object Registry {

  /** `(name, info, builder)` in the shape
    * `SparkSessionExtensions.injectFunction` takes. */
  type Fn = (FunctionIdentifier, ExpressionInfo, FunctionBuilder)

  /** A fixed-arity function. A wrong argument count raises an
    * IllegalArgumentException naming the function ([[Portable.arity]]). */
  private def fn[E <: Expression: ClassTag](name: String, arity: Int)(
      build: Seq[Expression] => E): Fn =
    described[E](name, Portable.arity(name, arity)(build))

  /** A function with optional arguments: its `fromArgs` matches the
    * accepted argument lists and raises the same error for any other. */
  private def fnArgs[E <: Expression: ClassTag](name: String)(
      fromArgs: Seq[Expression] => E): Fn =
    described[E](name, fromArgs)

  private def described[E: ClassTag](name: String, build: FunctionBuilder): Fn =
    (FunctionIdentifier(name),
      new ExpressionInfo(implicitly[ClassTag[E]].runtimeClass.getName, name),
      build)

  val functions: Seq[Fn] = Seq(
    // Fused LSH signatures, similarity kernels and centroid assignment.
    fn("minhash60", 1)(es => MinHashSignature(es(0))),
    fn("simhash60", 1)(es => SimHashSignature(es(0))),
    fn("hypersig", 1)(es => HyperplaneSignature(es(0))),
    fn("rollhash60", 2)(es => RollingGramHashes(es(0), es(1))),
    fn("cosine_sim", 2)(es => CosineSim(es(0), es(1))),
    fn("jaro_winkler", 2)(es => JaroWinklerSim(es(0), es(1))),
    fn("cent_argmin_l2", 2)(es => CentArgmin(es(0), es(1), cosine = false)),
    fn("cent_argmin_cos", 2)(es => CentArgmin(es(0), es(1), cosine = true)),
    // Text normalization and character histograms.
    fn("nfc_normalize", 1)(es => NfcNormalize(es(0))),
    fn("bytes_to_unicode", 1)(es => BytesToUnicode(es(0))),
    fn("char_counts", 2)(es => CharCounts(es(0), es(1))),
    // Merge-walk kernels. OverlapJoinBlocking plants these expressions
    // directly; the names serve SQL callers.
    fn("sorted_intersect_count", 2)(es => SortedIntersectCount(es(0), es(1))),
    fn("sorted_intersect_first", 2)(es => SortedIntersectFirst(es(0), es(1))),
    fn("sorted_suffix_hamming_lb", 4)(es =>
      SortedSuffixHammingLB(es(0), es(1), es(2), es(3))),
    // Explicit semi-join reduction: Spark's own mergeable bloom build,
    // probed by graft's BloomMightContain. Spark's built-in probe emits
    // an ambiguous `(Long)` cast that Janino rejects when the probe
    // folds to a negative literal, silently dropping the projection to
    // interpreted mode (see BloomProbe). A bloom pre-filter has false
    // positives, so it must sit below an exact join.
    fn("bloom_agg", 1)(es => new BloomFilterAggregate(es(0))),
    fn("bloom_might_contain", 2)(es => BloomMightContain(es(0), es(1))),
    // Mergeable sketch families, each a build and a merge aggregate
    // plus readouts on the graft.functions.Sketch skeleton. The Theta
    // names shadow Spark's built-ins of the same name.
    fnArgs("theta_sketch_agg")(ThetaSketchAgg.fromArgs),
    fnArgs("theta_union_agg")(ThetaUnionAgg.fromArgs),
    fn("theta_estimate", 1)(es => ThetaEstimate(es(0))),
    fn("theta_intersect_estimate", 2)(es => ThetaIntersectEstimate(es(0), es(1))),
    fn("theta_anotb_estimate", 2)(es => ThetaAnotBEstimate(es(0), es(1))),
    fnArgs("kll_sketch_agg")(KllSketchAgg.fromArgs),
    fnArgs("kll_merge_agg")(KllMergeAgg.fromArgs),
    fn("kll_quantile", 2)(es => KllQuantile(es(0), es(1))),
    fn("kll_rank", 2)(es => KllRank(es(0), es(1))),
    fn("kll_n", 1)(es => KllN(es(0))),
    fn("kll_is_exact", 1)(es => KllIsExact(es(0))),
    fn("kll_err_bound", 1)(es => KllErrBound(es(0))),
    fnArgs("mg_sketch_agg")(MgSketchAgg.fromArgs),
    fnArgs("mg_merge_agg")(MgMergeAgg.fromArgs),
    fn("mg_estimate", 2)(es => MgEstimate(es(0), es(1))),
    fn("mg_delta", 1)(es => MgDelta(es(0))),
    fn("mg_n", 1)(es => MgN(es(0))),
    fn("mg_entries", 1)(es => MgEntries(es(0))),
    fnArgs("cms_sketch_agg")(CmsSketchAgg.fromArgs),
    fn("cms_merge_agg", 1)(es => CmsMergeAgg(es(0))),
    fn("cms_estimate", 2)(es => CmsEstimate(es(0), es(1))),
    fnArgs("fd_sketch_agg")(FdSketchAgg.fromArgs),
    fnArgs("fd_merge_agg")(FdMergeAgg.fromArgs),
    // Differential-privacy noise (see DpNoise).
    fn("laplace_unit", 1)(es => LaplaceUnit(es(0))),
    fn("secure_uniform", 0)(_ => SecureUniform()),
  )

  /** The join rewrites, in the order the optimizer batch runs them. */
  val rules: Seq[Rule[LogicalPlan]] = Seq(
    FuzzyJoinBlocking,
    HammingBandJoin,
    OverlapJoinBlocking,
    RangeBinJoin,
    IntervalOverlapJoin,
    CosineBandJoin,
  )
}
