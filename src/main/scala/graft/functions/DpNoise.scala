package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, LeafExpression, Nondeterministic, UnaryExpression}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DoubleType}

/** The DP family's uniform-noise SEAM — the one injection point that
  * separates the MECHANISM (sensitivity scaling, the Laplace inverse
  * CDF, the Gumbel-max exponential-mechanism selection: the content
  * the oracle gate and specs actually test) from the NOISE SOURCE.
  * Two sources ship behind the same interface:
  *
  *  - [[DpNoise.HashStandIn]] — uniforms seeded by md5 of the
  *    released key (the engine's deterministic-decision convention).
  *    Reproducible, oracle-matchable, and explicitly NOT private: an
  *    adversary who knows the key recomputes the noise. This is the
  *    source every registry row runs, because the gate needs
  *    bit-stable releases.
  *  - [[DpNoise.Crypto]] — `java.security.SecureRandom` via a
  *    nondeterministic leaf expression. The source a real release
  *    runs. Swapping it in changes ONE argument at the call site;
  *    every line downstream — sensitivity, inverse CDF, selection —
  *    is shared code, so nothing about the mechanism can silently
  *    differ between the tested path and the private path
  *    (DpSeamSpec pins source-independence on a landscape where the
  *    mechanism's answer is noise-invariant, and the inverse CDFs on
  *    known uniforms).
  *
  * With this seam the q_dp_counts/q_dp_quantile caveat reduces from
  * "the noise is a stand-in" to "pass [[DpNoise.Crypto]]": the
  * remaining distance to a releasable pipeline is the argument, not
  * the arithmetic.
  */
object DpNoise {

  sealed trait Source

  /** md5(key)-seeded uniforms — deterministic, NOT private. */
  case object HashStandIn extends Source

  /** SecureRandom uniforms — private, not reproducible. */
  case object Crypto extends Source

  /** Uniform on the open (0, 1): hash path lands on the odd 1e-6
    * half-grid (u ∈ {0.5e-6, …} — never 0 or 1, so ln(u) and
    * ln(1−2|u−½|) stay finite); crypto path is SecureRandom's
    * [2⁻⁵³, 1) shifted off zero the same way. */
  def uniformOpen(source: Source, key: Column): Column = source match {
    case HashStandIn =>
      (Portable.md5Hash60(key) % 999999 + lit(0.5)) / lit(1000000.0)
    case Crypto =>
      // The key seeds nothing here by design — a key-seeded "crypto"
      // draw would be the stand-in again. Registered-function seam,
      // the CentAssign column-API convention.
      expr("secure_uniform()")
  }

  /** Laplace(scale) noise via the inverse CDF −b·sign(u)·ln(1−2|u|)
    * over a centered uniform u ∈ (−½, ½), 6dp-rounded (the one libm
    * call, per the engine's float discipline). Sensitivity-1 count
    * queries at privacy ε use scale = 1/ε.
    *
    * The sign and the magnitude MUST come from the same draw: under
    * [[Crypto]] the uniform is a nondeterministic expression, which
    * Spark excludes from subexpression elimination, so referencing
    * the uniform column twice would evaluate two independent draws.
    * [[LaplaceUnit]] binds the uniform once (a unary expression's
    * child is evaluated into one local in both the interpreted and
    * codegen paths) and computes the full inverse CDF from that
    * single value. */
  def laplace(source: Source, key: Column, scale: Double): Column =
    round(lit(-scale) *
      call_function("laplace_unit", uniformOpen(source, key)), 6)

  /** Gumbel(0, 1) noise −ln(−ln u), 6dp-rounded — the Gumbel-max
    * trick's per-candidate draw for exponential-mechanism selection
    * (argmax of ε·utility/2 + gumbel ~ sampling ∝ exp(ε·u/2)). */
  def gumbel(source: Source, key: Column): Column =
    round(-log(-log(uniformOpen(source, key))), 6)
}

/** `laplace_unit(u)` = sign(u−½)·ln(1−2|u−½|) — the unit-scale Laplace
  * inverse CDF over ONE evaluation of the uniform child (the child
  * value lands in a single local in both eval paths, so a
  * nondeterministic source yields exactly one draw per row). */
case class LaplaceUnit(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case DoubleType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"laplace_unit requires double, got $other")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "laplace_unit"
  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[Double] - 0.5
    java.lang.Math.signum(v) * java.lang.Math.log(1.0 - 2.0 * java.lang.Math.abs(v))
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"java.lang.Math.signum($c - 0.5D) * " +
        s"java.lang.Math.log(1.0D - 2.0D * java.lang.Math.abs($c - 0.5D))")
  override protected def withNewChildInternal(newChild: Expression): LaplaceUnit =
    copy(child = newChild)
}

/** SecureRandom uniform in [2⁻⁵³ + ~0, 1) as a nondeterministic leaf
  * expression (one generator per partition, seeded by the JVM's
  * entropy source — never by data or partition id). */
case class SecureUniform() extends LeafExpression
    with Nondeterministic with CodegenFallback {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = false
  override def prettyName: String = "secure_uniform"

  @transient private var rng: java.security.SecureRandom = _

  override protected def initializeInternal(partitionIndex: Int): Unit =
    rng = new java.security.SecureRandom()

  override protected def evalInternal(input: InternalRow): Any = {
    val u = rng.nextDouble()
    if (u <= 0.0) java.lang.Math.ulp(0.0) else u
  }
}
