package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types._

/** Fused centroid-argmin as a native Catalyst expression — the hot
  * inner loop of every Lloyd assignment and IVF cell routing.
  *
  * `cent_argmin_l2(vec, cs)` / `cent_argmin_cos(vec, cs)` take a
  * float vector and the packed centroid array
  * `array<struct<cent_id: long, ce: array<float|double>, cn2: double,
  * cn: double>>` (see `Ivf.packCents`) and return the cent_id
  * minimizing the metric, ties broken by smallest cent_id:
  *
  *  - l2:  m = round(‖v‖² − 2·v·c + cn2, 6)
  *  - cos: m = −round(v·c / (‖v‖ · cn), 6)   (argmax cosine)
  *
  * Values are IDENTICAL to the composed
  * `array_min(transform(cs, …aggregate folds…))` form it replaces
  * (CentAssignSpec proves it element-for-element): the row norm and
  * each dot product accumulate sequentially with the same IEEE op
  * order, and the 6dp round replicates Spark's `Round` exactly
  * (HALF_UP on `BigDecimal.valueOf`, NaN/Inf passed through) — so
  * every DuckDB oracle is unchanged. The composed form walks the
  * vector 2+k times through interpreted lambda closures and allocates
  * k metric structs per row; this expression is one compiled loop with
  * zero allocation, and `doGenCode` keeps it inside whole-stage
  * codegen.
  *
  * Inputs must be non-null, non-empty, dimension-matched, and (for
  * cos) non-zero — the embedding-table contract; any violation
  * returns NULL rather than an arbitrary assignment.
  */
case class CentArgmin(left: Expression, right: Expression, cosine: Boolean)
    extends BinaryExpression {

  private def ceIsFloat: Boolean = right.dataType match {
    case ArrayType(StructType(f), _) if f.length == 4 =>
      f(1).dataType match {
        case ArrayType(FloatType, _) => true
        case _ => false
      }
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(FloatType, _), ArrayType(StructType(Array(f0, f1, f2, f3)), _))
        if f0.dataType == LongType &&
          (f1.dataType == ArrayType(FloatType, containsNull = false) ||
            f1.dataType == ArrayType(DoubleType, containsNull = false) ||
            f1.dataType == ArrayType(FloatType, containsNull = true) ||
            f1.dataType == ArrayType(DoubleType, containsNull = true)) &&
          f2.dataType == DoubleType && f3.dataType == DoubleType =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<float>, array<struct<long, array<float|double>, double, double>>), got $other")
  }

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String =
    if (cosine) "cent_argmin_cos" else "cent_argmin_l2"

  override def nullSafeEval(a: Any, b: Any): Any =
    CentAssign.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      cosine, ceIsFloat)

  // The boxed temp must come from ctx.freshName: deriving it from
  // ev.value breaks in codegen contexts (GenerateUnsafeProjection)
  // where ev.value is not a plain identifier — Janino then rejects
  // the declaration ("java.lang.Long" is not an rvalue) and Spark
  // silently falls back to interpreted projection.
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val r = ctx.freshName("centArgmin")
      s"""
         |java.lang.Long $r =
         |  graft.functions.CentAssign.compute($a, $b, $cosine, $ceIsFloat);
         |if ($r == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $r.longValue();
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CentArgmin =
    copy(left = newLeft, right = newRight)
}

object CentAssign {

  /** Spark `Round(x, 6)` for doubles, replicated exactly: NaN/Inf pass
    * through, otherwise HALF_UP on the shortest-decimal BigDecimal.
    * Exposed package-private so tests recompute metrics with the
    * OPERATOR's rounding (math.rint is half-even and can disagree on
    * exact .5e-6 boundaries). */
  private[graft] def round6(x: Double): Double =
    if (x.isNaN || x.isInfinity) x
    else java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  def compute(vec: ArrayData, cs: ArrayData,
      cosine: Boolean, ceFloat: Boolean): java.lang.Long = {
    val n = vec.numElements()
    var vn2 = 0.0
    var i = 0
    while (i < n) {
      if (vec.isNullAt(i)) return null
      val x = vec.getFloat(i).toDouble
      vn2 += x * x
      i += 1
    }
    val vn = math.sqrt(vn2)
    val k = cs.numElements()
    var found = false
    var bestM = 0.0
    var bestId = 0L
    var c = 0
    while (c < k) {
      if (cs.isNullAt(c)) return null
      val row = cs.getStruct(c, 4)
      if (row.isNullAt(0) || row.isNullAt(1) || row.isNullAt(2) || row.isNullAt(3)) return null
      val cid = row.getLong(0)
      val ce = row.getArray(1)
      if (ce.numElements() != n) return null
      var dot = 0.0
      var j = 0
      while (j < n) {
        if (ce.isNullAt(j)) return null
        val y = if (ceFloat) ce.getFloat(j).toDouble else ce.getDouble(j)
        dot += vec.getFloat(j).toDouble * y
        j += 1
      }
      val m =
        if (cosine) {
          val denom = vn * row.getDouble(3)
          if (denom == 0.0) return null // composed form nulls on /0 too
          0.0 - round6(dot / denom)
        } else {
          round6(vn2 - 2.0 * dot + row.getDouble(2))
        }
      // java.lang.Double.compare, not </>: Spark's struct ordering is a
      // TOTAL order (NaN greatest, -0.0 < 0.0), and the composed
      // array_min form this expression must mirror follows it — a NaN
      // metric (Inf/NaN embedding values) loses to any real metric.
      val cmp = if (found) java.lang.Double.compare(m, bestM) else -1
      if (cmp < 0 || (cmp == 0 && cid < bestId)) {
        found = true; bestM = m; bestId = cid
      }
      c += 1
    }
    if (found) java.lang.Long.valueOf(bestId) else null
  }

  /** `cent_argmin_l2(vecCol, csCol)` over named columns. */
  def argminL2(vecCol: String, csCol: String): Column = {
    expr(s"cent_argmin_l2(${Portable.quoted(vecCol)}, ${Portable.quoted(csCol)})")
  }

  /** `cent_argmin_cos(vecCol, csCol)` over named columns. */
  def argminCos(vecCol: String, csCol: String): Column = {
    expr(s"cent_argmin_cos(${Portable.quoted(vecCol)}, ${Portable.quoted(csCol)})")
  }
}
