package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Cosine similarity of two float vectors as ONE native codegen'd
  * expression: dot product and both squared norms accumulate in a
  * single pass over the arrays, where the composed form runs three
  * separate `aggregate(zip_with/transform(...))` higher-order folds —
  * each of which allocates an interim array and falls out of
  * whole-stage codegen.
  *
  * Bit-equivalence contract (what keeps every ANN oracle unchanged):
  * each accumulator folds i = 0..n-1 sequentially with the same IEEE
  * ops as the composed Spark form AND DuckDB's
  * `list_sum(list_transform(...))`; the result is
  * `dot / (sqrt(na) * sqrt(nb))` — identical association. Null
  * semantics mirror the composed form exactly: any null element, a
  * length mismatch (zip_with pads with null), or a zero denominator
  * (Spark's Divide yields NULL on /0) → NULL.
  */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression {

  private def ok(dt: DataType): Boolean = dt match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cosine_sim requires (array<float>, array<float>), got " +
        s"(${left.dataType}, ${right.dataType})")

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "cosine_sim"

  override def nullSafeEval(a: Any, b: Any): Any =
    CosSim.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  // Boxed temp via ctx.freshName, NOT derived from ev.value: in the
  // GenerateUnsafeProjection path ev.value need not be a plain
  // identifier, and a derived name fails Janino compilation, silently
  // dropping the expression to interpreted projection (see CentAssign).
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val r = ctx.freshName("cosSim")
      s"""
         |java.lang.Double $r = graft.functions.CosSim.compute($a, $b);
         |if ($r == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $r.doubleValue();
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSim =
    copy(left = newLeft, right = newRight)
}

object CosSim {

  /** Returns null for length mismatch, null elements, or zero norms —
    * see [[CosineSim]]'s scaladoc for why each case must be null. */
  def compute(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (b.numElements() != n) return null
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) null else java.lang.Double.valueOf(dot / denom)
  }

  /** `cosine_sim(aCol, bCol)` over named columns of the input frame. */
  def cosineSim(aCol: String, bCol: String): Column = {
    expr(s"cosine_sim(${Portable.quoted(aCol)}, ${Portable.quoted(bCol)})")
  }
}
