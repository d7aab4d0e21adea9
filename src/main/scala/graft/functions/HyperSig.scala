package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, LongType}

/** Random-hyperplane signature of an embedding as a native Catalyst
  * expression: all 16 plane projections in one pass over the 64 floats
  * (the composed form runs 16 separate aggregate(zip_with(...)) folds,
  * i.e. 16 interim arrays and 16 traversals per row).
  *
  * Bit j of the result = (dot(e, W(j)) > 0). The fold order per plane
  * is i = 0..63, the same sequential order as the composed Spark
  * `aggregate` AND DuckDB's `list_sum(list_transform(...))`, and the
  * W components are exact k/1000 rationals — so the three computations
  * are bit-identical and the oracles are unchanged.
  */
case class HyperplaneSignature(child: Expression,
    planes: Int = HyperSig.NumPlanes)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) if planes >= 1 && planes <= HyperSig.MaxPlanes =>
      TypeCheckResult.TypeCheckSuccess
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckFailure(
      s"hypersig plane count must be in [1, ${HyperSig.MaxPlanes}], got $planes")
    case other => TypeCheckResult.TypeCheckFailure(
      s"hypersig requires array<float>, got $other")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "hypersig"

  override def nullSafeEval(input: Any): Any =
    HyperSig.compute(input.asInstanceOf[ArrayData], planes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HyperSig.compute($c, $planes)")

  override protected def withNewChildInternal(newChild: Expression): HyperplaneSignature =
    copy(child = newChild)
}

object HyperSig {

  val Dim = 64
  val NumPlanes = 16

  /** A LongType signature holds up to 64 plane bits — the widest
    * geometry the conf-sized [[graft.plans.CosineBandJoin]] can ask
    * for. Planes beyond [[NumPlanes]] extend the SAME md5 family, so
    * the first 16 rows (and every existing 16-bit signature, band
    * value and oracle) are bit-for-bit unchanged. */
  val MaxPlanes = 64

  /** Fixed pseudo-random hyperplanes: component (j, i) derived from
    * md5("j:i"), quantized to k/1000 so the decimal literal embedded
    * in the oracle SQL round-trips to the identical double.
    */
  val W: IndexedSeq[IndexedSeq[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    IndexedSeq.tabulate(MaxPlanes, Dim) { (j, i) =>
      val hex = md.digest(s"$j:$i".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15)
      val h = java.lang.Long.parseLong(hex, 16)
      ((h % 2001L) - 1000L) / 1000.0
    }
  }

  private val Wflat: Array[Double] = W.flatten.toArray

  /** One pass per plane over the embedding, sequential i = 0..63. */
  def compute(arr: ArrayData): Long = compute(arr, NumPlanes)

  def compute(arr: ArrayData, planes: Int): Long = {
    if (arr.numElements() != Dim)
      throw new IllegalArgumentException(
        s"hypersig expects a $Dim-dim embedding, got ${arr.numElements()} elements")
    var sig = 0L
    var j = 0
    while (j < planes) {
      var dot = 0.0
      val off = j * Dim
      var i = 0
      while (i < Dim) {
        dot += arr.getFloat(i).toDouble * Wflat(off + i)
        i += 1
      }
      if (dot > 0) sig |= (1L << j)
      j += 1
    }
    sig
  }

  def hypersig(embeddingCol: String): Column = {
    expr(s"hypersig(${Portable.quoted(embeddingCol)})")
  }
}
