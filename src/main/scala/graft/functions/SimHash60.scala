package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** 60-bit SimHash of a token array as a native Catalyst expression —
  * the per-row fusion of what the composed form spelled as an explode
  * + 60 sum aggregates + bit assembly (one shuffle keyed by doc). With
  * the signature computed per row, the shuffle disappears from the
  * plan entirely; values are identical (sum of ±1 per token, sign per
  * bit), so the DuckDB oracle is unchanged.
  *
  * Input is hashed as given: pass the DISTINCT token set for
  * set-semantics SimHash (what q_dedup_simhash does) or raw tokens for
  * frequency weighting.
  */
case class SimHashSignature(child: Expression)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"simhash60 requires array<string>, got $other")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash60"

  override def nullSafeEval(input: Any): Any =
    SimHash60.compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SimHash60.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): SimHashSignature =
    copy(child = newChild)
}

object SimHash60 {

  val Bits = 60

  /** Per token: 60-bit md5-prefix hash (same definition as
    * Portable.md5Hash60 / MinHash60); each bit position accumulates
    * +1/-1 by that bit; the signature sets bits with positive balance.
    * Null elements are skipped (null contributes no vote) — the
    * function is registered session-wide, so arbitrary SQL may pass
    * arrays with containsNull=true.
    */
  def compute(arr: ArrayData): Long = {
    val bal = new Array[Int](Bits)
    val md = java.security.MessageDigest.getInstance("MD5")
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val digest = md.digest(arr.getUTF8String(i).getBytes)
        var h = 0L
        var j = 0
        while (j < 8) { h = (h << 8) | (digest(j) & 0xffL); j += 1 }
        h = h >>> 4
        var b = 0
        while (b < Bits) {
          if (((h >>> b) & 1L) == 1L) bal(b) += 1 else bal(b) -= 1
          b += 1
        }
        md.reset()
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < Bits) {
      if (bal(b) > 0) sig |= (1L << b)
      b += 1
    }
    sig
  }

  def simhash60(tokensCol: String): Column = {
    expr(s"simhash60(${Portable.quoted(tokensCol)})")
  }
}
