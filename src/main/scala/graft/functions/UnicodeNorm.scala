package graft.functions

import java.text.Normalizer
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Unicode NFC normalization as a codegen'd Catalyst expression —
  * Spark has no normalization function at all, yet canonical
  * composition is the FIRST pass of every serious text-dedup
  * pipeline: 'é' (U+00E9) and 'e'+COMBINING ACUTE (U+0065 U+0301)
  * are byte-different, hash-different, and MinHash/SimHash/exact-dup
  * different while being the SAME text. Normalizing before
  * fingerprinting is what makes q_dedup_exact's hash mean equality
  * of text rather than equality of encoding.
  *
  * Semantics: Unicode canonical composition (NFC) via
  * `java.text.Normalizer` — the same normalization DuckDB's
  * `nfc_normalize` performs (utf8proc); canonical composition is
  * stable across Unicode versions by policy (the composition
  * exclusion table is frozen), so the two implementations agree on
  * canonical sequences. q_unicode_norm's oracle pins the agreement
  * per-document through the gate.
  *
  * Codegen: one static call, whole-stage friendly (the tenth graft
  * expression, CodegenOnlySpec-covered).
  */
case class NfcNormalize(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"nfc_normalize requires string, got $other")
  }
  override def dataType: DataType = StringType
  override def prettyName: String = "nfc_normalize"

  override def nullSafeEval(s: Any): Any =
    UnicodeNorm.nfc(s.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.UnicodeNorm.nfc($c)")

  override protected def withNewChildInternal(newChild: Expression): NfcNormalize =
    copy(child = newChild)
}

object UnicodeNorm {

  def nfc(s: UTF8String): UTF8String = {
    val str = s.toString
    // Fast path: NFC-normalized is the common case (all-ASCII always
    // is); isNormalized avoids the allocation on the hot path.
    if (Normalizer.isNormalized(str, Normalizer.Form.NFC)) s
    else UTF8String.fromString(Normalizer.normalize(str, Normalizer.Form.NFC))
  }
}
