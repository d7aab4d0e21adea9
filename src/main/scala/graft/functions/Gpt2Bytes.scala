package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** GPT-2's bytes-to-unicode pre-map as a native Catalyst expression:
  * re-express a string's UTF-8 BYTES as a string of printable
  * single-char symbols, one per byte (Radford et al. 2019's
  * byte-level BPE front end — the published construction from the
  * GPT-2 encoder: bytes that are already printable in Latin-1
  * (33–126, 161–172, 174–255) keep their code point; the other 68
  * bytes map to 256+n in ascending byte order). The map is a
  * BIJECTION byte → char, so downstream byte-level BPE runs on plain
  * strings with the engine's existing char-split machinery and NO
  * charset assumptions: any UTF-8 input — any language, emoji,
  * binary-ish noise — becomes a sequence over a fixed 256-symbol
  * alphabet. The famous artifacts fall out as identities pinned in
  * BpeBytesSpec: space → 'Ġ' (U+0120 = 256 + 32) and "é" → "Ã©"
  * (its UTF-8 bytes C3 A9 are both printable already).
  */
case class BytesToUnicode(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"bytes_to_unicode requires string, got $other")
  }
  override def dataType: DataType = StringType
  override def prettyName: String = "bytes_to_unicode"

  override def nullSafeEval(input: Any): Any =
    Gpt2Bytes.map(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Gpt2Bytes.map($c)")

  override protected def withNewChildInternal(newChild: Expression): BytesToUnicode =
    copy(child = newChild)
}

object Gpt2Bytes {

  /** byte value → mapped char (all mapped code points ≤ 323, so one
    * Java char each). Printable Latin-1 bytes keep their code point;
    * the rest take 256+n in ascending byte order — 0..32 → 256..288,
    * 127..160 → 289..322, 173 → 323. */
  val Table: Array[Char] = {
    val printable =
      ((33 to 126) ++ (161 to 172) ++ (174 to 255)).toSet
    val t = new Array[Char](256)
    var n = 0
    var b = 0
    while (b < 256) {
      if (printable(b)) t(b) = b.toChar
      else { t(b) = (256 + n).toChar; n += 1 }
      b += 1
    }
    t
  }

  def map(s: UTF8String): UTF8String = {
    val bytes = s.getBytes
    val sb = new java.lang.StringBuilder(bytes.length)
    var i = 0
    while (i < bytes.length) {
      sb.append(Table(bytes(i) & 0xff))
      i += 1
    }
    UTF8String.fromString(sb.toString)
  }
}
