package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Per-character histogram of a string over a fixed ASCII alphabet, in
  * one pass over its UTF-8 bytes: `char_counts(text, alphabet)` is an
  * `array<bigint>` holding, in alphabet order, the occurrences of each
  * alphabet character, then one last "other" bucket of every remaining
  * code point. Element i equals
  * `length(text) - length(replace(text, alphabet[i], ''))` and the last
  * equals `length(text)` minus the rest, counted in code points as
  * `length` counts them. It replaces that per-character
  * length-minus-replace formula, which rewrites the whole string once
  * per alphabet character.
  *
  * The scan is exact because a UTF-8 byte below 0x80 is always a whole
  * code point, never part of a multi-byte one. The walk steps over a
  * multi-byte sequence by its lead byte, the same step
  * `UTF8String.numChars` takes, so the bucket total is `length(text)`.
  *
  * `alphabet` must be a foldable, non-null, ASCII-only string with no
  * repeated character; the byte-to-bucket table is built from it once
  * per expression. A null `text` gives null.
  *
  * Codegen: one static call into [[CharCounts.count]] with the table as
  * a reference object.
  */
case class CharCounts(left: Expression, right: Expression) extends BinaryExpression {

  override def prettyName: String = "char_counts"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = left.nullable

  override def checkInputDataTypes(): TypeCheckResult = {
    def fail(msg: String) = TypeCheckResult.TypeCheckFailure(s"char_counts $msg")
    if (left.dataType != StringType)
      fail(s"requires a string text, got ${left.dataType}")
    else if (right.dataType != StringType || !right.foldable)
      fail("requires a constant string alphabet")
    else right.eval() match {
      case null => fail("requires a non-null alphabet")
      case a: UTF8String =>
        val cs = a.toString
        if (cs.exists(_ >= 0x80)) fail(s"alphabet must be ASCII, got '$cs'")
        else if (cs.distinct.length != cs.length)
          fail(s"alphabet must not repeat a character, got '$cs'")
        else TypeCheckResult.TypeCheckSuccess
    }
  }

  @transient private lazy val alphabet: String = right.eval().toString
  @transient private lazy val slots: Array[Int] = CharCounts.slots(alphabet)

  override def eval(input: InternalRow): Any = left.eval(input) match {
    case null => null
    case s => CharCounts.count(s.asInstanceOf[UTF8String], slots, alphabet.length)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val table = ctx.addReferenceObj("charSlots", slots, "int[]")
    defineCodeGen(ctx, ev, (s, _) =>
      s"graft.functions.CharCounts.count($s, $table, ${alphabet.length})")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CharCounts =
    copy(left = newLeft, right = newRight)
}

object CharCounts {

  /** The byte-to-bucket table: entry b is the alphabet index of ASCII
    * byte b, or -1 for a byte outside the alphabet. */
  def slots(alphabet: String): Array[Int] = {
    val t = Array.fill(128)(-1)
    alphabet.zipWithIndex.foreach { case (c, i) => t(c.toInt) = i }
    t
  }

  /** The histogram of `s`; `other` is the alphabet size, which is also
    * the index of the "other" bucket. */
  def count(s: UTF8String, slots: Array[Int], other: Int): ArrayData = {
    val counts = new Array[Long](other + 1)
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val n = s.numBytes
    var chars = 0L
    var inAlphabet = 0L
    var i = 0
    while (i < n) {
      val b = Platform.getByte(base, off + i)
      if (b >= 0) {
        val k = slots(b)
        if (k >= 0) {
          counts(k) += 1
          inAlphabet += 1
        }
        i += 1
      } else i += UTF8String.numBytesForFirstByte(b)
      chars += 1
    }
    counts(other) = chars - inAlphabet
    UnsafeArrayData.fromPrimitiveArray(counts)
  }
}
