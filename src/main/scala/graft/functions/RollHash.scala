package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** True O(1)-per-char rolling polynomial hash over every char-k-gram
  * of a string — the Rabin-fingerprint construction the md5-per-gram
  * stand-in (Portable.md5Hash60 over substr) approximated at
  * O(k · md5) per char. `rollhash60(text, k)` returns one BIGINT per
  * gram start (n − k + 1 values) in a single forward pass: add the
  * incoming code point, drop the outgoing one via a precomputed
  * B^(k−1) mod M, everything in exact 64-bit modular arithmetic.
  *
  * Hash definition (shared verbatim with the DuckDB oracle, which
  * evaluates the same polynomial directly per gram — k terms is fine
  * for the spec side):
  *
  *   h(i) = ( Σ_{j=0}^{k−1} codepoint(text[i+j]) · B^(k−1−j) ) mod M
  *
  * with B = 257 (> any byte, odd, coprime to M) and M = 2^31 − 1
  * (Mersenne prime, the MinHash60 modulus): residues fit in 31 bits,
  * every intermediate product in 62, so the rolling update needs no
  * BigInt and no overflow branch. Canonical residues in [0, M), so
  * the rolling form and the oracle's direct-polynomial form are equal
  * by construction, not by floating luck.
  *
  * Codegen: one static call into [[RollHash.compute]], same shape as
  * [[MinHash60]] — participates in whole-stage codegen.
  */
case class RollingGramHashes(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, IntegerType) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"rollhash60 requires (string, int), got $other")
    }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "rollhash60"

  override def nullSafeEval(text: Any, k: Any): Any =
    RollHash.compute(text.asInstanceOf[UTF8String], k.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (t, k) => s"graft.functions.RollHash.compute($t, $k)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): RollingGramHashes =
    copy(left = newLeft, right = newRight)
}

object RollHash {

  /** Polynomial base: > any code unit's low mixing needs, odd, and
    * 257 · (M − 1) + cp < 2^40 so the update never overflows. */
  val B = 257L

  /** Mersenne prime 2^31 − 1 (the MinHash60 modulus). */
  val M = 2147483647L

  /** Raw (un-modded) powers B^0..B^4 — safe in the oracle's direct
    * 5-term polynomial: B^4 · maxCodepoint < 2^53. Larger k derives
    * powers mod M on the fly. */
  private def powMod(e: Int): Long = {
    var r = 1L
    var i = 0
    while (i < e) { r = (r * B) % M; i += 1 }
    r
  }

  /** One forward pass, O(1) amortized per char: incoming code point
    * multiplied in, outgoing one subtracted via B^(k−1) mod M.
    * Strings shorter than k (or k < 1) yield an empty array — the
    * function is registered session-wide, so arbitrary SQL may call
    * it on anything. */
  def compute(text: UTF8String, k: Int): ArrayData = {
    val s = text.toString
    val n = s.codePointCount(0, s.length)
    if (k < 1 || n < k) return new GenericArrayData(Array.empty[Long])
    val cps = new Array[Int](n)
    var ci = 0
    var off = 0
    while (off < s.length) {
      val cp = s.codePointAt(off)
      cps(ci) = cp
      ci += 1
      off += Character.charCount(cp)
    }
    val bk1 = powMod(k - 1)
    val out = new Array[Long](n - k + 1)
    var h = 0L
    var i = 0
    while (i < k) { h = (h * B + cps(i)) % M; i += 1 }
    out(0) = h
    while (i < n) {
      var t = (h - (cps(i - k) * bk1) % M) % M
      if (t < 0) t += M
      h = (t * B + cps(i)) % M
      out(i - k + 1) = h
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Column-API entry point: `rollhash60(textCol, k)`. */
  def rollhash60(textCol: String, k: Int): Column = {
    expr(s"rollhash60(${Portable.quoted(textCol)}, $k)")
  }

  /** DuckDB twin: the same gram hashes as a list expression, computed
    * as the direct k-term polynomial per position (exact in BIGINT:
    * B^(k−1) mod M times a code point stays under 2^52). `textExpr`
    * must be a bare column reference (it is spliced k+1 times). */
  def rollHashSql(textExpr: String, k: Int): String = {
    val terms = (0 until k).map { j =>
      s"ascii(substr($textExpr, i + ${j + 1}, 1)) * CAST(${powMod(k - 1 - j)} AS BIGINT)"
    }.mkString(" + ")
    s"list_transform(range(length($textExpr) - ${k - 1}), i -> ($terms) % $M)"
  }

  /** JVM twin of one gram's hash for driver-side literals and specs —
    * byte-identical to [[compute]]'s entries. */
  def gramHash(gram: String): Long = {
    var h = 0L
    var off = 0
    while (off < gram.length) {
      val cp = gram.codePointAt(off)
      h = (h * B + cp) % M
      off += Character.charCount(cp)
    }
    h
  }
}
