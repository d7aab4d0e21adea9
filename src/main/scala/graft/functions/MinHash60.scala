package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** Fused MinHash signature as a native Catalyst expression.
  *
  * `minhash60(shingles)` returns the 16-element minhash vector in ONE
  * pass over the shingle array: per element, md5 → 60-bit → mod-P base
  * hash, then all 16 affine permutations updated in a local array. The
  * pure-functions formulation (`transform(md5…)` + 16 ×
  * `array_min(transform(affine))`) traverses the array 17 times and
  * materializes 17 intermediate arrays per row; this expression
  * allocates one. Values are IDENTICAL to the composed form — the
  * DuckDB oracle for q_dedup_near is unchanged and still passes.
  *
  * Codegen: `doGenCode` emits a single static call into
  * [[MinHash60.compute]], so the expression participates in
  * whole-stage codegen (no virtual `eval` dispatch per row); the loop
  * lives in compiled Scala either way, which is where the md5 work
  * dominates.
  */
case class MinHashSignature(child: Expression)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"minhash60 requires array<string>, got $other")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash60"

  override def nullSafeEval(input: Any): Any =
    MinHash60.compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.MinHash60.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): MinHashSignature =
    copy(child = newChild)
}

object MinHash60 {

  /** Mersenne prime 2^31-1: keeps a*x+b inside 63 bits. */
  val P = 2147483647L

  val NumHashes = 16

  /** Independent fixed random (a, b) draws — single source of truth
    * for the Spark plan AND the literals spliced into the DuckDB
    * oracle SQL (see DedupOps). Must not share structure like a_i=c*i,
    * which collapses every permutation onto the same argmin shingle.
    */
  val AB: IndexedSeq[(Long, Long)] = IndexedSeq(
    (1373158607L, 239081663L),
    (53710185L, 1592467581L),
    (590620972L, 525901256L),
    (479341424L, 299655412L),
    (1581559893L, 220106707L),
    (1453201079L, 1590571865L),
    (1915941033L, 1171165722L),
    (186699714L, 1268073012L),
    (906070221L, 68252793L),
    (63989048L, 201209005L),
    (469521478L, 499635468L),
    (1085242217L, 1292825378L),
    (56985562L, 1205264595L),
    (427000597L, 1537640408L),
    (1395616197L, 1506083910L),
    (1170252924L, 900911954L),
  )

  private val A: Array[Long] = AB.map(_._1).toArray
  private val B: Array[Long] = AB.map(_._2).toArray

  /** One pass: per shingle, 60-bit md5 base hash mod P, then all 16
    * permutation minima updated in place. Called from both `eval` and
    * generated code. Empty input yields Long.MaxValue entries (min
    * over the empty set); callers filter degenerate docs anyway.
    * Null elements are skipped (set semantics: null ∉ the shingle
    * set) — the function is registered session-wide, so arbitrary SQL
    * may pass arrays with containsNull=true.
    */
  def compute(arr: ArrayData): ArrayData = {
    val mins = Array.fill(NumHashes)(Long.MaxValue)
    val md = java.security.MessageDigest.getInstance("MD5")
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val digest = md.digest(arr.getUTF8String(i).getBytes)
        // First 15 hex chars of md5 = top 60 bits of the first 8 bytes —
        // identical to conv(substr(md5(s),1,15),16,10) and DuckDB's
        // CAST('0x'||substr(md5(s),1,15) AS BIGINT).
        var h = 0L
        var j = 0
        while (j < 8) { h = (h << 8) | (digest(j) & 0xffL); j += 1 }
        val base = (h >>> 4) % P
        var k = 0
        while (k < NumHashes) {
          val v = (A(k) * base + B(k)) % P
          if (v < mins(k)) mins(k) = v
          k += 1
        }
        md.reset()
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  /** Column-API entry point: resolves `minhash60` through the parser,
    * which keeps this library off Spark's private[sql]
    * Column/Expression bridge. */
  def minhash60(shinglesCol: String): Column = {
    expr(s"minhash60(${Portable.quoted(shinglesCol)})")
  }
}
