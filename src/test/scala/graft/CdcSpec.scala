package graft

import graft.operators.TextOps
import org.scalatest.funsuite.AnyFunSuite

/** Content-defined chunking's defining property, pinned with a
  * planted edit: boundaries depend only on local content, so a prefix
  * insertion re-chunks at most the bytes before the first surviving
  * boundary — every later chunk is byte-identical. A fixed-stride
  * chunker re-keys the entire document under the same edit.
  */
class CdcSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def chunksOf(texts: (Long, String)*): Map[Long, Seq[String]] = {
    import spark.implicits._
    TextOps.cdcChunks(texts.toSeq.toDF("doc_id", "text"))
      .orderBy("doc_id", "chunk_ord").collect()
      .groupBy(_.getLong(0))
      .map { case (id, rs) => id -> rs.sortBy(_.getInt(1)).map(_.getString(2)).toSeq }
  }

  /** Deterministic pseudo-text (no RNG in tests is a repo-wide rule —
    * a fixed LCG keeps this reproducible everywhere). */
  private def lcgText(n: Int): String = {
    val sb = new StringBuilder
    var x = 123456789L
    for (_ <- 0 until n) {
      x = (x * 6364136223846793005L + 1442695040888963407L)
      sb += ('a' + Math.floorMod(x >>> 33, 26L).toInt).toChar
    }
    sb.toString
  }

  test("rolling update equals the direct per-gram polynomial, incl. non-BMP text") {
    import graft.functions.RollHash
    import org.apache.spark.sql.functions.{col, expr}
    import spark.implicits._
    // Mixed ASCII / Latin-1 / CJK / astral (surrogate-pair) text: the
    // rolling pass iterates CODE POINTS, matching DuckDB's ascii() and
    // the oracle's substr-by-character indexing.
    val texts = Seq(lcgText(500), "héllo wörld", "日本語のテキスト処理", "a😀b😀c d")
    val got = texts.toDF("text")
      .select(col("text"), expr(s"rollhash60(text, ${TextOps.CdcK})").as("hs"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    for (t <- texts) {
      val cps = t.codePoints.toArray
      val want = (0 to cps.length - TextOps.CdcK).map { i =>
        new String(cps.slice(i, i + TextOps.CdcK), 0, TextOps.CdcK)
      }.map(RollHash.gramHash)
      assert(got(t) == want, s"rolling != direct for '$t'")
    }
  }

  test("chunks reassemble to the document exactly, in order") {
    val base = lcgText(2000)
    val ch = chunksOf(1L -> base)(1L)
    assert(ch.mkString == base)
    assert(ch.size > 10, s"divisor too weak: ${ch.size} chunks")
    // expected chunk length ~= D; sanity-band the mean
    val mean = base.length.toDouble / ch.size
    assert(mean > TextOps.CdcD / 4 && mean < TextOps.CdcD * 4,
      s"mean chunk length $mean vs divisor ${TextOps.CdcD}")
  }

  test("a prefix insertion leaves every post-boundary chunk byte-identical") {
    val base = lcgText(2000)
    val edited = "0INSERTED-PREFIX0" + base
    val m = chunksOf(1L -> base, 2L -> edited)
    val (a, b) = (m(1L), m(2L))
    assert(b.mkString == edited)
    // Common suffix of the two chunk sequences: everything after the
    // first boundary inside the shared text must match.
    val common = a.reverse.zip(b.reverse).takeWhile { case (x, y) => x == y }.length
    assert(common >= a.size - 2,
      s"edit was not localized: only $common of ${a.size} chunks survive")
    assert(common < b.size, "the edited head must differ")
  }

  test("a middle deletion is equally local") {
    val base = lcgText(2000)
    val edited = base.substring(0, 700) + base.substring(900)
    val m = chunksOf(1L -> base, 2L -> edited)
    val (a, b) = (m(1L), m(2L))
    // chunks strictly before the edit AND strictly after it survive
    val prefix = a.zip(b).takeWhile { case (x, y) => x == y }.length
    val suffix = a.reverse.zip(b.reverse).takeWhile { case (x, y) => x == y }.length
    assert(prefix >= 1, "pre-edit chunks must survive")
    assert(suffix >= 1, "post-edit chunks must survive")
    assert(prefix + suffix >= a.size - 8,
      s"deletion not localized: prefix=$prefix suffix=$suffix of ${a.size}")
  }
}
