package graft

import graft.functions.UnicodeNorm
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** Pins nfc_normalize: canonical composition, idempotence, the ASCII
  * fast path, ordering-canonicalization of multiple combining marks,
  * and codegen/interpreted equality through a DataFrame. All
  * non-ASCII is spelled in \\u escapes so decomposed vs precomposed
  * inputs are unambiguous in source.
  */
class UnicodeNormSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private val Composed = "é" // é precomposed
  private val Decomposed = "é" // e + combining acute

  private def nfc(s: String): String =
    UnicodeNorm.nfc(UTF8String.fromString(s)).toString

  test("composes, idempotent, ASCII passthrough") {
    assert(Decomposed.length == 2 && Composed.length == 1)
    assert(nfc(Decomposed) == Composed)
    assert(nfc(s"caf$Decomposed") == s"caf$Composed")
    assert(nfc(Composed) == Composed, "already-composed is fixed")
    assert(nfc("plain ascii") == "plain ascii")
    assert(nfc("") == "")
    // Combining-mark reordering: cedilla (ccc 202) sorts before acute
    // (ccc 230) whatever the input order — both spellings of
    // c+cedilla+acute normalize to the same composed form U+1E09.
    assert(nfc("ḉ") == nfc("ḉ"))
    assert(nfc("ḉ") == "ḉ")
  }

  test("codegen and interpreted paths agree; nulls propagate") {
    import spark.implicits._
    val df = Seq(Decomposed, "x", null).toDF("t")
    val got = df.selectExpr("nfc_normalize(t) AS v").collect()
    assert(got(0).getString(0) == Composed)
    assert(got(1).getString(0) == "x")
    assert(got(2).isNullAt(0))
  }
}
