package graft

import graft.functions.JaroWinkler
import graft.operators.Relational
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** Pins the jaro_winkler expression BIT-FOR-BIT against DuckDB
  * 1.0 goldens (captured from jaro_winkler_similarity during
  * development), covering the boost gate, the transposition path,
  * the DuckDB empty-string quirk, and the codegen/interpreted
  * equality over a DataFrame.
  */
class JaroWinklerSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def jw(a: String, b: String): Double =
    JaroWinkler.compute(UTF8String.fromString(a), UTF8String.fromString(b))

  test("DuckDB goldens bit-for-bit") {
    // Every expected value below is the exact double DuckDB 1.0
    // returns for jaro_winkler_similarity on the same pair.
    assert(jw("martha", "marhta") == 0.9611111111111111) // transposition
    assert(jw("dwayne", "duane") == 0.8400000000000001) // 1-char prefix
    assert(jw("dixon", "dicksonx") == 0.8133333333333332)
    // jaro = 2/3 <= 0.7: the boost must NOT apply despite prefix 4.
    assert(jw("abcdxxxx", "abcdyyyy") == 0.6666666666666666)
    assert(jw("Customer#000000001", "Customer#000000002")
      == 0.9777777777777777)
    assert(jw("Customer#000000001", "Supplier#000000001")
      == 0.8148148148148149)
    // DuckDB quirk: ANY empty side is 0 — including both-empty.
    assert(jw("", "") == 0.0 && jw("", "a") == 0.0 && jw("a", "") == 0.0)
    assert(jw("a", "a") == 1.0 && jw("a", "b") == 0.0)
  }

  test("codegen and interpreted paths agree; nulls propagate") {
    import spark.implicits._
    val df = Seq(("martha", "marhta"), ("dwayne", "duane"),
      ("abcdxxxx", "abcdyyyy"), (null, "x"))
      .toDF("a", "b")
    val got = df.selectExpr("jaro_winkler(a, b) AS v").collect()
    assert(got(0).getDouble(0) == 0.9611111111111111)
    assert(got(1).getDouble(0) == 0.8400000000000001)
    assert(got(2).getDouble(0) == 0.6666666666666666)
    assert(got(3).isNullAt(0))
  }

  test("snmLinkage bands a planted neighborhood exactly") {
    import spark.implicits._
    // One block (shared 15-char prefix), names sort as written:
    // successive pairs at distance 1..3 — 3+3+2+1 = 6 pairs... with
    // 4 names: (1,2),(1,3),(1,4),(2,3),(2,4),(3,4) = 6 candidates.
    val names = Seq("AAAAAAAAAAAAAAA0001", "AAAAAAAAAAAAAAA0002",
      "AAAAAAAAAAAAAAA0003", "AAAAAAAAAAAAAAA0004").toDF("name")
    val rows = Relational.snmLinkage(names).collect()
    assert(rows.map(_.getLong(1)).sum == 6L, "6 candidate pairs")
    // All pairs differ in exactly the last char of 19 -> identical
    // jw for every pair; a single band with an exact mean.
    assert(rows.length == 1, s"one band, got ${rows.length}")
    val expect = jw("AAAAAAAAAAAAAAA0001", "AAAAAAAAAAAAAAA0002")
    assert(rows.head.getLong(0) == math.floor(expect * 20).toLong)
    // identical jw on all pairs -> the banded mean is jw on the 1e-6
    // grid (half-up, the engine's round convention for positives)
    assert(rows.head.getDouble(2) == math.round(expect * 1e6).toDouble / 1e6)
  }
}
