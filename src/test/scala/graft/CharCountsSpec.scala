package graft

import graft.functions.CharCounts
import graft.operators.TextOps.Alphabet
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import org.scalatest.funsuite.AnyFunSuite

/** `char_counts(text, alphabet)` against the formula it replaces:
  * bucket i is `length(text) - length(regexp_replace(text, quote(c_i), ""))`
  * and the last is `length(text)` minus the rest, i.e. code points, not
  * bytes. Checked on random strings that mix alphabet characters,
  * uppercase, 2-byte, 3-byte and 4-byte (surrogate-pair) characters,
  * through codegen (a DataFrame projection) and the interpreted `eval`.
  */
class CharCountsSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private val alphabet = Alphabet.mkString
  private val pool: Vector[String] =
    (Alphabet.map(_.toString) ++ Seq("A", "Z", "Q", "é", "日", "本", "😀")).toVector

  private def randomText(rnd: scala.util.Random): String =
    Seq.fill(rnd.nextInt(40))(pool(rnd.nextInt(pool.size))).mkString

  private def interpreted(text: String): Seq[Long] =
    CharCounts(Literal(text), Literal(alphabet)).eval(null)
      .asInstanceOf[ArrayData].toLongArray.toSeq

  test("equals the length-minus-replace formula on 500 random strings") {
    import spark.implicits._
    val rnd = new scala.util.Random(20261017)
    val texts = Seq("", "é", "😀", "AbC 1.") ++ Seq.fill(500)(randomText(rnd))
    val old = Alphabet.map(c =>
      (length(col("t")) - length(regexp_replace(col("t"),
        java.util.regex.Pattern.quote(c.toString), ""))).cast("long"))
    val rows = texts.toDF("t").select(
      col("t"),
      call_function("char_counts", col("t"), lit(alphabet)).as("got"),
      array(old: _*).as("old"),
      length(col("t")).cast("long").as("n")).collect()
    assert(rows.length == texts.size)
    rows.foreach { r =>
      val t = r.getString(0)
      val old = r.getSeq[Long](2)
      val want = old :+ (r.getLong(3) - old.sum)
      assert(r.getSeq[Long](1) == want, s"codegen counts for '$t'")
      assert(interpreted(t) == want, s"interpreted counts for '$t'")
    }
    // The corpus must reach the "other" bucket with multi-byte code points.
    assert(rows.exists(r => r.getString(0).getBytes("UTF-8").length > r.getLong(3)))
  }

  test("null text gives null on both paths") {
    import spark.implicits._
    val got = Seq("ab", null).toDF("t")
      .select(call_function("char_counts", col("t"), lit("ab"))).collect()
    assert(got(0).getSeq[Long](0) == Seq(1L, 1L, 0L))
    assert(got(1).isNullAt(0))
    assert(CharCounts(Literal(null, StringType), Literal("ab")).eval(null) == null)
  }

  test("a bad alphabet or argument list raises an error naming char_counts") {
    import spark.implicits._
    Seq("ab").toDF("t").createOrReplaceTempView("char_counts_t")
    val bad = Seq(
      "char_counts(t, t)" -> "constant string alphabet",
      "char_counts(t, CAST(NULL AS STRING))" -> "non-null alphabet",
      "char_counts(t, 'aé')" -> "alphabet must be ASCII",
      "char_counts(t, 'aba')" -> "must not repeat",
      "char_counts(1, 'a')" -> "string text",
      "char_counts(t)" -> "exactly 2 argument",
      "char_counts(t, 'a', 'b')" -> "exactly 2 argument")
    bad.foreach { case (call, why) =>
      val e = intercept[Exception](
        spark.sql(s"SELECT $call FROM char_counts_t").collect())
      assert(e.getMessage.contains("char_counts"), s"$call: ${e.getMessage}")
      assert(e.getMessage.contains(why), s"$call: ${e.getMessage}")
    }
  }
}
