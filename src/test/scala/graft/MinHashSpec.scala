package graft

import graft.functions.MinHash60
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Properties}
import org.scalatest.funsuite.AnyFunSuite

/** The fused expression must equal the naive spec exactly: 60-bit
  * md5-prefix base hash (the same definition Portable.md5Hash60 and
  * the DuckDB oracles use), then min of each affine permutation.
  */
object MinHashProps extends Properties("minhash60") {

  private def reference(shingles: Seq[String]): Seq[Long] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    MinHash60.AB.map { case (a, b) =>
      shingles.map { s =>
        val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(15)
        val base = java.lang.Long.parseLong(hex, 16) % MinHash60.P
        (a * base + b) % MinHash60.P
      }.foldLeft(Long.MaxValue)(math.min)
    }
  }

  private val genShingles: Gen[List[String]] =
    Gen.listOf(Gen.listOf(Gen.frequency(
      8 -> Gen.alphaNumChar, 1 -> Gen.const(' '), 1 -> Gen.oneOf('é', '中'),
    )).map(_.mkString))

  property("fused compute == per-hash naive reference") =
    Prop.forAll(genShingles) { shingles =>
      val arr = new GenericArrayData(
        shingles.map(s => UTF8String.fromString(s)).toArray[Any])
      val fused = MinHash60.compute(arr).toLongArray.toSeq
      fused == reference(shingles)
    }

  property("null elements are skipped (set semantics), not NPEs") =
    Prop.forAll(genShingles) { shingles =>
      val withNulls = new GenericArrayData(
        (null +: shingles.flatMap(s => Seq(UTF8String.fromString(s), null))).toArray[Any])
      MinHash60.compute(withNulls).toLongArray.toSeq == reference(shingles)
    }
}

/** Codegen-path integration: the expression inside a real plan equals
  * the composed transform/array_min formulation column-for-column.
  */
class MinHashSpec extends AnyFunSuite {

  test("expression equals composed higher-order-function form on sf0.001 docs") {
    val spark = TestSpark.spark
    val toks = split(lower(col("text")), " ", -1)
    val shingles = array_distinct(transform(
      sequence(lit(0), size(col("t")) - 3),
      i => concat_ws(" ",
        element_at(col("t"), i + 1), element_at(col("t"), i + 2), element_at(col("t"), i + 3))))
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), toks.as("t"))
      .filter(size(col("t")) >= 3)
      .select(col("doc_id"), shingles.as("shingles"))
    val composed = MinHash60.AB.map { case (a, b) =>
      array_min(transform(
        transform(col("shingles"),
          s => pmod(conv(substring(md5(s), 1, 15), 16, 10).cast("long"), lit(MinHash60.P))),
        x => (lit(a) * x + lit(b)) % lit(MinHash60.P)))
    }
    val diff = docs.select(
        MinHash60.minhash60("shingles").as("fused"),
        array(composed: _*).as("composed"))
      .filter(col("fused") =!= col("composed"))
      .count()
    assert(diff == 0)
  }
}
