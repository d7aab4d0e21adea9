package graft

import graft.functions.SimHash60
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Properties}
import org.scalatest.funsuite.AnyFunSuite

/** The fused simhash60 expression must equal a naive spec: per token
  * the 60-bit md5-prefix hash, per bit a ±1 balance, sign → bit.
  */
object SimHashProps extends Properties("simhash60") {

  private def reference(tokens: Seq[String]): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hashes = tokens.map { t =>
      val hex = md.digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(15)
      java.lang.Long.parseLong(hex, 16)
    }
    (0 until 60).map { b =>
      val bal = hashes.map(h => if (((h >> b) & 1L) == 1L) 1 else -1).sum
      if (bal > 0) 1L << b else 0L
    }.sum
  }

  private val genTokens: Gen[List[String]] =
    Gen.listOf(Gen.listOf(Gen.frequency(
      8 -> Gen.alphaNumChar, 1 -> Gen.const('-'), 1 -> Gen.oneOf('ü', '中'),
    )).map(_.mkString))

  property("fused compute == naive reference") =
    Prop.forAll(genTokens) { tokens =>
      val arr = new GenericArrayData(
        tokens.map(t => UTF8String.fromString(t)).toArray[Any])
      SimHash60.compute(arr) == reference(tokens)
    }

  property("null elements contribute no vote, not NPEs") =
    Prop.forAll(genTokens) { tokens =>
      val withNulls = new GenericArrayData(
        (null +: tokens.flatMap(t => Seq(UTF8String.fromString(t), null))).toArray[Any])
      SimHash60.compute(withNulls) == reference(tokens)
    }
}

/** Codegen-path integration: the per-row expression equals the
  * explode + 60-sum-aggregate formulation it replaced in
  * q_dedup_simhash.
  */
class SimHashSpec extends AnyFunSuite {

  test("expression equals the aggregate formulation on sf0.001 docs") {
    val spark = TestSpark.spark
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")

    val fused = docs
      .select(col("doc_id"), array_distinct(split(lower(col("text")), " ", -1)).as("dt"))
      .select(col("doc_id"), SimHash60.simhash60("dt").as("simhash"))

    val aggCols = (0 until 60).map { b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(lit(1L)) === 1L, 1L).otherwise(-1L)).as(s"s$b")
    }
    val assemble = (0 until 60).map { b =>
      when(col(s"s$b") > 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
    val composed = docs
      .select(col("doc_id"), explode(split(lower(col("text")), " ", -1)).as("w"))
      .distinct()
      .select(col("doc_id"),
        conv(substring(md5(col("w")), 1, 15), 16, 10).cast("long").as("h"))
      .groupBy("doc_id").agg(aggCols.head, aggCols.tail: _*)
      .select(col("doc_id"), assemble.as("simhash2"))

    val diff = fused.join(composed, Seq("doc_id"))
      .filter(col("simhash") =!= col("simhash2")).count()
    assert(diff == 0)
  }
}
