package graft

import graft.functions.HyperSig
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Properties}
import org.scalatest.funsuite.AnyFunSuite

/** The fused hypersig expression must equal a naive spec: per plane a
  * sequential double fold over the 64 floats, bit = dot > 0.
  */
object HyperSigProps extends Properties("hypersig") {

  private def reference(e: Array[Float]): Long = {
    var sig = 0L
    for (j <- 0 until HyperSig.NumPlanes) {
      var dot = 0.0
      for (i <- 0 until HyperSig.Dim) dot += e(i).toDouble * HyperSig.W(j)(i)
      if (dot > 0) sig |= (1L << j)
    }
    sig
  }

  private val genVec: Gen[Array[Float]] =
    Gen.containerOfN[Array, Float](HyperSig.Dim,
      Gen.chooseNum(-1.0f, 1.0f))

  property("fused compute == naive reference") =
    Prop.forAll(genVec) { v =>
      val arr = new GenericArrayData(v.map(Float.box).toArray[Any])
      HyperSig.compute(arr) == reference(v)
    }
}

/** Codegen-path integration: band values sliced from the fused
  * signature equal the composed 16× aggregate(zip_with) formulation.
  */
class HyperSigSpec extends AnyFunSuite {

  test("fused bands equal composed per-plane dot signs on sf0.001 embeddings") {
    val spark = TestSpark.spark
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(col("vec_id"), col("embedding"))

    def dotConst(w: IndexedSeq[Double]) =
      aggregate(
        zip_with(col("embedding"), array(w.map(lit): _*), (x, wi) => x.cast("double") * wi),
        lit(0.0), (acc, x) => acc + x)
    val composedSig = (0 until HyperSig.NumPlanes).map { j =>
      when(dotConst(HyperSig.W(j)) > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)

    val diff = e.select(
        HyperSig.hypersig("embedding").as("fused"),
        composedSig.as("composed"))
      .filter(col("fused") =!= col("composed"))
      .count()
    assert(diff == 0)
  }
}
