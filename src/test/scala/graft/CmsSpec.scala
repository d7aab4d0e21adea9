package graft

import graft.functions.CountMin
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the count-min sketch family: linearity (byte-identical state
  * at any partitioning — the property that makes the distributed
  * aggregate exact-as-a-state, not just estimate-stable), exactness
  * when no bucket collides, the never-underestimate theorem under
  * FORCED collisions (w = 4), and the merge-agg rollup face.
  */
class CmsSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  test("linear: byte-identical sketch at any partitioning") {
    import spark.implicits._
    val keys = (0L until 5000L).map(i => i % 97)
    def sketchAt(parts: Int): Array[Byte] =
      keys.toDF("k").repartition(parts)
        .agg(expr("cms_sketch_agg(k)")).collect().head.getAs[Array[Byte]](0)
    val one = sketchAt(1)
    assert(java.util.Arrays.equals(one, sketchAt(7)))
    assert(java.util.Arrays.equals(one, sketchAt(32)))
    // 97 keys, w=4096: estimates are exact unless two of the 97 keys
    // share a bucket in all 4 rows (they don't, pinned here).
    (0L until 97L).foreach { k =>
      val truth = keys.count(_ == k)
      assert(CountMin.estimate(one, k) == truth, s"key $k")
    }
  }

  test("forced collisions (w=4): never underestimates, bound holds") {
    import spark.implicits._
    val keys = (0L until 2000L).map(i => i % 40) // 40 keys on 4 buckets
    val sk = keys.toDF("k").agg(expr("cms_sketch_agg(k, 4, 4)"))
      .collect().head.getAs[Array[Byte]](0)
    (0L until 40L).foreach { k =>
      val truth = keys.count(_ == k)
      val est = CountMin.estimate(sk, k)
      assert(est >= truth, s"key $k: est $est < true $truth")
      assert(est <= 2000L, "an estimate can never exceed N")
    }
  }

  test("weighted face: rollup bytes equal the raw-row bytes at any split") {
    import spark.implicits._
    val keys = (0L until 5000L).map(i => i % 97)
    val raw = keys.toDF("k").repartition(1)
      .agg(expr("cms_sketch_agg(k)")).collect().head.getAs[Array[Byte]](0)
    val rollup = keys.groupBy(identity).view
      .mapValues(_.size.toLong).toSeq
    for (parts <- Seq(1, 7, 32)) {
      val viaW = rollup.toDF("k", "w").repartition(parts)
        .agg(expr("cms_sketch_agg(k, 4096, 4, w)"))
        .collect().head.getAs[Array[Byte]](0)
      assert(java.util.Arrays.equals(raw, viaW),
        s"linearity must make the weighted rollup exact at parts=$parts")
    }
  }

  test("cms_merge_agg rollup equals the one-shot sketch exactly") {
    import spark.implicits._
    val df = (0L until 3000L).map(i => (i % 5, i % 211)).toDF("g", "k")
    val partials = df.groupBy("g").agg(expr("cms_sketch_agg(k)").as("sk"))
    val rolled = partials.agg(expr("cms_merge_agg(sk)"))
      .collect().head.getAs[Array[Byte]](0)
    val oneShot = df.agg(expr("cms_sketch_agg(k)"))
      .collect().head.getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(rolled, oneShot),
      "linearity: sum of per-slice sketches == sketch of the union")
  }

  test("cms_merge_agg over zero rows or only null sketches is the default-shape zero sketch") {
    val zero = CountMin.toBytes(
      CountMin.newState(CountMin.DefaultW, CountMin.DefaultD))
    for (from <- Seq("range(0)", "range(3)")) {
      val got = spark.sql(
        s"SELECT cms_merge_agg(CAST(NULL AS BINARY)) FROM $from")
        .collect().head.getAs[Array[Byte]](0)
      assert(java.util.Arrays.equals(got, zero), from)
    }
  }
}
