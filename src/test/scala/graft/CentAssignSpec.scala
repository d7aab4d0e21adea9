package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

private[graft] case class CentF(cent_id: Long, ce: Array[Float])
private[graft] case class CentD(cent_id: Long, ce: Array[Double])

/** Equivalence contract for the fused centroid-argmin expression: on
  * random vectors it must agree row-for-row with the composed
  * `array_min(transform(cs, struct(metric, cent_id)))` form it
  * replaced — same folds, same Spark `round`, same tiebreak — for
  * both the L2 and cosine metrics and both float and double centroid
  * element types. A planted exact tie checks the cent_id tiebreak.
  */
class CentAssignSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private val rnd = new scala.util.Random(7)
  private def randVec(dim: Int): Array[Float] =
    Array.fill(dim)((rnd.nextDouble() * 2 - 1).toFloat)

  /** Packs centroids exactly like Ivf.packCents: norms via the same
    * sequential aggregate folds, computed in Spark, not in Scala. */
  private def packedDf(vecs: Seq[(Long, Array[Float])], cents: org.apache.spark.sql.DataFrame) = {
    import spark.implicits._
    val normSq = (e: org.apache.spark.sql.Column) =>
      aggregate(transform(e, x => x.cast("double") * x.cast("double")),
        lit(0.0), (acc, x) => acc + x)
    val packed = cents.agg(collect_list(struct(col("cent_id"), col("ce"),
      normSq(col("ce")).as("cn2"), sqrt(normSq(col("ce"))).as("cn"))).as("cs"))
    vecs.toDF("vec_id", "embedding").crossJoin(broadcast(packed))
  }

  private def composedBest(cosine: Boolean) = {
    val dot = (a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =>
      aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
        lit(0.0), (acc, x) => acc + x)
    val vn2 = aggregate(transform(col("embedding"),
      x => x.cast("double") * x.cast("double")), lit(0.0), (acc, x) => acc + x)
    array_min(transform(col("cs"), c => struct(
      (if (cosine)
        lit(0.0) - round(dot(col("embedding"), c.getField("ce")) /
          (sqrt(vn2) * c.getField("cn")), 6)
      else
        round(vn2 - lit(2.0) * dot(col("embedding"), c.getField("ce"))
          + c.getField("cn2"), 6)).as("m"),
      c.getField("cent_id").as("cent_id")))).getField("cent_id")
  }

  private def check(df: org.apache.spark.sql.DataFrame): Unit = {
    for ((fn, cos) <- Seq("cent_argmin_l2" -> false, "cent_argmin_cos" -> true)) {
      val rows = df
        .withColumn("fused", expr(s"$fn(embedding, cs)"))
        .withColumn("composed", composedBest(cos))
        .select("vec_id", "fused", "composed").collect()
      rows.foreach { r =>
        assert(r.getLong(1) == r.getLong(2),
          s"$fn mismatch on vec ${r.getLong(0)}: fused=${r.getLong(1)} composed=${r.getLong(2)}")
      }
      assert(rows.length == df.count())
    }
  }

  test("fused == composed on random vectors, float centroids") {
    import spark.implicits._
    val vecs = (0L until 60L).map(i => i -> randVec(16))
    val cents = (0L until 7L).map(i => CentF(i, randVec(16))).toDF()
    check(packedDf(vecs, cents))
  }

  test("fused == composed on random vectors, double centroids") {
    import spark.implicits._
    val vecs = (0L until 60L).map(i => i -> randVec(16))
    val cents = (0L until 7L)
      .map(i => CentD(i, randVec(16).map(_.toDouble))).toDF()
    check(packedDf(vecs, cents))
  }

  test("NaN metric loses to any real metric (Spark total-order parity)") {
    import spark.implicits._
    val c = randVec(16)
    // Centroid 0 carries a NaN element → NaN dot → NaN metric for both
    // l2 and cos. Spark's struct ordering puts NaN greatest, so the
    // composed array_min picks centroid 1; the fused loop must agree
    // (a naive `<` comparison would let the NaN centroid win whenever
    // it is scanned first).
    val bad = c.clone(); bad(3) = Float.NaN
    val cents = Seq(CentF(0L, bad), CentF(1L, c.map(x => x + 0.5f))).toDF()
    val df = packedDf(Seq(0L -> c), cents)
    val r = df.withColumn("l2", expr("cent_argmin_l2(embedding, cs)"))
      .withColumn("cos", expr("cent_argmin_cos(embedding, cs)"))
      .select("l2", "cos").head()
    assert(r.getLong(0) == 1L && r.getLong(1) == 1L)
    check(df)
  }

  test("exact metric tie resolves to the smallest cent_id") {
    import spark.implicits._
    val c = randVec(16)
    // Centroids 3 and 5 are identical → identical metric; both forms
    // must pick 3. Centroid 9 is far away.
    val cents = Seq(CentF(5L, c), CentF(9L, c.map(x => x + 10.0f)), CentF(3L, c)).toDF()
    val df = packedDf(Seq(0L -> c), cents)
    val r = df.withColumn("l2", expr("cent_argmin_l2(embedding, cs)"))
      .withColumn("cos", expr("cent_argmin_cos(embedding, cs)"))
      .select("l2", "cos").head()
    assert(r.getLong(0) == 3L && r.getLong(1) == 3L)
    check(df)
  }
}
