package graft

import graft.functions.Theta
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Theta-sketch primitives: exact-mode equality, the order/split
  * invariance the oracle gate relies on, set intersection from state
  * alone, and honest estimation-mode error once the nominal-entry
  * budget is exceeded.
  */
class ThetaSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  test("exact mode: estimate IS the distinct count") {
    import spark.implicits._
    val est = (1L to 1000L).map(i => i % 137).toDF("v")
      .select(expr("theta_estimate(theta_sketch_agg(v))").as("e"))
      .collect()(0).getLong(0)
    assert(est == 137L)
  }

  test("sketch bytes are identical under any partitioning and row order") {
    import spark.implicits._
    val vals = (1L to 3000L).map(i => (i * 2654435761L) % 997)
    def bytesOf(parts: Int, seq: Seq[Long]): Seq[Byte] =
      seq.toDF("v").repartition(parts)
        .select(expr("theta_sketch_agg(v)").as("sk"))
        .collect()(0).getAs[Array[Byte]](0).toSeq
    val a = bytesOf(1, vals)
    val b = bytesOf(7, vals.reverse)
    assert(a == b, "compact sketch must be a pure function of the SET")
  }

  test("intersection from sketches equals the exact overlap in exact mode") {
    import spark.implicits._
    // A = multiples of 2 in [0, 2000), B = multiples of 3: |A∩B| = |mult of 6| = 334
    val df = (0L until 2000L).toDF("v")
    val skA = df.filter(col("v") % 2 === 0)
      .select(expr("theta_sketch_agg(v)").as("sk")).collect()(0).getAs[Array[Byte]](0)
    val skB = df.filter(col("v") % 3 === 0)
      .select(expr("theta_sketch_agg(v)").as("sk")).collect()(0).getAs[Array[Byte]](0)
    assert(Theta.intersectEstimate(skA, skB) == 334L)
    assert(Theta.estimate(skA) == 1000L && Theta.estimate(skB) == 667L)
  }

  test("a-not-b from sketches equals the exact difference in exact mode") {
    import spark.implicits._
    // A = multiples of 2 in [0, 2000) (1000), B = multiples of 3 (667):
    // |A\B| = 1000 - 334 = 666, |B\A| = 667 - 334 = 333.
    val df = (0L until 2000L).toDF("v")
    val skA = df.filter(col("v") % 2 === 0)
      .select(expr("theta_sketch_agg(v)").as("sk")).collect()(0).getAs[Array[Byte]](0)
    val skB = df.filter(col("v") % 3 === 0)
      .select(expr("theta_sketch_agg(v)").as("sk")).collect()(0).getAs[Array[Byte]](0)
    assert(Theta.aNotBEstimate(skA, skB) == 666L)
    assert(Theta.aNotBEstimate(skB, skA) == 333L)
  }

  test("union of per-slice partials equals the direct single-pass sketch") {
    import spark.implicits._
    val df = (1L to 5000L).map(i => (i % 10, (i * 31L) % 1200)).toDF("slice", "v")
    val fromPartials = df.groupBy("slice")
      .agg(expr("theta_sketch_agg(v)").as("sk"))
      .select(expr("theta_estimate(theta_union_agg(sk))").as("e"))
      .collect()(0).getLong(0)
    val direct = df.select(expr("theta_estimate(theta_sketch_agg(v))").as("e"))
      .collect()(0).getLong(0)
    assert(fromPartials == direct)
    assert(direct == df.select(countDistinct("v")).collect()(0).getLong(0))
  }

  test("estimation mode: 30k distinct through a 4k-entry sketch lands within 5%") {
    val est = spark.range(30000)
      .select(expr("theta_estimate(theta_sketch_agg(id))").as("e"))
      .collect()(0).getLong(0)
    assert(math.abs(est - 30000L) <= 1500L, s"estimate $est off by >5%")
  }

  test("streamed per-batch state rows answer overlap exactly (3 real micro-batches)") {
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    // Users 0..599 across two types with a known overlap: type A holds
    // even users, type B holds multiples of 3 -> |A∩B| = multiples of
    // 6 in [0, 600) = 100. Staged as THREE files so the file source
    // genuinely runs three micro-batches (maxFilesPerTrigger=1).
    val rows = (0L until 600L).flatMap { u =>
      (if (u % 2 == 0) Seq(("A", u)) else Nil) ++
        (if (u % 3 == 0) Seq(("B", u)) else Nil)
    }
    val root = java.nio.file.Files.createTempDirectory("theta-stream").toString
    rows.zipWithIndex.groupBy(_._2 % 3).foreach { case (slice, rs) =>
      rs.map(_._1).toDF("event_type", "user_id").coalesce(1)
        .write.parquet(s"$root/src/slice$slice")
    }
    val batches = new java.util.concurrent.atomic.AtomicInteger(0)
    val q = spark.readStream
      .schema(spark.read.parquet(s"$root/src/slice0").schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$root/src/*")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, bid: Long) =>
        batch.groupBy("event_type")
          .agg(expr("theta_sketch_agg(user_id)").as("sk"))
          .withColumn("batch_id", lit(bid))
          .write.mode("append").parquet(s"$root/state")
        batches.incrementAndGet()
        ()
      }
      .option("checkpointLocation", s"$root/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(batches.get() >= 3, s"expected >=3 micro-batches, got ${batches.get()}")
    val perType = spark.read.parquet(s"$root/state")
      .groupBy("event_type").agg(expr("theta_union_agg(sk)").as("sk"))
      .collect().map(r => r.getString(0) -> r.getAs[Array[Byte]](1)).toMap
    assert(Theta.estimate(perType("A")) == 300L)
    assert(Theta.estimate(perType("B")) == 200L)
    assert(Theta.intersectEstimate(perType("A"), perType("B")) == 100L)
  }

  test("call-site lgK: exact below each budget, smaller state, unions downsample") {
    import spark.implicits._
    // lgK=4 (16 nominal entries) stays EXACT for 12 distincts, just
    // like the default lgK=12 does — and its compact state is far
    // smaller, the point of dropping lgK on high-cardinality groupBys.
    val small = (1L to 200L).map(_ % 12).toDF("v")
    val r = small.select(
      expr("theta_estimate(theta_sketch_agg(v, 4))").as("e4"),
      expr("theta_estimate(theta_sketch_agg(v))").as("e12"),
      expr("octet_length(theta_sketch_agg(v, 4))").as("b4")).collect()(0)
    assert(r.getLong(0) == 12L && r.getLong(1) == 12L)
    // 3000 distincts: the default budget (4096) is still exact; the
    // 16-entry sketch must estimate — honest error, not silent
    // truncation (theta RSE ~1/sqrt(16) ≈ 25%; assert a loose 3-sigma
    // band to stay deterministic-friendly).
    val big = (1L to 3000L).toDF("v")
    val r2 = big.select(
      expr("theta_estimate(theta_sketch_agg(v, 4))").as("e4"),
      expr("theta_estimate(theta_sketch_agg(v))").as("e12")).collect()(0)
    assert(r2.getLong(1) == 3000L)
    assert(math.abs(r2.getLong(0) - 3000.0) / 3000.0 < 0.75,
      s"lgK=4 estimate wildly off: ${r2.getLong(0)}")
    // theta_union_agg(partials, lgK): merged result re-bounded to the
    // call-site budget — still exact here (10 distincts < 16).
    val parts = (1L to 100L).map(i => (i % 5, i % 10)).toDF("slice", "v")
      .groupBy("slice").agg(expr("theta_sketch_agg(v)").as("sk"))
    val merged = parts
      .select(expr("theta_estimate(theta_union_agg(sk, 4))").as("e"))
      .collect()(0).getLong(0)
    assert(merged == 10L)
  }

  test("string inputs hash like any other type") {
    import spark.implicits._
    val est = Seq("a", "b", "a", "c", "b").toDF("v")
      .select(expr("theta_estimate(theta_sketch_agg(v))").as("e"))
      .collect()(0).getLong(0)
    assert(est == 3L)
  }
}
